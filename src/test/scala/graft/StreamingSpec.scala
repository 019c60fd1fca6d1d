package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Structured Streaming verification with MemoryStream: the same transforms
  * run incrementally (streaming) and on batch frames with identical
  * results.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(3600000L + m * 60000L)

  private val fixture = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(65), 1, "view", 3.0),   // next hour window
    Event(4, ts(2), 2, "click", 4.0),
    Event(5, ts(130), 2, "view", 5.0)
  )

  test("windowedRates over a MemoryStream: counts per window x type") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.windowedRates(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("rates")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; advance the clock
      input.addData(Event(99, ts(100000), 9, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("rates")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(out.contains((3600000L, "click", 3L, 7.0)))
      assert(out.contains((3600000L + 3600000L, "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("windowedRates: identical results on the batch path") {
    val batch = Streams.windowedRates(fixture.toDF(), "1 hour", "10 minutes")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2))).toSet
    assert(batch.contains((3600000L, "click", 3L)))
    assert(batch.size === 3)
  }

  test("windowedCalibration: per (window, bin) telemetry over a " +
    "MemoryStream equals the batch path") {
    implicit val sc = spark.sqlContext
    // (ts, label, score): two bin-9 rows and one bin-0 row in hour 1,
    // one bin-5 row in hour 2
    val rows = Seq(
      (ts(0), 1L, 0.95), (ts(5), 0L, 0.99), (ts(8), 0L, 0.05),
      (ts(65), 1L, 0.55))
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Streams.windowedCalibration(
      input.toDF().toDF("ts", "label", "score"), "ts", "label",
      "score", bins = 10)
      .writeStream.format("memory").queryName("calib")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(3600000L + 100000L * 60000L), 0L, 0.5))
      q.processAllAvailable()
      val out = spark.table("calib").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(out.contains((3600000L, 9, 2L, 1L, 1.94)))
      assert(out.contains((3600000L, 0, 1L, 0L, 0.05)))
      assert(out.contains((7200000L, 5, 1L, 1L, 0.55)))
    } finally q.stop()
    // batch path: identical rows from the same transform
    val batch = Streams.windowedCalibration(
      rows.toDF("ts", "label", "score"), "ts", "label", "score",
      bins = 10).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch === Set((3600000L, 9, 2L, 1L, 1.94),
      (3600000L, 0, 1L, 0L, 0.05), (7200000L, 5, 1L, 1L, 0.55)))
    // null-LABEL rows are excluded from n entirely (a null label
    // inflating n would deflate the derived pos_rate = n_pos/n), and
    // null-score rows never bin
    val withNull = Seq[(Timestamp, java.lang.Long, java.lang.Double)](
      (ts(0), 1L, 0.95), (ts(5), null, 0.99), (ts(8), 0L, null))
      .toDF("ts", "label", "score")
    val nb = Streams.windowedCalibration(withNull, "ts", "label",
      "score", bins = 10).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(nb.toSeq === Seq((3600000L, 9, 1L, 1L, 0.95)),
      "only the fully-labeled scored row may count")
  }

  test("windowedQualityGate: per-window kept rate over a MemoryStream " +
    "equals the batch path; a junk burst craters the rate in its own " +
    "window") {
    implicit val sc = spark.sqlContext
    val prose = "the quick brown fox jumps over a lazy dog in the park"
    val junk = "$$$ 4099 2077 !!! @@@ 88 99 ##"
    // hour 1: healthy mix (4 prose, 1 junk); hour 2: junk burst (1/4)
    val rows = Seq(
      (ts(0), prose), (ts(10), prose), (ts(20), junk),
      (ts(30), prose), (ts(40), prose),
      (ts(60), junk), (ts(70), junk), (ts(80), prose), (ts(90), junk))
    val batch = Streams.windowedQualityGate(
      rows.toDF("ts", "text"), "ts", "text")
      .collect().map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(batch(3600000L) === ((5L, 4L, 0.8)))
    assert(batch(7200000L) === ((4L, 1L, 0.25)),
      "the junk burst must crater its own window's kept rate")
    // streaming twin: identical rows from a MemoryStream
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.windowedQualityGate(
      input.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("wqg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), prose))
      q.processAllAvailable()
      val stream = spark.table("wqg").collect()
        .map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("windowedDupRate: within-window duplicate digests per window " +
    "over a MemoryStream equal the batch path; a replayed banner in a " +
    "later window counts fresh (within-window semantics)") {
    implicit val sc = spark.sqlContext
    val a = "alpha beta gamma"
    val b = "delta epsilon"
    val ban = "breaking banner"
    // hour 1: banner twice + a twice + b once -> 5 docs, 3 unique, 2 dup
    // hour 2: banner twice again (counts fresh — the monitor is a
    // per-window rate, not a cross-window dedup) + 2 singletons
    val rows = Seq(
      (ts(0), ban), (ts(10), a), (ts(20), ban), (ts(30), a), (ts(40), b),
      (ts(60), ban), (ts(70), "zeta eta"), (ts(80), ban), (ts(90), "theta"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val batch = collectMap(Streams.windowedDupRate(
      rows.toDF("ts", "text"), "ts", "text"))
    assert(batch(3600000L) === ((5L, 3L, 2L, 0.4)))
    assert(batch(7200000L) === ((4L, 3L, 1L, 0.25)),
      "hour 2's replayed banner must register as a fresh within-window dup")
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.windowedDupRate(
      input.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("wdr")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), a))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wdr"))
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("windowedSpanHitRate: per-window hits against the static span " +
    "index over a MemoryStream equal the batch path; a re-crawl burst " +
    "spikes its own window's hit_rate") {
    implicit val sc = spark.sqlContext
    val blurb = "the quick brown fox"           // shared 4-token span
    val index = graft.ops.Dedup.substringSpanIndex(
      Seq((7L, s"$blurb jumped over one lazy dog"),
        (11L, s"$blurb slept under two tall trees"),
        (13L, "entirely different words live in this third doc"))
        .toDF("doc_id", "text"), "doc_id", "text", k = 4, minDocs = 2)
      .localCheckpoint()
    // hour 1: one re-crawl (1 hit span of 3) + one clean doc (2 spans);
    // hour 2: re-crawl burst — two docs carrying the blurb + "tiny"
    // (shorter than k: contributes NOTHING, the batch screen's rule)
    val rows = Seq(
      (ts(0), 1L, s"now $blurb returns"),
      (ts(10), 2L, "completely novel content here now"),
      (ts(60), 3L, s"again $blurb appears"),
      (ts(70), 4L, s"and $blurb appears twice"),
      (ts(80), 5L, "tiny"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val batch = collectMap(graft.streaming.Streams.windowedSpanHitRate(
      rows.toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      index, k = 4))
    // hour 1: 2 docs, 3+2=5 spans, 1 hit, 1 flagged doc
    assert(batch(3600000L) === ((2L, 5L, 1L, 1L, 0.2)))
    // hour 2: 2 span-bearing docs, 3+4=7 spans, 2 hits, 2 flagged
    assert(batch(7200000L) === ((2L, 7L, 2L, 2L, 0.285714)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.Streams.windowedSpanHitRate(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id",
      "text", index, k = 4)
      .writeStream.format("memory").queryName("wsh")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), 9L,
        "late watermark flush row"))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wsh"))
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("windowedSpanLadderMix: per-(window, rung) hits against the " +
    "static ladder index over a MemoryStream equal the batch path; a " +
    "long-run re-crawl lights the wide rung, short-phrase churn only " +
    "the narrow one") {
    implicit val sc = spark.sqlContext
    // two index docs share a 6-token run -> rungs 4 AND 6 qualify on
    // its windows; a third doc shares only a 4-token phrase -> rung 4
    val run = "alpha beta gamma delta epsilon zeta"
    val phrase = "one two three four"
    val index = graft.ops.Dedup.substringLadderIndex(
      Seq((7L, s"$run seven unique tail words here"),
        (11L, s"$run other entirely distinct endings now"),
        (13L, s"$phrase ninth tenth eleventh twelfth"),
        (17L, s"$phrase closing with different filler words"))
        .toDF("doc_id", "text"), "doc_id", "text", ks = Seq(4, 6),
      minDocs = 2).localCheckpoint()
    // hour 1: a doc re-crawling the 6-token run (hits at BOTH rungs)
    // + a clean doc; hour 2: a doc carrying only the short phrase
    // (hits ONLY rung 4)
    val rows = Seq(
      (ts(0), 1L, s"prefix $run suffix words"),
      (ts(10), 2L, "completely novel content streaming through here now"),
      (ts(60), 3L, s"just $phrase extra tail"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    val batch = collectMap(
      graft.streaming.Streams.windowedSpanLadderMix(
        rows.toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
        index, ks = Seq(4, 6)))
    // hour 1, rung 4: doc1 has 6 spans of width 4, 3 inside the run
    // hit; doc2 has 4 clean spans -> 2 docs, 10 spans, 3 hits, 1 flagged
    assert(batch((3600000L, 4)) === ((2L, 10L, 3L, 1L, 0.3)))
    // hour 1, rung 6: doc1 has 4 spans of width 6, 1 hit (the run
    // itself); doc2 has 2 -> 2 docs, 6 spans, 1 hit, 1 flagged
    assert(batch((3600000L, 6)) === ((2L, 6L, 1L, 1L, 0.166667)))
    // hour 2: the short-phrase doc hits rung 4 only
    assert(batch((7200000L, 4)) === ((1L, 4L, 1L, 1L, 0.25)))
    assert(batch((7200000L, 6))._3 === 0L,
      "the 4-token phrase must NOT light the 6-wide rung")
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.Streams.windowedSpanLadderMix(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id",
      "text", index, ks = Seq(4, 6))
      .writeStream.format("memory").queryName("wsl")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), 9L,
        "late watermark flush row"))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wsl"))
      assert(stream((3600000L, 4)) === batch((3600000L, 4)))
      assert(stream((3600000L, 6)) === batch((3600000L, 6)))
      assert(stream((7200000L, 4)) === batch((7200000L, 4)))
    } finally q.stop()
  }

  test("windowedTokenizerFertility: per-window fertility under the " +
    "published vocab over a MemoryStream equals the batch path; an " +
    "unknown character becomes its own unk-floored token") {
    implicit val sc = spark.sqlContext
    // vocab: chars a/b + piece 'ab' -> 'ab' segments as ONE token;
    // 'z' is OOV and must fall to the unk floor as its own token
    val vocab = Seq(("a", 10L, -1.0), ("b", 10L, -1.0),
      ("ab", 5L, -1.5)).toDF("piece", "cnt", "lp").localCheckpoint()
    // hour 1: "ab ab a" -> words 3, tokens 1+1+1 = 3, chars 5;
    // hour 2: "abz b" -> 'abz' = ab + unk(z) = 2 tokens, 'b' = 1
    val rows = Seq(
      (ts(0), 1L, "ab ab a"),
      (ts(10), 2L, "b a"),
      (ts(60), 3L, "abz b"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val batch = collectMap(
      graft.streaming.Streams.windowedTokenizerFertility(
        rows.toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
        vocab))
    // hour 1: 2 docs, 5 words, 5 tokens (ab=1 each), 7 chars
    assert(batch(3600000L) === ((2L, 5L, 5L, 7L, 1.0, 1.4)))
    // hour 2: 1 doc, 2 words, 'abz' -> ab + z(unk) = 2 tok + 'b' = 3
    assert(batch(7200000L) === ((1L, 2L, 3L, 4L, 1.5, 1.333333)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.Streams.windowedTokenizerFertility(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id",
      "text", vocab)
      .writeStream.format("memory").queryName("wtf")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), 9L,
        "late watermark flush row"))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wtf"))
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("windowedLmDepthMix: per-window backoff-rung mix against the " +
    "published LM index over a MemoryStream equals the batch path; a " +
    "verbatim re-crawl burst spikes its window's deep share") {
    implicit val sc = spark.sqlContext
    val index = graft.ops.Text.lmCountIndex(
      Seq("a b c d e f", "g h i j k").toDF("text"), "text")
      .localCheckpoint()
    // hour 1: one verbatim train 5-gram (depth 5) + one fully novel doc
    // (all rungs miss -> base); hour 2: re-crawl burst (two verbatim
    // docs) + a 4-token doc (no 5-grams: excluded, the batch rule)
    val rows = Seq(
      (ts(0), 1L, "a b c d e"),
      (ts(10), 2L, "v w x y z"),
      (ts(60), 3L, "a b c d e f"),
      (ts(70), 4L, "b c d e f"),
      (ts(80), 5L, "too short doc here"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val batch = collectMap(Streams.windowedLmDepthMix(
      rows.toDF("ts", "doc_id", "text"), "ts", "doc_id", "text", index))
    // hour 1: 2 docs, 1+1 grams, 1 deep hit, 1 base miss
    assert(batch(3600000L) === ((2L, 2L, 1L, 1L, 0.5, 0.5)))
    // hour 2: 2 scored docs (the 4-token doc carries no 5-gram),
    // 2+1=3 grams, all deep, none base
    assert(batch(7200000L) === ((2L, 3L, 3L, 0L, 1.0, 0.0)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.windowedLmDepthMix(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id",
      "text", index)
      .writeStream.format("memory").queryName("wlmd")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), 9L,
        "late watermark flush row"))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wlmd"))
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("windowedLangMix: per-window language shares over a MemoryStream " +
    "equal the batch path; every window emits all six labels with " +
    "zeros included") {
    implicit val sc = spark.sqlContext
    val en = "the train leaves the station at nine and arrives in the evening"
    val fr = "le train quitte la gare à neuf heures et arrive dans la soirée"
    val de = "der zug verlässt den bahnhof um neun und kommt am abend an"
    // hour 1: 2 en + 1 fr; hour 2: 1 de + 1 short unknown
    val rows = Seq(
      (ts(0), en), (ts(10), fr), (ts(20), en),
      (ts(60), de), (ts(70), "xq"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val batch = collectMap(Streams.windowedLangMix(
      rows.toDF("ts", "text"), "ts", "text"))
    assert(batch.size === 12, "two windows x six labels, zeros included")
    assert(batch((3600000L, "en")) === ((2L, 3L, 0.666667)))
    assert(batch((3600000L, "fr")) === ((1L, 3L, 0.333333)))
    assert(batch((3600000L, "de")) === ((0L, 3L, 0.0)))
    assert(batch((7200000L, "de")) === ((1L, 2L, 0.5)))
    assert(batch((7200000L, "unknown")) === ((1L, 2L, 0.5)))
    assert(batch((7200000L, "zh")) === ((0L, 2L, 0.0)))
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.windowedLangMix(
      input.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("wlm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), en))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wlm"))
      batch.keys.foreach { k =>
        assert(stream(k) === batch(k), s"window/lang $k")
      }
    } finally q.stop()
  }

  test("windowedDamageRate: per-window damage counts over a " +
    "MemoryStream equal the batch path; tab/newline never count as " +
    "damage") {
    implicit val sc = spark.sqlContext
    // hour 1: one clean, one replacement-char doc (10 chars each)
    // hour 2: one control-char doc, one clean with tab/newline
    val rows = Seq(
      (ts(0), "clean text"), (ts(10), "bad \uFFFD here"),
      (ts(60), "ctl \u0007\u0001 hit"), (ts(70), "ok\tnl\nfine"))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val batch = collectMap(Streams.windowedDamageRate(
      rows.toDF("ts", "text"), "ts", "text"))
    assert(batch(3600000L)._1 === 2L)
    assert(batch(3600000L)._2 === 1L)
    assert(batch(3600000L)._3 === 0.5)
    assert(batch(3600000L)._4 === 50.0,
      "1 replacement char over 20 chars = 50 per kilochar")
    assert(batch(7200000L)._2 === 1L)
    assert(batch(7200000L)._5 === 100.0,
      "2 control chars over 20 chars = 100 per kilochar; tab/newline " +
        "are not damage")
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.windowedDamageRate(
      input.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("wdmg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), "later"))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wdmg"))
      batch.keys.foreach(k => assert(stream(k) === batch(k), s"win $k"))
    } finally q.stop()
  }

  test("windowedLengthMix: per-window length-bucket mix over a " +
    "MemoryStream equals the batch path; every window emits all four " +
    "buckets with zeros included") {
    implicit val sc = spark.sqlContext
    def doc(n: Int) = List.fill(n)("w").mkString(" ")
    // hour 1: two 10-token docs + one 300-token doc
    // hour 2: one 70-token + one 1500-token
    val rows = Seq(
      (ts(0), doc(10)), (ts(10), doc(10)), (ts(20), doc(300)),
      (ts(60), doc(70)), (ts(70), doc(1500)))
    def collectMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    val batch = collectMap(Streams.windowedLengthMix(
      rows.toDF("ts", "text"), "ts", "text"))
    assert(batch.size === 8, "two windows x four buckets")
    assert(batch((3600000L, "1_lt64")) ===
      ((2L, 20L, 3L, 320L, 0.666667, 0.0625)))
    assert(batch((3600000L, "3_lt1024")) ===
      ((1L, 300L, 3L, 320L, 0.333333, 0.9375)))
    assert(batch((3600000L, "4_ge1024"))._1 === 0L)
    assert(batch((7200000L, "2_lt256")) ===
      ((1L, 70L, 2L, 1570L, 0.5, 0.044586)))
    assert(batch((7200000L, "4_ge1024"))._1 === 1L)
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.windowedLengthMix(
      input.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("wlenm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), doc(5)))
      q.processAllAvailable()
      val stream = collectMap(spark.table("wlenm"))
      batch.keys.foreach { k =>
        assert(stream(k) === batch(k), s"window/bucket $k")
      }
    } finally q.stop()
  }

  test("windowedPsi: per-window PSI vs the pinned baseline over a " +
    "MemoryStream equals the batch path; a matching window scores " +
    "near 0 and a shifted one high") {
    implicit val sc = spark.sqlContext
    // baseline 4 bins over [0, 40): heavy-low reference
    val base = Seq(10L, 5L, 3L, 2L)
    // hour 1 roughly matches the reference mix; hour 2 is all-top-bin
    val rows =
      (1 to 10).map(i => (ts(i), 1.0)) ++ (1 to 5).map(i => (ts(10 + i), 11.0)) ++
        (1 to 3).map(i => (ts(20 + i), 21.0)) ++ Seq((ts(30), 31.0)) ++
        (1 to 8).map(i => (ts(60 + i), 35.0))
    val batch = graft.streaming.Streams.windowedPsi(
      rows.toDF("ts", "value"), "ts", "value", base, 0.0, 40.0)
      .collect().map(r => r.getTimestamp(0).getTime ->
        (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(batch(3600000L)._1 === 19L && batch(7200000L)._1 === 8L)
    assert(batch(3600000L)._2 < 0.05,
      "a window matching the reference mix must score near zero")
    assert(batch(7200000L)._2 > 1.0,
      "an all-top-bin window is a loud drift signal")
    assert(batch(7200000L)._3 === 3, "the drifted bin is named")
    // streaming twin: identical rows from a MemoryStream
    val input = MemoryStream[(Timestamp, Double)]
    val q = graft.streaming.Streams.windowedPsi(
      input.toDF().toDF("ts", "value"), "ts", "value", base, 0.0, 40.0)
      .writeStream.format("memory").queryName("wpsi")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L * 60000L), 5.0))
      q.processAllAvailable()
      val stream = spark.table("wpsi").collect()
        .map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
      assert(stream(3600000L) === batch(3600000L))
      assert(stream(7200000L) === batch(7200000L))
    } finally q.stop()
  }

  test("hoppingRates: every event lands in window/slide overlapping " +
    "windows; streaming run equals the batch path") {
    implicit val sc = spark.sqlContext
    // batch path: fixture events at minute 0/2/5 of hour 1 fall in BOTH
    // the [0:30,1:30) and [1:00,2:00) windows
    val batch = Streams.hoppingRates(fixture.toDF(), "1 hour", "30 minutes")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2))).toSet
    assert(batch.contains((1800000L, "click", 3L)))  // 0:30 window
    assert(batch.contains((3600000L, "click", 3L)))  // 1:00 window
    val input = MemoryStream[Event]
    val q = Streams.hoppingRates(input.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("hop")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      input.addData(Event(99, ts(100000), 9, "click", 0.0))
      q.processAllAvailable()
      val stream = spark.table("hop")
        .select("window_start", "event_type", "n_events")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2))).toSet
      // every watermark-closed window the stream emitted matches batch
      assert(stream.subsetOf(batch))
      assert(stream.contains((1800000L, "click", 3L)) &&
        stream.contains((3600000L, "click", 3L)))
    } finally q.stop()
  }

  test("sessionize: gap splits sessions, state accumulates within gap") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapMs = 10 * 60000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(fixture: _*)
      // poll rather than processAllAvailable(): a scheduled state timeout
      // can keep processAllAvailable from returning promptly
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sessions").count() < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val closed = spark.table("sessions").as[Streams.Session].collect()
      // user 1: events at 0,5 then 65. Session [0,5] closes when event 65
      // arrives beyond the gap; session [65] closes via the EVENT-TIME
      // timeout once the watermark (max ts 130 − 10min = 120) passes
      // 65 + gap = 75.
      val u1 = closed.filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(u1.length === 2)
      assert(u1.head.n_events === 2 && u1.head.total_value === 3.0)
      assert(u1(1).n_events === 1 && u1(1).total_value === 3.0)
      // user 2: session [2] closed by the event at 130; session [130] stays
      // open (timeout 140 > watermark 120)
      val u2 = closed.filter(_.user_id == 2)
      assert(u2.length === 1 && u2.head.n_events === 1)
    } finally q.stop()
  }

  test("openSessions accounts for the tail sessions in batch mode") {
    val open = Streams.openSessions(fixture.toDS(), 10 * 60000L).collect()
    assert(open.length === 2) // one open session per user
    assert(open.find(_.user_id == 1).get.n_events === 1) // event 3
  }

  test("sessionCounts window twin == stateful sessionize + open tails") {
    val gap = 10 * 60000L
    val ds = fixture.toDS()
    // batch flatMapGroupsWithState emits gap-closed sessions; openSessions
    // adds the per-key tails — together the complete session set
    val stateful = (Streams.sessionize(ds, gap).collect() ++
      Streams.openSessions(ds, gap).collect())
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events, s.total_value)).toSet
    val twin = Streams.sessionCounts(fixture.toDF(), gap).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getLong(4), r.getDouble(5))).toSet
    assert(twin === stateful)
  }

  import StreamingSpec.Doc

  test("streamingExactDedup: within-watermark duplicates suppressed, " +
    "first occurrence emitted once; batch twin agrees") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = Streams.streamingExactDedup(input.toDF(), "ts", "text",
      "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Doc(1, ts(0), "alpha beta"),
        Doc(2, ts(1), "gamma delta"),
        Doc(3, ts(2), "alpha beta"))   // dup of 1, same microbatch
      q.processAllAvailable()
      input.addData(
        Doc(4, ts(3), "alpha beta"),   // dup of 1, later microbatch
        Doc(5, ts(4), "epsilon"))
      q.processAllAvailable()
      val texts = spark.table("dedup").select("text")
        .as[String].collect().toSeq
      assert(texts.sorted === Seq("alpha beta", "epsilon", "gamma delta"))
      // batch twin: same distinct-content cardinality on the full replay
      val batch = Streams.streamingExactDedup(
        Seq(Doc(1, ts(0), "alpha beta"), Doc(2, ts(1), "gamma delta"),
          Doc(3, ts(2), "alpha beta"), Doc(4, ts(3), "alpha beta"),
          Doc(5, ts(4), "epsilon")).toDF(), "ts", "text")
      assert(batch.count() === 3)
    } finally q.stop()
  }

  test("streamingContamination: stream-static semi-join tags eval hits, " +
    "stateless — batch twin counts match Dedup.decontaminate") {
    implicit val sc = spark.sqlContext
    val evalSh = graft.ops.Dedup.shingles(
      Seq((9L, "x y alpha beta gamma z")).toDF("doc_id", "text"),
      "doc_id", "text", 3).select("shingle").distinct()
    val input = MemoryStream[Doc]
    val q = Streams.streamingContamination(input.toDF(), "doc_id", "text",
      evalSh, 3)
      .writeStream.format("memory").queryName("contam")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Doc(1, ts(0), "alpha beta gamma delta"), // shares "alpha beta gamma"
        Doc(2, ts(1), "epsilon zeta eta theta")) // clean
      q.processAllAvailable()
      val hits = spark.table("contam").select("doc_id", "shingle")
        .as[(Long, String)].collect().toSet
      assert(hits === Set((1L, "alpha beta gamma")))
      // batch twin: the per-id hit counts are decontaminate's n_shared
      val batchTwin = Streams.streamingContamination(
        Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
          .toDF("doc_id", "text"), "doc_id", "text", evalSh, 3)
        .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      assert(batchTwin === Map(1L -> 1L))
    } finally q.stop()
  }

  test("streamingMinhashScreen: per-micro-batch screen against the static " +
    "signature index equals the batch op") {
    implicit val sc = spark.sqlContext
    val index = graft.ops.Dedup.minhashSignatures(
      Seq((7L, "a b c d e f g h i j"), (11L, "z y x w v u t s r q"))
        .toDF("doc_id", "text"), "doc_id", "text", 3, 32)
      .localCheckpoint()
    val input = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val q = Streams.streamingMinhashScreen(input.toDF(), index,
      "doc_id", "text", 3, 32, 8, 0.75,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }).start()
    try {
      input.addData(Doc(5, ts(0), "a b c d e f g h i j"))  // dup of 7
      q.processAllAvailable()
      input.addData(Doc(10, ts(1), "completely novel content here now"))
      q.processAllAvailable()
      assert(got.toSeq === Seq((5L, 7L, 1.0)))
      // batch twin on the union replay: identical decision
      val batch = graft.ops.Dedup.minhashLshPairsAgainstIndex(
        Seq((5L, "a b c d e f g h i j"),
          (10L, "completely novel content here now"))
          .toDF("doc_id", "text"),
        index, "doc_id", "text", 3, 32, 8, 0.75)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streamingSubstringScreen: per-micro-batch span screen against " +
    "the static digest index equals the batch op") {
    implicit val sc = spark.sqlContext
    // index corpus: the same 4-token blurb opens two docs, so its
    // rolling digests qualify (minDocs = 2); everything else is unique
    val index = graft.ops.Dedup.substringSpanIndex(
      Seq((7L, "the quick brown fox jumped over one lazy dog"),
        (11L, "the quick brown fox slept under two tall trees"),
        (13L, "entirely different words live in this third doc"))
        .toDF("doc_id", "text"), "doc_id", "text", k = 4, minDocs = 2)
      .localCheckpoint()
    val input = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    val q = Streams.streamingSubstringScreen(input.toDF(), index,
      "doc_id", "text", 4,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
      }).start()
    try {
      // carries the shared 4-token blurb -> exactly one hit span
      input.addData(Doc(5, ts(0), "now the quick brown fox returns"))
      q.processAllAvailable()
      input.addData(Doc(10, ts(1), "completely novel content here now"))
      q.processAllAvailable()
      assert(got.toSeq === Seq((5L, 6L, 3L, 1L, 4L)))
      // batch twin on the union replay: identical decision
      val batch = graft.ops.Dedup.substringScreenAgainstIndex(
        Seq((5L, "now the quick brown fox returns"),
          (10L, "completely novel content here now"))
          .toDF("doc_id", "text"),
        index, "doc_id", "text", k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streamingDriftScreen: per-micro-batch PSI against the static " +
    "reference equals the batch op, drift direction visible") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Measure
    // static reference: uniform [0, 10)
    val reference = Seq.tabulate(100)(i => i / 10.0).toDF("v")
      .localCheckpoint()
    val input = MemoryStream[Measure]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Streams.streamingDriftScreen(input.toDF(), reference, "v",
      0.0, 10.0, 5,
      (m, id) => got.synchronized {
        got += ((id, m.select("psi").head.getDouble(0)))
      }).start()
    try {
      // batch 0 mirrors the reference; batch 1 is wholesale-shifted
      val calm = Seq.tabulate(100)(i => Measure(i / 10.0))
      val shifted = Seq.tabulate(100)(i => Measure(5.0 + i / 20.0))
      input.addData(calm: _*)
      q.processAllAvailable()
      input.addData(shifted: _*)
      q.processAllAvailable()
      val byBatch = got.toMap
      assert(byBatch(0L) === 0.0, "identical distribution must score 0")
      assert(byBatch(1L) > 0.5, "a wholesale shift must register")
      // batch twin on the same slices: identical numbers
      val b1 = graft.ops.Drift.psiDrift(
        shifted.map(_.v).toDF("v"), reference, "v", 0.0, 10.0, 5)
        .select("psi").head.getDouble(0)
      assert(b1 === byBatch(1L))
    } finally q.stop()
  }

  test("streamingAsofEnrich: per-micro-batch as-of against the static " +
    "right side equals the batch op row-for-row") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Tick
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // static right side: two keys, two state versions each
    val right = Seq(
      (1L, t("2024-01-01 09:00:00"), 100L, 1.0),
      (1L, t("2024-01-01 12:00:00"), 101L, 2.0),
      (2L, t("2024-01-01 10:00:00"), 200L, 9.0)
    ).toDF("k", "rt", "rid", "state").localCheckpoint()
    val input = MemoryStream[Tick]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Any)]
    val q = Streams.streamingAsofEnrich(input.toDF(), right,
      leftKey = "k", rightKey = "k", leftTime = "lt", rightTime = "rt",
      payload = Seq("rid", "state"), tiebreak = "rid",
      (df, _) => got.synchronized {
        got ++= df.orderBy("tick_id").collect().map(r =>
          (r.getLong(r.fieldIndex("tick_id")), r.getLong(r.fieldIndex("k")),
            if (r.isNullAt(r.fieldIndex("asof_rid"))) null
            else r.getLong(r.fieldIndex("asof_rid"))))
      }).start()
    try {
      val ticks = Seq(
        Tick(1L, 1L, t("2024-01-01 08:00:00")), // before all -> NULL
        Tick(2L, 1L, t("2024-01-01 10:00:00")), // -> 100
        Tick(3L, 1L, t("2024-01-01 13:00:00")), // -> 101
        Tick(4L, 2L, t("2024-01-01 11:00:00"))) // -> 200
      input.addData(ticks: _*)
      q.processAllAvailable()
      assert(got.sortBy(_._1).toList === List(
        (1L, 1L, null), (2L, 1L, 100L), (3L, 1L, 101L), (4L, 2L, 200L)))
      // batch twin on the same slice: identical rows
      val batchTwin = graft.ops.Temporal.asofJoin(
        ticks.toDF(), right, "k", "k", "lt", "rt",
        Seq("rid", "state"), "rid")
        .orderBy("tick_id").collect().map(r =>
          (r.getLong(r.fieldIndex("tick_id")),
            if (r.isNullAt(r.fieldIndex("asof_rid"))) null
            else r.getLong(r.fieldIndex("asof_rid"))))
      assert(batchTwin.toList ===
        got.sortBy(_._1).map(x => (x._1, x._3)).toList)
    } finally q.stop()
  }

  test("streamingBm25Screen: per-micro-batch scoring against the frozen " +
    "profile equals the batch op; sub-threshold docs drop") {
    implicit val sc = spark.sqlContext
    val corpus = Seq((1L, "apple banana cherry"),
      (2L, "apple apple filler filler"), (3L, "kiwi melon plum"),
      (4L, "banana banana apple")).toDF("doc_id", "text")
    val profile = graft.ops.Text.bm25Profile(corpus, "doc_id", "text",
      Seq("apple", "banana")).localCheckpoint()
    val input = MemoryStream[Doc]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Int)]
    val q = Streams.streamingBm25Screen(input.toDF(), profile,
      "doc_id", "text", minScore = 0.1,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getInt(2)))
      }).start()
    try {
      input.addData(Doc(50, ts(0), "apple banana fresh"))
      q.processAllAvailable()
      input.addData(Doc(51, ts(1), "nothing relevant here"),
        Doc(52, ts(2), "banana apple apple"))
      q.processAllAvailable()
      // doc 51 has zero profile terms → never scored
      assert(got.map(_._1).sorted === Seq(50L, 52L))
      // batch twin on the union replay: identical scores
      val batch = graft.ops.Text.bm25ScoreAgainstProfile(
        Seq((50L, "apple banana fresh"), (51L, "nothing relevant here"),
          (52L, "banana apple apple")).toDF("doc_id", "text"),
        "doc_id", "text", profile, minScore = 0.1)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      assert(batch.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
    } finally q.stop()
  }
  test("streamingModelScore: per-micro-batch scoring against the frozen " +
    "stump model equals the batch op") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Feat
    // train a tiny model offline (the parameter-table artifact)
    val train = Seq((0.0, 1.0, 9.0), (0.0, 1.0, 9.0),
      (4.0, 2.0, 8.0), (4.0, 2.0, 8.0)).toDF("y", "fa", "fb")
    val model = graft.ops.Models.boostedStumps(train, "y", Seq("fa", "fb"),
      rounds = 2, lr = 0.5).localCheckpoint()
    val input = MemoryStream[Feat]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Streams.streamingModelScore(input.toDF(), Seq("fa", "fb"),
      model, 0.5,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getAs[Long]("row_id"), r.getAs[Double]("prediction")))
      }).start()
    try {
      input.addData(Feat(1, 1.0, 9.0))
      q.processAllAvailable()
      input.addData(Feat(2, 2.0, 8.0), Feat(3, 1.5, 8.5))
      q.processAllAvailable()
      val batch = graft.ops.Models.scoreStumps(
        Seq((1L, 1.0, 9.0), (2L, 2.0, 8.0), (3L, 1.5, 8.5))
          .toDF("row_id", "fa", "fb"),
        Seq("fa", "fb"), model, lr = 0.5)
        .collect().map(r => (r.getAs[Long]("row_id"),
          r.getAs[Double]("prediction")))
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
      // the two training clusters really separate
      val byId = got.toMap
      assert(byId(2L) > byId(1L))
    } finally q.stop()
  }

  test("streamingEmbDecontaminate: per-micro-batch semantic screen " +
    "against the frozen eval set equals the batch op") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Emb
    val eval_ = Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val input = MemoryStream[Emb]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val q = Streams.streamingEmbDecontaminate(input.toDF(), eval_,
      "vec_id", "embedding", threshold = 0.9, tables = 8, planes = 2,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }).start()
    try {
      input.addData(Emb(1, Seq(1.0f, 0.05f, 0.0f, 0.0f)))
      q.processAllAvailable()
      input.addData(Emb(2, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
        Emb(3, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      // near-parallel vectors flag against eval 100; orthogonal passes
      assert(got.map(_._1).sorted === Seq(1L, 2L))
      val batch = graft.ops.Dedup.decontaminateByEmbedding(
        Seq((1L, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
          (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
          (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"),
        eval_, "vec_id", "embedding", 0.9, 8, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(batch.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
    } finally q.stop()
  }

  test("intervalJoin stream-stream: same-key pairs within the lag window " +
    "only, late-beyond-watermark rows drop, batch twin identical") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Tick
    val lIn = MemoryStream[Tick]
    val rIn = MemoryStream[Tick]
    val joined = Streams.intervalJoin(lIn.toDF(), rIn.toDF(),
      "k", "lt", "lt", lagSec = 30, watermarkSec = 60)
      .select(col("l_tick_id"), col("r_tick_id"))
    val q = joined.writeStream.format("memory").queryName("ssij")
      .outputMode("append").start()
    try {
      def t(sec: Int) = new Timestamp(1000000000L + sec * 1000L)
      // left at t=100; right at t=80 (within 30s lag), t=69 (outside),
      // t=110 (after left — excluded), different key at t=90 (excluded)
      lIn.addData(Tick(1, 7L, t(100)))
      rIn.addData(Tick(10, 7L, t(80)), Tick(11, 7L, t(69)),
        Tick(12, 7L, t(110)), Tick(13, 8L, t(90)))
      q.processAllAvailable()
      // push watermarks forward so results emit
      lIn.addData(Tick(2, 99L, t(300)))
      rIn.addData(Tick(14, 99L, t(300)))
      q.processAllAvailable()
      val got = spark.table("ssij").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 10L)))
      assert(!got.exists(_._2 == 11L) && !got.exists(_._2 == 12L) &&
        !got.exists(_._2 == 13L))
      // batch twin: identical pairs from the same function on static data
      val lb = Seq(Tick(1, 7L, t(100)), Tick(2, 99L, t(300))).toDF()
      val rb = Seq(Tick(10, 7L, t(80)), Tick(11, 7L, t(69)),
        Tick(12, 7L, t(110)), Tick(13, 8L, t(90)),
        Tick(14, 99L, t(300))).toDF()
      val batch = Streams.intervalJoin(lb, rb, "k", "lt", "lt", 30, 60)
        .select(col("l_tick_id"), col("r_tick_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("firstSeen: one row per user, emitted on the first micro-batch " +
    "the user appears in; repeats stay silent; batch twin agrees") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.firstSeen(input.toDS())
      .writeStream.format("memory").queryName("first_seen")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: users 1, 2 (user 1 twice — ts/id-least must win)
      input.addData(
        Event(2, ts(5), 1, "click", 1.0),
        Event(1, ts(0), 1, "click", 1.0),
        Event(3, ts(2), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 2: user 1 again (no re-emission) + new user 3
      input.addData(
        Event(4, ts(60), 1, "view", 1.0),
        Event(5, ts(61), 3, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("first_seen").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(got === Set((1L, ts(0)), (2L, ts(2)), (3L, ts(61))))
      // batch-mode degradation: one row per user at the (ts, id) min —
      // identical to the streaming output for this in-order feed
      val batch = Streams.firstSeen(
        (fixtureFirstSeen ++ Seq(Event(4, ts(60), 1, "view", 1.0),
          Event(5, ts(61), 3, "click", 1.0))).toDS())
        .collect().map(r => (r.user_id, r.first_ts)).toSet
      assert(batch === got)
    } finally q.stop()
  }

  private val fixtureFirstSeen = Seq(
    Event(2, ts(5), 1, "click", 1.0),
    Event(1, ts(0), 1, "click", 1.0),
    Event(3, ts(2), 2, "view", 1.0))

  test("streamingConformalAlert: only out-of-band observations flow, " +
    "equal to the batch outlier filter") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Measure2
    // fit intervals on a ladder series: residuals 2..10, q_hat = 9
    // around last value 55 -> band [46, 64]
    val vals = (1 to 10).scanLeft(0.0)(_ + _).tail
    val hist = vals.zipWithIndex.map { case (v, i) =>
      ("a", java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), v) }
      .toDF("k", "d", "v")
    val intervals = graft.ops.Windows.conformalInterval(hist, "k", "d",
      "v", alpha = 0.25).localCheckpoint()
    val input = MemoryStream[Measure2]
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val q = Streams.streamingConformalAlert(input.toDF(), intervals,
      "k", "v",
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getAs[String]("k"), r.getAs[Double]("v")))
      }).start()
    try {
      input.addData(Measure2("a", 50.0), Measure2("a", 70.0))
      q.processAllAvailable()
      input.addData(Measure2("a", 40.0), Measure2("a", 64.0))
      q.processAllAvailable()
      assert(got.map(_._2).sorted.toSeq === Seq(40.0, 70.0),
        "only the out-of-band observations alert; 50 and 64 are inside")
      val batch = Streams.conformalOutliers(
        Seq(("a", 50.0), ("a", 70.0), ("a", 40.0), ("a", 64.0))
          .toDF("k", "v"), intervals, "k", "v")
        .collect().map(r => r.getAs[Double]("v")).sorted.toSeq
      assert(batch === got.map(_._2).sorted.toSeq)
    } finally q.stop()
  }

  test("streamingTrees2Score: per-micro-batch scoring against the " +
    "frozen depth-2 tree model equals the batch op") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Feat
    val train = Seq((0.0, 1.0, 1.0), (0.0, 1.0, 1.0), (4.0, 1.0, 2.0),
      (4.0, 2.0, 1.0), (0.0, 2.0, 2.0), (0.0, 2.0, 2.0))
      .toDF("y", "fa", "fb")
    val model = graft.ops.Models.boostedTrees2(train, "y",
      Seq("fa", "fb"), rounds = 1, lr = 1.0).localCheckpoint()
    val input = MemoryStream[Feat]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Streams.streamingTrees2Score(input.toDF(), Seq("fa", "fb"),
      model, 1.0,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getAs[Long]("row_id"), r.getAs[Double]("prediction")))
      }).start()
    try {
      input.addData(Feat(1, 1.0, 1.0), Feat(2, 1.0, 2.0))
      q.processAllAvailable()
      input.addData(Feat(3, 2.0, 1.0), Feat(4, 2.0, 2.0))
      q.processAllAvailable()
      val batch = graft.ops.Models.scoreTrees2(
        Seq((1L, 1.0, 1.0), (2L, 1.0, 2.0), (3L, 2.0, 1.0),
          (4L, 2.0, 2.0)).toDF("row_id", "fa", "fb"),
        Seq("fa", "fb"), model, lr = 1.0)
        .collect().map(r => (r.getAs[Long]("row_id"),
          r.getAs[Double]("prediction")))
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
      // the XOR structure really came through: the diagonal pairs agree
      val byId = got.toMap
      assert(byId(2L) === byId(3L) && byId(1L) === byId(4L))
      assert(byId(2L) > byId(1L))
    } finally q.stop()
  }

  test("streamingAlsScore: micro-batch pair scoring against PUBLISHED " +
    "factor frames equals the batch op; cold items score NULL") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.UserItem
    val inter = Seq((1L, 10L, 2.0), (1L, 20L, 3.0), (2L, 10L, 4.0),
      (2L, 20L, 6.0), (3L, 10L, 8.0), (3L, 20L, 12.0))
      .toDF("u", "i", "r")
    val (pf0, qf0) = graft.ops.Models.alsFactors(inter, "u", "i", "r")
    // publish: the factors round-trip parquet, serving reads artifacts
    val dir = tempDir("als").toString
    pf0.write.parquet(s"$dir/p"); qf0.write.parquet(s"$dir/q")
    val pf = spark.read.parquet(s"$dir/p")
    val qf = spark.read.parquet(s"$dir/q")
    val input = MemoryStream[UserItem]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Double])]
    val q = Streams.streamingAlsScore(input.toDF(), "u", "i", pf, qf,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r => (r.getAs[Long]("row_id"),
          Option(r.getAs[java.lang.Double]("score"))
            .map(_.doubleValue)))
      }).start()
    try {
      input.addData(UserItem(1, 1L, 20L), UserItem(2, 3L, 10L))
      q.processAllAvailable()
      input.addData(UserItem(3, 2L, 99L)) // cold item
      q.processAllAvailable()
      val batch = graft.ops.Models.scoreAlsPairs(
        Seq((1L, 1L, 20L), (2L, 3L, 10L), (3L, 2L, 99L))
          .toDF("row_id", "u", "i"), "u", "i", pf, qf)
        .collect().map(r => (r.getAs[Long]("row_id"),
          Option(r.getAs[java.lang.Double]("score"))
            .map(_.doubleValue))).toSeq
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1))
      val byId = got.toMap
      assert(byId(3L).isEmpty, "cold item must score NULL, not drop")
      // the rank-1 structure survives serving: r(3,10) = 4*r(1,10)-ish
      assert(byId(2L).get > byId(1L).get)
    } finally q.stop()
  }

  test("streamingPqScore: micro-batch ANN serving against the PERSISTED " +
    "IVF-PQ index (parquet round-trip) equals the batch query") {
    implicit val sc = spark.sqlContext
    import StreamingSpec.Emb
    val emb = Tables.embeddings(spark, sfDir)
    val built = graft.ops.Similarity.pqIndexBuild(emb, "vec_id",
      "embedding", nCells = 8, ivfIters = 2, m = 8, nCodes = 16,
      pqIters = 2)
    // publish the index: all four frames round-trip through parquet —
    // serving below reads ONLY the stored artifact plus raw corpus
    // vectors for the shortlist re-rank
    val dir = tempDir("pq_idx").toString
    def store(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val idx = built.copy(
      centroids = store(built.centroids, "centroids"),
      codebooks = store(built.codebooks, "codebooks"),
      invFile = store(built.invFile, "inv_file"),
      codes = store(built.codes, "codes"))
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val batch = graft.ops.Similarity.pqQueryIndex(idx, emb, queries,
      "vec_id", "embedding", k = 5, nprobe = 4, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty)
    val qrows = queries.select("vec_id", "embedding").collect()
      .map(r => Emb(r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[Emb]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double)]
    val q = Streams.streamingPqScore(input.toDF(), idx, emb, "vec_id",
      "embedding", k = 5, nprobe = 4, refine = 4,
      (m, _) => got.synchronized {
        got ++= m.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }).start()
    try {
      input.addData(qrows.take(2).toSeq: _*)
      q.processAllAvailable()
      input.addData(qrows.drop(2).toSeq: _*)
      q.processAllAvailable()
      assert(got.toSet === batch,
        "streamed micro-batches must reproduce the batch ANN results")
    } finally q.stop()
  }
}

object StreamingSpec {
  // top-level so the MemoryStream encoder needs no outer instance
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
  case class Measure(v: Double)
  case class Tick(tick_id: Long, k: Long, lt: java.sql.Timestamp)
  case class Feat(row_id: Long, fa: Double, fb: Double)
  case class UserItem(row_id: Long, u: Long, i: Long)
  case class Emb(vec_id: Long, embedding: Seq[Float])
  case class Measure2(k: String, v: Double)
}
