package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.gates.{Gate, Gates}

/** The gate registry and the artifact store behind the publish-split
  * gates: each gate is declared once, declaring it builds no oracle SQL,
  * and each published artifact is built once per JVM in its own
  * `graft_<name>_*` directory. Parquet tables are read through
  * `Tables.read`, which infers each schema once. Copied code in ops/
  * and functions/ does not grow back.
  */
class RegistrySpec extends SparkSpec {

  private val noPlan: Gate.Plan = (s, _) => s.emptyDataFrame

  /** Matches of `call` per .scala file under `dir` (relative to `dir`),
    * for the files with at least one.
    */
  private def callsUnder(dir: String,
                         call: scala.util.matching.Regex): Map[String, Int] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map { f =>
        root.relativize(f).toString -> call.findAllIn(Files.readString(f)).size
      }.filter(_._2 > 0).toMap
    finally walk.close()
  }

  test("registry: a gate name declared twice fails its require") {
    val e = intercept[IllegalArgumentException](Gates.index(Seq(
      Gate("q_twice", noPlan)("SELECT 1"),
      Gate("q_twice", noPlan)("SELECT 2"))))
    assert(e.getMessage.contains("gate q_twice is declared twice"))
  }

  test("registry: declaring and indexing gates builds no oracle SQL") {
    var built = 0
    val g = Gate("q_lazy", noPlan) { built += 1; "SELECT 1" }
    Gates.index(Seq(g, Gate.rowsOnly("q_rows", "no SQL spelling")(noPlan)))
    assert(built === 0)
    assert(g.oracle === Some("SELECT 1"))
    assert(built === 1)
  }

  test("Artifacts.publish: one build per (name, sf dir), in its own " +
    "graft_<name>_ dir; a publish nested in a build works; a failed " +
    "build is retried") {
    val tag = "spec" + System.nanoTime()
    var builds = 0
    def inner(d: String): String =
      Artifacts.publish(tag + "_inner", d) { p =>
        builds += 1
        Files.writeString(Paths.get(p, "v"), "inner")
      }
    def outer(d: String): String =
      Artifacts.publish(tag + "_outer", d) { p =>
        builds += 1
        Files.writeString(Paths.get(p, "v"), inner(d))
      }
    val a = outer("a")
    assert(outer("a") === a)
    assert(builds === 2)
    assert(Paths.get(a).getFileName.toString.startsWith(s"graft_${tag}_outer_"))
    assert(Paths.get(a).getParent ===
      Paths.get(System.getProperty("java.io.tmpdir")))
    assert(outer("b") !== a)
    assert(builds === 4)
    var attempts = 0
    def flaky(): String = Artifacts.publish(tag + "_flaky", "a") { _ =>
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
    }
    intercept[IllegalStateException](flaky())
    flaky()
    assert(attempts === 2)
  }

  test("lint: parquet is read unpinned only by Tables.read and Etl's " +
    "mutable write targets") {
    // a `.read.parquet(` infers the schema with a Spark job on every call;
    // Tables.read does it once per file version. Etl's upsert and
    // compaction read the directory they rewrite, so they stay unpinned.
    val allowed = Map("graft/Tables.scala" -> 1, "graft/ops/Etl.scala" -> 2)
    assert(callsUnder("src/main/scala", """\.read\s*\.parquet\s*\(""".r)
      === allowed, "read a table through Tables.read, which pins its schema")
  }

  test("lint: no op writes the session conf") {
    // ops run on the caller's shared session: a conf.set or conf.unset
    // there changes every later query of that session; a setting that one
    // read or write needs goes on that reader or writer as an .option
    val found = callsUnder("src/main/scala/graft/ops",
      """conf\s*\.\s*(set|unset)\s*\(""".r)
    assert(found.isEmpty, s"session conf written in $found")
  }

  test("ratchet: ops/ and functions/ repeat no more 8-line windows " +
    "than when their copies were merged (tools/dupwindows.py)") {
    // functions/ keeps the shared import header of TokenShingles and
    // SubwordTokens
    val ceiling = Map("ops/" -> 0, "functions/" -> 8)
    val out = scala.sys.process.Process(
      Seq("python3", "tools/dupwindows.py")).!!
    val counts = out.linesIterator.filterNot(_.startsWith(" ")).map { l =>
      val Array(dir, n) = l.split(" ")
      dir -> n.toInt
    }.toMap
    ceiling.foreach { case (dir, max) =>
      assert(counts(dir) <= max, s"$dir repeats ${counts(dir)} lines " +
        s"(ceiling $max); write the copy once instead:\n$out")
    }
  }
}
