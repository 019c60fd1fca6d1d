package graft
package gates

/** The gates whose plans call [[graft.ops.Multimodal]] first: each plan
  * declared beside the DuckDB oracle SQL its result must match. */
object MultimodalGates {
  val all: Seq[Gate] = Seq(
    // Recomputes the multimodal stub's md5-derived payload bytes in SQL —
    // independently verifying the Scala mapPartitions kernel.
    // image rows: the oracle recomputes the REAL decoded pixel stats in
    // closed form from the two-band pattern recipe (PNG is lossless, so a
    // correct javax.imageio decode reproduces them exactly; a wrong or
    // fake decoder cannot hash-match). Audio rows: REAL decoded WAV
    // sample stats from the signal recipe. Video rows: REAL multi-frame
    // GIF decode — per-frame solid-gray pixel stats and the decoded
    // frame COUNT recomputed from the clip recipe (a reader that stops
    // at frame 0 gets both the mean and n_frames wrong).
    Gate("q_media_features", (s, d) => graft.ops.Multimodal.mediaFeatures(
      s, Tables.documents(s, d), "doc_id"))(
      """WITH img AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 13 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 11 + 4 AS INTEGER) AS h,
        |    (doc_id * 7) % 256 AS ar, (doc_id * 11) % 256 AS ag,
        |    (doc_id * 13) % 256 AS ab, (doc_id * 17) % 256 AS br,
        |    (doc_id * 19) % 256 AS bg, (doc_id * 23) % 256 AS bb
        |  FROM documents WHERE doc_id % 3 = 0),
        |ist AS (SELECT *, h // 2 AS th, h - h // 2 AS bh FROM img),
        |imean AS (
        |  SELECT doc_id, w, h,
        |    CAST(th * w * (ar + ag + ab) + bh * w * (br + bg + bb)
        |         AS DOUBLE) / (CAST(3 AS DOUBLE) * w * h) AS mean_val
        |  FROM ist),
        |chan AS (
        |  SELECT doc_id, ar // 16 AS bin, CAST(th * w AS BIGINT) AS cnt
        |    FROM ist
        |  UNION ALL SELECT doc_id, ag // 16, CAST(th * w AS BIGINT) FROM ist
        |  UNION ALL SELECT doc_id, ab // 16, CAST(th * w AS BIGINT) FROM ist
        |  UNION ALL SELECT doc_id, br // 16, CAST(bh * w AS BIGINT) FROM ist
        |  UNION ALL SELECT doc_id, bg // 16, CAST(bh * w AS BIGINT) FROM ist
        |  UNION ALL SELECT doc_id, bb // 16, CAST(bh * w AS BIGINT) FROM ist),
        |ihist AS (
        |  SELECT i.doc_id, r.bin, CAST(coalesce(sum(c.cnt), 0) AS BIGINT) AS c
        |  FROM (SELECT DISTINCT doc_id FROM img) i
        |  CROSS JOIN UNNEST(range(16)) AS r(bin)
        |  LEFT JOIN chan c ON c.doc_id = i.doc_id AND c.bin = r.bin
        |  GROUP BY i.doc_id, r.bin),
        |ihistcsv AS (
        |  SELECT doc_id,
        |    string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist_csv
        |  FROM ihist GROUP BY doc_id),
        |irows AS (
        |  SELECT m.doc_id AS mediaId, 'image' AS mediaType,
        |    m.w AS width, m.h AS height, round(m.mean_val, 6) AS mean_val,
        |    hc.hist_csv, CAST(0 AS INTEGER) AS n_frames
        |  FROM imean m JOIN ihistcsv hc ON m.doc_id = hc.doc_id),
        |aud AS (
        |  SELECT doc_id, CAST(doc_id % 400 + 100 AS INTEGER) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (
        |  SELECT a.doc_id, ((a.doc_id * 31 + i.i * 7) % 256) AS s
        |  FROM aud a CROSS JOIN UNNEST(range(500)) AS i(i)
        |  WHERE i.i < a.n),
        |astats AS (
        |  SELECT doc_id, round(sum(s) * 1.0 / count(*), 6) AS mean_val
        |  FROM smp GROUP BY doc_id),
        |ahist AS (
        |  SELECT a2.doc_id, r.bin, CAST(count(s.s) AS BIGINT) AS c
        |  FROM (SELECT DISTINCT doc_id FROM smp) a2
        |  CROSS JOIN UNNEST(range(16)) AS r(bin)
        |  LEFT JOIN smp s ON s.doc_id = a2.doc_id AND s.s // 16 = r.bin
        |  GROUP BY a2.doc_id, r.bin),
        |ahistcsv AS (
        |  SELECT doc_id,
        |    string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist_csv
        |  FROM ahist GROUP BY doc_id),
        |arows AS (
        |  SELECT a.doc_id AS mediaId, 'audio' AS mediaType,
        |    CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
        |    st.mean_val, hc.hist_csv,
        |    CAST((a.n - 1) // 32 + 1 AS INTEGER) AS n_frames
        |  FROM aud a JOIN astats st ON a.doc_id = st.doc_id
        |  JOIN ahistcsv hc ON a.doc_id = hc.doc_id),
        |vid AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 9 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 7 + 5 AS INTEGER) AS h,
        |    CAST(doc_id % 5 + 2 AS INTEGER) AS k
        |  FROM documents WHERE doc_id % 3 = 2),
        |vfr AS (
        |  SELECT v.doc_id, v.w, v.h, v.k, ((v.doc_id * 29 + f.f * 37) % 256) AS g
        |  FROM vid v CROSS JOIN UNNEST(range(6)) AS f(f) WHERE f.f < v.k),
        |vmean AS (
        |  SELECT doc_id, round(sum(g) * 1.0 / count(*), 6) AS mean_val
        |  FROM vfr GROUP BY doc_id),
        |vhist AS (
        |  SELECT v2.doc_id, r.bin,
        |    CAST(coalesce(sum(CASE WHEN vf.g // 16 = r.bin
        |                        THEN 3 * vf.w * vf.h END), 0) AS BIGINT) AS c
        |  FROM (SELECT DISTINCT doc_id FROM vfr) v2
        |  CROSS JOIN UNNEST(range(16)) AS r(bin)
        |  LEFT JOIN vfr vf ON vf.doc_id = v2.doc_id
        |  GROUP BY v2.doc_id, r.bin),
        |vhistcsv AS (
        |  SELECT doc_id,
        |    string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist_csv
        |  FROM vhist GROUP BY doc_id),
        |vrows AS (
        |  SELECT v.doc_id AS mediaId, 'video' AS mediaType,
        |    v.w AS width, v.h AS height, m.mean_val, hc.hist_csv,
        |    v.k AS n_frames
        |  FROM vid v JOIN vmean m ON v.doc_id = m.doc_id
        |  JOIN vhistcsv hc ON v.doc_id = hc.doc_id)
        |SELECT * FROM irows UNION ALL SELECT * FROM arows
        |UNION ALL SELECT * FROM vrows
        |ORDER BY mediaId""".stripMargin),
    // perceptual-hash (aHash) image dedup over REAL decoded pixels:
    // exact-dup groups by the 64-bit above-average hash — the dedup
    // family lifted to the image modality
    // aHash replay from the two-band pattern recipe: for band images,
    // 64·gray > Σgray reduces to grayTop <> grayBot row-wise (the 8×8
    // grid samples whole rows), so the hash is the top- or bottom-band
    // row mask — built here byte-per-row, msb row first, matching the
    // %016x packing of bit i = y·8+x
    Gate("q_phash_dup", (s, d) => graft.ops.Multimodal.imageDupGroups(
      s, Tables.documents(s, d), "doc_id"))(
      """WITH img AS (
        |  SELECT doc_id AS id,
        |    CAST(doc_id % 11 + 4 AS BIGINT) AS h,
        |    (doc_id * 7) % 256 + (doc_id * 11) % 256
        |      + (doc_id * 13) % 256 AS gt,
        |    (doc_id * 17) % 256 + (doc_id * 19) % 256
        |      + (doc_id * 23) % 256 AS gb
        |  FROM documents WHERE doc_id % 3 = 0),
        |rows8 AS (
        |  SELECT img.*, y.y AS y,
        |    ((y.y * h) // 8) < (h // 2) AS top_row
        |  FROM img CROSS JOIN UNNEST(range(8)) AS y(y)),
        |hx AS (
        |  SELECT id,
        |    string_agg(CASE WHEN (gt > gb AND top_row)
        |        OR (gb > gt AND NOT top_row) THEN 'ff' ELSE '00' END,
        |      '' ORDER BY y DESC) AS phash
        |  FROM rows8 GROUP BY id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_images,
        |  min(id) AS keep_id
        |FROM hx GROUP BY phash HAVING count(*) >= 2
        |ORDER BY phash""".stripMargin),
    // frame-granular video extraction: one row per REAL decoded GIF
    // frame; oracle recomputes every frame's solid-gray mean + dims
    Gate("q_video_frames", (s, d) => graft.ops.Multimodal.videoFrameStats(
      s, Tables.documents(s, d), "doc_id"))(
      """WITH vid AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 9 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 7 + 5 AS INTEGER) AS h,
        |    CAST(doc_id % 5 + 2 AS INTEGER) AS k
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT v.doc_id AS mediaId, CAST(f.f AS INTEGER) AS frameIdx,
        |  v.w AS width, v.h AS height,
        |  round(CAST((v.doc_id * 29 + f.f * 37) % 256 AS DOUBLE), 6)
        |    AS frame_mean
        |FROM vid v CROSS JOIN UNNEST(range(6)) AS f(f)
        |WHERE f.f < v.k
        |ORDER BY mediaId, frameIdx""".stripMargin),
    // square-wave band profile over REAL decoded audio: ±1 integer
    // matched filters at half-periods 1/2/4/8 + dominant band — exact
    // integer correlations, no libm trig drift
    // frame rows from the clip recipe: k = id%5+2 frames, dims
    // (id%9+4)×(id%7+5), frame f's solid gray (id·29 + f·37) mod 256 —
    // a solid frame's channel mean IS its gray value
    // band-profile replay: same integer sample recipe, ±1 square-wave
    // kernels via integer div/mod, dominant = max |sum| with the
    // smallest-b tie order (ratios share the positive divisor n, so
    // comparing integer sums equals comparing the normalized values)
    Gate("q_audio_bands", (s, d) => graft.ops.Multimodal.audioBandProfile(
      s, Tables.documents(s, d), "doc_id"))(
      """WITH a AS (SELECT doc_id AS id,
        |        CAST(doc_id % 400 + 100 AS INTEGER) AS n
        |      FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT id, n, i.i AS i,
        |        CAST((id * 31 + i.i * 7) % 256 AS BIGINT) AS sv
        |      FROM a CROSS JOIN UNNEST(range(500)) AS i(i)
        |      WHERE i.i < n),
        |c AS (SELECT id, n,
        |    sum(sv * (CASE WHEN (i // 1) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS a1,
        |    sum(sv * (CASE WHEN (i // 2) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS a2,
        |    sum(sv * (CASE WHEN (i // 4) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS a4,
        |    sum(sv * (CASE WHEN (i // 8) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS a8
        |  FROM s GROUP BY 1, 2)
        |SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
        |  round(CAST(a1 AS DOUBLE) / n, 6) AS c1,
        |  round(CAST(a2 AS DOUBLE) / n, 6) AS c2,
        |  round(CAST(a4 AS DOUBLE) / n, 6) AS c4,
        |  round(CAST(a8 AS DOUBLE) / n, 6) AS c8,
        |  CASE WHEN abs(a1) >= abs(a2) AND abs(a1) >= abs(a4)
        |         AND abs(a1) >= abs(a8) THEN 1
        |    WHEN abs(a2) >= abs(a4) AND abs(a2) >= abs(a8) THEN 2
        |    WHEN abs(a4) >= abs(a8) THEN 4
        |    ELSE 8 END AS dominant_band
        |FROM c ORDER BY media_id""".stripMargin),
  )
}
