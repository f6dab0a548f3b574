package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal decode, resize and frame sampling over synthetic media.
  */
object MediaQueries {

  /** Multimodal: batched REAL decode (pure-JVM PPM/WAV/PPM-stream codecs,
    * magic-byte sniffing) over synthetic media in genuine file formats.
    *
    * DRIVER-ORACLED (round 5): kind/width/height are recomputed by the
    * oracle in closed-form SQL from `range(200)` (the generator's
    * structure), certifying the sniffing decode derives metadata matching
    * the generator math; the content stats (luma/rms in integer ppm +
    * payload sha1) join the frozen [[MediaFixtures]] literals, which the
    * MultimodalSpec self-consistency test re-derives from the sequential
    * scalar codecs every run.
    */
  def mMediaStats(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.operators.Multimodal.synthesize(spark, 200)
    graft.operators.Multimodal.decode(media).toDF()
      .select(col("mediaId").as("media_id"), col("kind"),
        col("width"), col("height"),
        floor(col("meanLuma") * 1000000 + 0.5).cast("long").as("luma_ppm"),
        col("sha1"))
  }

  /** Multimodal: map-only nearest-neighbor image resize (the vision-
    * pipeline preprocessing step) — per media the before/after dims plus
    * the RE-DECODED stats of the resized payload, proving the output is
    * a valid P6 a downstream decoder parses. DRIVER-ORACLED: the resize
    * geometry (12/h2 dims), image output byte size and video/audio
    * passthrough sizes are closed-form SQL over range(200) — audio byte
    * length (hash-dependent sample count) and the resized luma come from
    * the frozen [[MediaFixtures]]; bounds and pixel identity are
    * additionally gated in the specs.
    */
  def mResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.operators.Multimodal.synthesize(spark, 200)
    val resized = graft.operators.Multimodal.resize(media, maxDim = 12)
    val redecoded = graft.operators.Multimodal.decode(
      resized.filter(_.kind == "image").map(r =>
        graft.operators.Multimodal.MediaRow(r.mediaId,
          graft.operators.Multimodal.MediaMeta("image", r.newWidth,
            r.newHeight, 1, 0), r.payload))).toDF()
      .select(col("mediaId"),
        floor(col("meanLuma") * 1000000 + 0.5).cast("long").as("rl_ppm"))
    resized.toDF()
      .select(col("mediaId"), col("kind"), col("width"), col("height"),
        col("newWidth").as("new_width"), col("newHeight").as("new_height"),
        length(col("payload")).as("bytes"))
      .join(redecoded, Seq("mediaId"), "left")
      .withColumnRenamed("mediaId", "media_id")
  }

  /** Multimodal: video frame sampling exploded to per-frame features.
    * Emits the EXACT integer 8-bin luma-histogram counts recovered from
    * the normalized float feature (counts ≤ 640 round-trip float
    * normalization losslessly: relative error 2^-24 ≪ 0.5/640), so the
    * driver hash-checks the real pixel binning against the frozen
    * fixture instead of a featSum that is ≈1.0 by construction. The
    * oracle recomputes the sampling grid (video ids, stride-2 frame
    * indices) closed-form from range(200).
    */
  def mFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val frames = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.synthesize(spark, 200), stride = 2).toDF()
      // video frame area is structural: w = 16 + (id%4)*8, h = 16
      .withColumn("area", ((col("mediaId") % 4) * 8 + 16) * 16)
    val bins = (0 until 8).map(k =>
      floor(element_at(col("frameFeature"), k + 1) * col("area") + 0.5)
        .cast("long").as(s"b$k"))
    frames.select(
      (col("mediaId").as("media_id") +: col("frameIdx").cast("long").as("frame_idx") +: bins): _*)
  }

  val defs: Seq[QueryDef] = Seq(
    // m_* multimodal oracles: structural columns (kind, dims, resize
    // geometry, passthrough sizes, frame grid) recomputed closed-form
    // from range(200) = the generator's arithmetic; content stats join
    // the frozen MediaFixtures literals (spec-gated against the
    // sequential codecs each run).
    QueryDef("m_media_stats", mMediaStats, Some(
      s"""WITH f(media_id, luma_ppm, sha1) AS (VALUES
         |${MediaFixtures.mediaStats}),
         |m AS (
         |  SELECT CAST(i AS BIGINT) AS media_id,
         |    CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CASE WHEN i % 3 = 1 THEN 0 ELSE 16 + CAST(i % 4 AS INTEGER) * 8 END AS width,
         |    CASE WHEN i % 3 = 1 THEN 0 ELSE 16 END AS height
         |  FROM range(200) t(i))
         |SELECT m.media_id, m.kind, m.width, m.height,
         |  CAST(f.luma_ppm AS BIGINT) AS luma_ppm, f.sha1
         |FROM m JOIN f USING (media_id)""".stripMargin)),
    QueryDef("m_resize", mResize, Some(
      s"""WITH ab(media_id, bytes_fix) AS (VALUES
         |${MediaFixtures.audioBytes}),
         |rl(media_id, rl_ppm) AS (VALUES
         |${MediaFixtures.resizedLuma}),
         |m AS (
         |  SELECT CAST(i AS BIGINT) AS media_id, CAST(i % 3 AS INTEGER) AS k,
         |    16 + CAST(i % 4 AS INTEGER) * 8 AS w,
         |    2 + CAST(i % 4 AS INTEGER) AS frames
         |  FROM range(200) t(i)),
         |g AS (
         |  SELECT media_id, k, w, frames,
         |    CASE WHEN k = 1 THEN 0 ELSE w END AS width,
         |    CASE WHEN k = 1 THEN 0 ELSE 16 END AS height,
         |    CASE WHEN k = 0 THEN 12 WHEN k = 1 THEN 0 ELSE w END AS new_width,
         |    CASE WHEN k = 0 THEN (16 * 12) // w WHEN k = 1 THEN 0 ELSE 16 END AS new_height
         |  FROM m)
         |SELECT g.media_id,
         |  CASE g.k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  g.width, g.height, g.new_width, g.new_height,
         |  CAST(CASE g.k
         |    WHEN 0 THEN 11 + length(CAST(g.new_height AS VARCHAR)) + 3 * 12 * g.new_height
         |    WHEN 1 THEN ab.bytes_fix
         |    ELSE g.frames * (11 + length(CAST(g.w AS VARCHAR)) + 3 * g.w * 16)
         |  END AS INTEGER) AS bytes,
         |  CAST(rl.rl_ppm AS BIGINT) AS rl_ppm
         |FROM g LEFT JOIN ab USING (media_id) LEFT JOIN rl USING (media_id)""".stripMargin)),
    QueryDef("m_frame_sample", mFrameSample, Some(
      s"""WITH fh(media_id, frame_idx, b0, b1, b2, b3, b4, b5, b6, b7) AS (VALUES
         |${MediaFixtures.frameHists}),
         |v AS (SELECT CAST(i AS BIGINT) AS media_id,
         |        2 + CAST(i % 4 AS INTEGER) AS frames
         |      FROM range(200) t(i) WHERE i % 3 = 2),
         |grid AS (
         |  SELECT media_id, f AS frame_idx FROM (
         |    SELECT media_id, unnest(generate_series(0, frames - 1)) AS f FROM v)
         |  WHERE f % 2 = 0)
         |SELECT g.media_id, g.frame_idx,
         |  CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
         |  CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3,
         |  CAST(b4 AS BIGINT) AS b4, CAST(b5 AS BIGINT) AS b5,
         |  CAST(b6 AS BIGINT) AS b6, CAST(b7 AS BIGINT) AS b7
         |FROM grid g JOIN fh USING (media_id, frame_idx)""".stripMargin))
  )
}
