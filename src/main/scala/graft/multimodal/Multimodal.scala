package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Multimodal columns for the LLM-data pipeline: image/audio/video as
  * opaque BINARY content beside typed metadata, with decode /
  * frame-sample / feature-extract operators.
  *
  * EVERY decode path is REAL — no stubs remain. [[decodeImages]]
  * decodes PNG/GIF/BMP binaries through the JDK's own `javax.imageio`
  * codecs into (width, height, luma plane) — no external libraries,
  * golden-pixel tested (DecodeImageSpec). [[decodeAudioAssets]]
  * decodes WAV through `javax.sound.sampled` into exact waveform
  * statistics, oracle-checked end-to-end (q84). [[decodeVideoAssets]]
  * REALLY demuxes AVI (RIFF chunk walk, q102), [[decodeFrames]]
  * pixel-decodes every demuxed frame through the same JDK codec path
  * (q116 — each DIB frame is a BMP minus its header), and resize is
  * the REAL integer box-filter [[graft.functions.BoxDownscale]]
  * (q109). Around the codecs sits the Spark-side plumbing a 100 TB
  * media pipeline needs: a BinaryType content column flowing through
  * scans, projections and aggregates; per-asset typed metadata; frame
  * slicing via posexplode; and codegen'd per-byte feature extraction
  * that never leaves the executors.
  *
  * Scale notes: content bytes are touched by exactly one projection
  * (hex) before features collapse to 16 counters per asset — the wide
  * binary column prunes out of every downstream plan; frame sampling is
  * a Generate (no shuffle); the per-kind rollup shuffles 18 longs per
  * asset, never bytes.
  */
object Multimodal extends graft.QueryModule {

  /** Synthetic asset corpus derived deterministically from `documents`:
    * 32 content bytes per asset (two md5 digests, domain-separated),
    * alternating image/audio kinds, metadata synthesized from doc stats.
    * Stands in for a real media table the way the weather fixtures stand
    * in for the REST source (SURVEY.md §2.1 S1). */
  def assets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(
      $"doc_id".as("asset_id"),
      element_at(typedLit(Seq("image", "audio")), ($"doc_id" % 2 + 1).cast("int"))
        .as("kind"),
      unhex(concat(md5(concat(lit("f0:"), $"text")),
                   md5(concat(lit("f1:"), $"text")))).as("content"),
      struct(
        ($"n_chars" % 640 + 1).cast("int").as("width"),
        ($"n_chars" % 480 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        length($"text").as("src_bytes")).as("meta"))
  }

  /** REAL image decode through the JDK codecs: one row per decodable
    * asset with its dimensions and row-major 8-bit luma plane (see
    * [[graft.functions.DecodeImage]] for determinism + scale notes).
    * Undecodable/corrupt content drops out via the NULL filter instead
    * of failing the job — the standard posture for web-crawled media. */
  def decodeImages(df: DataFrame): DataFrame =
    df.select(col("asset_id"), col("kind"),
        graft.functions.DecodeImage.decodeImage(col("content")).as("img"))
      .filter(col("img").isNotNull)
      .select(col("asset_id"), col("kind"),
        col("img.width").as("width"), col("img.height").as("height"),
        col("img.gray").as("gray"))

  /** REAL audio decode through the JDK codecs: the `audio`-kind assets
    * wrapped in a canonical WAV container (44-byte PCM header — the
    * container is metadata, the payload is the asset's own bytes as
    * 16-bit LE samples) and decoded by `javax.sound.sampled` into
    * per-asset sample statistics (see [[graft.functions.DecodeAudio]]).
    * This closes the audio half of the decode seam the way
    * [[decodeImages]] closed the image half; q84 hash-verifies the
    * whole path against a DuckDB oracle that recomputes the statistics
    * from the raw hex independently of any audio API. */
  def decodeAudioAssets(df: DataFrame): DataFrame =
    df.filter(col("kind") === "audio")
      .select(col("asset_id"),
        graft.functions.DecodeAudio.decodeAudio(
          concat(unhex(lit(WavHeaderHex)), col("content"))).as("a"))
      .filter(col("a").isNotNull)

  /** PCM WAV header for mono/16-bit/16 kHz/32 data bytes (the synthetic
    * corpus's fixed asset size): RIFF + fmt + data chunk headers. */
  private val WavHeaderHex: String = Seq(
    "52494646", "44000000", "57415645",            // RIFF, size 68, WAVE
    "666d7420", "10000000", "0100", "0100",        // fmt, 16, PCM, mono
    "803e0000", "007d0000", "0200", "1000",        // 16 kHz, 32 kB/s, align 2, 16-bit
    "64617461", "20000000").mkString               // data, 32 bytes

  /** REAL video container demux: each asset's 32 content bytes wrapped
    * as a minimal valid AVI — RIFF/hdrl/avih/strl headers for a 2×2
    * 24-bit DIB stream plus a `movi` list holding the bytes as two
    * 16-byte frame chunks — and genuinely PARSED back by
    * [[graft.functions.DecodeVideo]] (chunk walk, avih dimensions,
    * frame extraction, padding rules). Demux is the deterministic,
    * codec-free stage of video ingest; q102 hash-verifies it end to end
    * against a DuckDB oracle that re-derives the frames from the raw
    * hex with no knowledge of AVI at all — if the parser misread one
    * size field, the frames would not match. */
  def decodeVideoAssets(df: DataFrame): DataFrame =
    df.select(col("asset_id"),
        graft.functions.DecodeVideo.decodeVideo(concat(
          unhex(lit(AviPrefixHex)),
          unhex(lit(FrameHdrHex)), substring(col("content"), 1, 16),
          unhex(lit(FrameHdrHex)), substring(col("content"), 17, 16))).as("v"))
      .filter(col("v").isNotNull)

  // AVI container constants for 2 frames × 16 bytes (2×2 RGB24, 8-byte
  // row stride): RIFF + LIST hdrl (avih + LIST strl (strh 'vids'/'DIB ',
  // strf BITMAPINFOHEADER)) + the LIST movi header; per-frame '00db'
  // chunk headers interleave with the payload at query time.
  private def ccHex(s: String): String =
    s.getBytes("US-ASCII").map("%02x".format(_)).mkString
  private def u32Hex(v: Long): String =
    f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
  private def u16Hex(v: Int): String = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x"

  private[multimodal] val AviPrefixHex: String = {
    val avih = ccHex("avih") + u32Hex(56) +
      u32Hex(40000) + u32Hex(0) + u32Hex(0) + u32Hex(0) + // usec/frame, maxbps, pad, flags
      u32Hex(2) + u32Hex(0) + u32Hex(1) + u32Hex(16) +    // totalFrames, init, streams, bufsize
      u32Hex(2) + u32Hex(2) + u32Hex(0) * 4               // width, height, reserved[4]
    val strh = ccHex("strh") + u32Hex(56) +
      ccHex("vids") + ccHex("DIB ") + u32Hex(0) +          // type, handler, flags
      u16Hex(0) + u16Hex(0) + u32Hex(0) +                  // prio, lang, initFrames
      u32Hex(1) + u32Hex(25) + u32Hex(0) + u32Hex(2) +     // scale, rate, start, length
      u32Hex(16) + u32Hex(0) + u32Hex(0) +                 // bufsize, quality, sampleSize
      u16Hex(0) + u16Hex(0) + u16Hex(2) + u16Hex(2)        // rcFrame
    val strf = ccHex("strf") + u32Hex(40) +
      u32Hex(40) + u32Hex(2) + u32Hex(2) +                 // biSize, width, height
      u16Hex(1) + u16Hex(24) + u32Hex(0) + u32Hex(16) +    // planes, bpp, BI_RGB, sizeImage
      u32Hex(0) * 4                                        // ppm×2, clrUsed, clrImportant
    val strl = ccHex("LIST") + u32Hex(4 + strh.length / 2 + strf.length / 2) +
      ccHex("strl") + strh + strf
    val hdrl = ccHex("LIST") + u32Hex(4 + avih.length / 2 + strl.length / 2) +
      ccHex("hdrl") + avih + strl
    val moviHdr = ccHex("LIST") + u32Hex(4 + 2 * (8 + 16)) + ccHex("movi")
    val riffSize = 4 + hdrl.length / 2 + moviHdr.length / 2 + 2 * (8 + 16)
    ccHex("RIFF") + u32Hex(riffSize) + ccHex("AVI ") + hdrl + moviHdr
  }
  private[multimodal] val FrameHdrHex: String = ccHex("00db") + u32Hex(16)

  /** REAL frame slicing: demux each asset's AVI ([[decodeVideoAssets]])
    * and emit one row per frame — binary DIB payload, frame index.
    * posexplode is a Generate: rows multiply executor-side with NO
    * shuffle, and the parent content column prunes away after the
    * slice. This replaced the last decode stub once per-frame PIXEL
    * decode became real too ([[decodeFrames]]): every demuxed frame is
    * a raw 2×2 24-bit bottom-up DIB, which is exactly a BMP without its
    * header — so the JDK codec path that decodes stills (q109) decodes
    * frames as well. */
  def videoFrames(df: DataFrame): DataFrame =
    decodeVideoAssets(df)
      .select(col("asset_id"), posexplode(col("v.frames")))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame")

  /** REAL per-frame pixel decode: wrap each demuxed DIB frame with the
    * matching BMP header and run it through the REAL JDK decode
    * ([[graft.functions.DecodeImage]]) into its 8-bit luma plane —
    * closing the last seam of the multimodal decode surface. Corrupt
    * frames drop via the NULL filter, the [[decodeImages]] posture. */
  def decodeFrames(df: DataFrame): DataFrame =
    videoFrames(df)
      .select(col("asset_id"), col("frame_no").cast("int").as("frame_no"),
        graft.functions.DecodeImage.decodeImage(
          concat(unhex(lit(FrameBmpPrefixHex)), col("frame"))).as("img"))
      .filter(col("img").isNotNull)

  // 2×2 24-bit bottom-up BMP header for a 16-byte DIB frame (stride 8):
  // BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40), data offset 54
  private[multimodal] val FrameBmpPrefixHex: String =
    ccHex("BM") + u32Hex(70) + u32Hex(0) + u32Hex(54) +
      u32Hex(40) + u32Hex(2) + u32Hex(2) + u16Hex(1) + u16Hex(24) +
      u32Hex(0) + u32Hex(16) + u32Hex(0) * 4

  /** Frame sampling: keep every k-th frame (the video-pipeline op that
    * cuts decode fan-out before feature extraction). */
  def sampleFrames(frames: DataFrame, everyK: Int): DataFrame =
    frames.filter(col("frame_no") % everyK === 0)

  /** RESIZE stub: average-pool the content bytes into `bins` equal-width
    * bins — a fixed-length numeric "thumbnail" of variable-length binary
    * (the real pipeline resizes decoded images; the pooling shape is
    * what downstream similarity/feature operators consume). Averages are
    * exact-integer sums divided once at the end, so the output is
    * deterministic; requires `bins` to divide the byte length (true for
    * the 32-byte synthetic corpus and any fixed-frame layout). */
  def avgPool(df: DataFrame, bins: Int = 8): DataFrame = {
    val h = lower(hex(col("content")))
    val n = length(col("content"))
    val binW = (n / bins).cast("int")
    val pooled = transform(sequence(lit(0), lit(bins - 1)), b => {
      val byteVals = transform(sequence(b * binW, (b + 1) * binW - 1), i =>
        conv(substring(h, i * 2 + 1, lit(2)), 16, 10).cast("long"))
      aggregate(byteVals, lit(0L), (a, x) => a + x).cast("double") / binW
    })
    df.select(col("asset_id"), col("kind"), pooled.as("pooled"))
  }

  /** Per-asset feature extraction: a 16-bin nibble histogram of the
    * content bytes — computed entirely in codegen'd expressions on the
    * hex view of the binary (hex→binary→hex is the identity, which is
    * what makes this binary pipeline independently verifiable). */
  private def nibbleCount(h: Column, c: String): Column =
    (length(h) - length(translate(h, c, ""))).cast("long")

  private val Nibbles: Seq[String] = "0123456789abcdef".map(_.toString)

  def nibbleFeatures(df: DataFrame): DataFrame = {
    val h = lower(hex(col("content")))
    df.select(
      col("asset_id") +: col("kind") +:
        length(col("content")).cast("long").as("n_bytes") +:
        Nibbles.zipWithIndex.map { case (c, i) => nibbleCount(h, c).as(s"n_$i") }: _*)
  }

  // ---------------------------------------------------------------------
  // q40: the multimodal feature pipeline end-to-end — synthesize assets,
  // extract per-asset nibble histograms from the BINARY content, roll up
  // per kind. The oracle rebuilds the same histogram from the md5 hex
  // directly (hex(unhex(x)) = x), so a DuckDB hash-compare verifies the
  // whole binary path.
  // ---------------------------------------------------------------------
  val q40: Q = (s, dir) => {
    import s.implicits._
    val aggs = count(lit(1)).as("n_assets") +:
      sum($"n_bytes").as("bytes_total") +:
      (0 until 16).map(i => sum(col(s"n_$i")).as(s"c_$i"))
    nibbleFeatures(assets(s, dir))
      .groupBy($"kind")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"kind")
  }
  val q40Sql: String = {
    val hexExpr = "md5('f0:' || text) || md5('f1:' || text)"
    val counts = (0 until 16).map { i =>
      val c = "0123456789abcdef" (i)
      s"CAST(SUM(length(h) - length(replace(h, '$c', ''))) AS BIGINT) AS c_$i"
    }.mkString(",\n  ")
    s"""WITH a AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |         $hexExpr AS h
       |  FROM documents)
       |SELECT kind, COUNT(*) AS n_assets,
       |  CAST(SUM(length(h) / 2) AS BIGINT) AS bytes_total,
       |  $counts
       |FROM a GROUP BY kind ORDER BY kind""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q84: REAL audio decode end-to-end — wrap each audio asset's bytes in
  // a canonical WAV container, decode through javax.sound.sampled, emit
  // per-asset waveform statistics. The oracle recomputes peak/sum_sq by
  // parsing 16-bit LE samples straight out of the md5 hex — two fully
  // independent decoders agreeing byte-for-byte is the correctness
  // argument for the whole binary path (container assembly, JDK codec,
  // channel extraction, integer stats).
  // ---------------------------------------------------------------------
  val q84Bench: Q = (s, dir) => {
    import s.implicits._
    decodeAudioAssets(assets(s, dir))
      .select($"asset_id", $"a.sample_rate".as("sample_rate"),
        $"a.n_samples".as("n_samples"), $"a.peak".as("peak"),
        $"a.sum_sq".as("sum_sq"))
  }
  val q84: Q = (s, dir) => {
    import s.implicits._
    q84Bench(s, dir).orderBy($"asset_id")
  }
  val q84Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS asset_id,
      |         md5('f0:' || text) || md5('f1:' || text) AS h
      |  FROM documents WHERE doc_id % 2 = 1),
      |s AS (
      |  SELECT asset_id, h, unnest(generate_series(0, 15)) AS i
      |  FROM a),
      |v AS (
      |  SELECT asset_id,
      |    CAST('0x' || substr(h, 4*i + 3, 2) AS BIGINT) * 256 +
      |    CAST('0x' || substr(h, 4*i + 1, 2) AS BIGINT) AS rawv
      |  FROM s),
      |sv AS (
      |  SELECT asset_id,
      |    CASE WHEN rawv >= 32768 THEN rawv - 65536 ELSE rawv END AS val
      |  FROM v)
      |SELECT asset_id, 16000 AS sample_rate, CAST(16 AS BIGINT) AS n_samples,
      |  CAST(MAX(ABS(val)) AS INT) AS peak,
      |  CAST(SUM(val * val) AS BIGINT) AS sum_sq
      |FROM sv GROUP BY asset_id
      |ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------------
  // q102: video demux end to end — every asset wrapped as a 2-frame AVI
  // and REALLY parsed back ([[decodeVideoAssets]]); the oracle re-derives
  // width/height/frame bytes from the raw hex with no AVI knowledge, so
  // a single misread size field in the chunk walk breaks the hash.
  // ---------------------------------------------------------------------
  val q102Bench: Q = (s, dir) => {
    import s.implicits._
    decodeVideoAssets(assets(s, dir))
      .select($"asset_id", $"v.width".as("width"), $"v.height".as("height"),
        $"v.n_frames".as("n_frames"), posexplode($"v.frames"))
      .select($"asset_id", $"width", $"height", $"n_frames",
        $"pos".cast("int").as("frame_no"), lower(hex($"col")).as("frame_hex"))
  }
  val q102: Q = (s, dir) => {
    import s.implicits._
    q102Bench(s, dir).orderBy($"asset_id", $"frame_no")
  }
  val q102Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS asset_id,
      |         md5('f0:' || text) || md5('f1:' || text) AS h
      |  FROM documents),
      |f AS (
      |  SELECT asset_id, h, unnest(generate_series(0, 1)) AS frame_no
      |  FROM a)
      |SELECT asset_id, 2 AS width, 2 AS height, CAST(2 AS BIGINT) AS n_frames,
      |  CAST(frame_no AS INT) AS frame_no,
      |  substr(h, frame_no * 32 + 1, 32) AS frame_hex
      |FROM f
      |ORDER BY asset_id, frame_no""".stripMargin

  // ---------------------------------------------------------------------
  // q109: decode → RESIZE, the full image-normalization path — every
  // asset's first 24 content bytes wrapped as a REAL 4×2 24-bit BMP,
  // decoded by the REAL JDK codec path ([[decodeImages]]' DecodeImage),
  // then 2×2 box-filter downscaled by the [[graft.functions.
  // BoxDownscale]] expression (integer floor-average — the Det-safe
  // resize kernel). The oracle re-derives the two output pixels from
  // the raw hex alone — BMP's bottom-up BGR layout, the BT.601 integer
  // luma, and the box average all re-implemented in SQL with no image
  // API — so one wrong byte offset in EITHER the codec wrap, the luma,
  // or the kernel breaks the hash. Scale shape: two chained pure
  // projections, zero shuffle; the binary columns prune away behind
  // the 4-column output.
  // ---------------------------------------------------------------------
  val q109Bench: Q = (s, dir) => {
    import s.implicits._
    assets(s, dir)
      .select($"asset_id", graft.functions.DecodeImage.decodeImage(
        concat(unhex(lit(BmpPrefixHex)), substring($"content", 1, 24)))
        .as("img"))
      .filter($"img".isNotNull)
      .select($"asset_id", graft.functions.BoxDownscale.boxDownscale(
        $"img.gray", $"img.width", $"img.height", lit(2)).as("rz"))
      .filter($"rz".isNotNull)
      .select($"asset_id", $"rz.width".as("width"), $"rz.height".as("height"),
        lower(hex($"rz.gray")).as("gray_hex"))
  }
  val q109: Q = (s, dir) => {
    import s.implicits._
    q109Bench(s, dir).orderBy($"asset_id")
  }

  // 4×2 24-bit bottom-up BMP: BITMAPFILEHEADER (14) + BITMAPINFOHEADER
  // (40); 24 pixel bytes follow (2 rows × 12, stride already 4-aligned).
  private[multimodal] val BmpPrefixHex: String =
    ccHex("BM") + u32Hex(78) + u32Hex(0) + u32Hex(54) +
      u32Hex(40) + u32Hex(4) + u32Hex(2) + u16Hex(1) + u16Hex(24) +
      u32Hex(0) + u32Hex(24) + u32Hex(0) * 4

  val q109Sql: String = {
    def b(i: Int) = s"CAST('0x' || substr(h, ${i * 2 + 1}, 2) AS BIGINT)"
    // BMP rows are bottom-up, pixels are B,G,R: image pixel (x, y) with
    // y=0 the TOP row lives at data byte (1-y)*12 + x*3
    def lum(x: Int, y: Int) = {
      val o = (1 - y) * 12 + x * 3
      s"((${b(o + 2)} * 299 + ${b(o + 1)} * 587 + ${b(o)} * 114) // 1000)"
    }
    def px(ox: Int) =
      s"((${lum(2 * ox, 0)} + ${lum(2 * ox + 1, 0)} + ${lum(2 * ox, 1)} + ${lum(2 * ox + 1, 1)}) // 4)"
    s"""WITH a AS (
      |  SELECT doc_id AS asset_id,
      |         md5('f0:' || text) || md5('f1:' || text) AS h
      |  FROM documents)
      |SELECT asset_id, CAST(2 AS INT) AS width, CAST(1 AS INT) AS height,
      |  lpad(lower(hex(${px(0)})), 2, '0')
      |    || lpad(lower(hex(${px(1)})), 2, '0') AS gray_hex
      |FROM a ORDER BY asset_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q116: demux → per-frame PIXEL decode, the full video path — each
  // asset's AVI is REALLY parsed ([[decodeVideoAssets]]), each demuxed
  // 2×2 bottom-up DIB frame is BMP-wrapped and decoded by the REAL JDK
  // codec path into its luma plane (exactly how q109 decodes stills).
  // The oracle re-derives every frame's pixels from the raw md5 hex
  // alone — AVI layout, DIB bottom-up BGR order, row stride, and the
  // BT.601 integer luma all re-implemented in SQL with no media API —
  // so a wrong offset in the chunk walk, the header wrap, OR the codec
  // interpretation breaks the hash. This retired the repo's last decode
  // stub. Scale shape: chained pure projections + one Generate; zero
  // shuffle; binary columns prune behind the 5-column output.
  // ---------------------------------------------------------------------
  val q116Bench: Q = (s, dir) => {
    import s.implicits._
    decodeFrames(assets(s, dir))
      .select($"asset_id", $"frame_no", $"img.width".as("width"),
        $"img.height".as("height"), lower(hex($"img.gray")).as("gray_hex"))
  }
  val q116: Q = (s, dir) => {
    import s.implicits._
    q116Bench(s, dir).orderBy($"asset_id", $"frame_no")
  }
  val q116Sql: String = {
    // frame f of the 32-byte content = hex chars [f*32+1, 32]; within a
    // frame the DIB is bottom-up with 8-byte row stride, pixels B,G,R:
    // image pixel (x, y) with y=0 the TOP row lives at frame byte
    // (1-y)*8 + x*3 (bytes 6,7 and 14,15 are stride padding)
    def b(i: Int) = s"CAST('0x' || substr(fh, ${i * 2 + 1}, 2) AS BIGINT)"
    def lum(x: Int, y: Int) = {
      val o = (1 - y) * 8 + x * 3
      s"((${b(o + 2)} * 299 + ${b(o + 1)} * 587 + ${b(o)} * 114) // 1000)"
    }
    val gray = Seq(lum(0, 0), lum(1, 0), lum(0, 1), lum(1, 1))
      .map(l => s"lpad(lower(hex($l)), 2, '0')").mkString(" || ")
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id,
       |         md5('f0:' || text) || md5('f1:' || text) AS h
       |  FROM documents),
       |f AS (
       |  SELECT asset_id, substr(h, frame_no * 32 + 1, 32) AS fh,
       |         CAST(frame_no AS INT) AS frame_no
       |  FROM a, unnest(generate_series(0, 1)) AS u(frame_no))
       |SELECT asset_id, frame_no, CAST(2 AS INT) AS width,
       |  CAST(2 AS INT) AS height, $gray AS gray_hex
       |FROM f
       |ORDER BY asset_id, frame_no""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q40_mm_features" -> q40,
    "q84_audio_decode" -> q84,
    "q102_video_demux" -> q102,
    "q109_image_resize" -> q109,
    "q116_frame_decode" -> q116)
  val oracles: Map[String, String] = Map(
    "q40_mm_features" -> q40Sql,
    "q84_audio_decode" -> q84Sql,
    "q102_video_demux" -> q102Sql,
    "q109_image_resize" -> q109Sql,
    "q116_frame_decode" -> q116Sql)

  /** Bench-time override minus the determinism-only global sort (see
    * [[graft.queries.Relational.benchVariants]]). */
  override val benchVariants: Map[String, Q] = Map(
    "q84_audio_decode" -> q84Bench,
    "q102_video_demux" -> q102Bench,
    "q109_image_resize" -> q109Bench,
    "q116_frame_decode" -> q116Bench)
}
