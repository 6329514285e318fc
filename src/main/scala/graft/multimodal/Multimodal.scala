package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal columns: REAL image payloads (PPM "P6" — see
  * [[PpmCodec]]) carried as opaque `binary`, with typed metadata, a
  * genuine header-parse decode, real pixel feature extraction, a real
  * nearest-neighbor resampler, and a frame-sampling planner.
  *
  * Since r16 the decode is NOT a stub: every document carries a
  * well-formed P6 image (ASCII header + RGB raster) synthesized
  * deterministically from the document text (no camera data ships in
  * the corpus), and the operators parse those bytes with the real
  * codec — magic, whitespace/comment grammar, maxval, raster math.
  * Swap the synthesized payloads for a parquet of real files and
  * nothing in the operator path changes. The decode runs inside
  * batched `mapPartitions` (one codec scope per batch — the Scala
  * analog of a pandas-UDF `mapInPandas` batch); the DuckDB oracle
  * replays the SAME bytes by constructing the identical payload in
  * SQL and checking the decoded dimensions/pixel sums against it.
  *
  * The frame planner (`q_mm_frames`) deliberately stays
  * metadata-driven: at 100 TB you plan frame sampling from the
  * catalog's stored dims, not by decoding every payload — the decode
  * belongs on the per-frame worker that consumes the plan.
  */
object Multimodal {

  /** Fold hex-string expression `e` to a BIGINT (both dialects). */
  private def sparkHexToInt(e: String): String =
    s"aggregate(transform(sequence(1, length($e)), ci -> " +
      s"cast(instr('0123456789abcdef', substring($e, ci, 1)) - 1 as bigint)), " +
      s"0L, (acc, c) -> acc * 16 + c)"

  private def duckHexToInt(e: String): String =
    s"CAST(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length($e) + 1), " +
      s"ci -> (instr('0123456789abcdef', substring($e, ci, 1)) - 1)::BIGINT)), " +
      s"(acc, c) -> acc * 16 + c) AS BIGINT)"

  /** Decode batch size — one codec scope per batch, amortizing any
    * per-batch setup a real codec library would have. */
  private val DecodeBatch = 64

  // ---------------------------------------------------------------- metadata

  /** The UNSORTED metadata frame (catalog view): media type, stored
    * dims, frame count — all deterministic functions of the doc text's
    * md5, standing in for a real catalog's stored metadata. Factored
    * out of [[qMmMeta]] so downstream planners (frames/resize) never
    * inherit its presentation `orderBy` (Catalyst's EliminateSorts
    * cannot recurse through a Generate node). */
  private def metaFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("hex", md5($"text"))
      .withColumn("media_type",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (expr(sparkHexToInt("substring(hex, 1, 2)")) % 3 + 1).cast("int")))
      .withColumn("width", (expr(sparkHexToInt("substring(hex, 3, 2)")) % 64 + 16).cast("int"))
      .withColumn("height", (expr(sparkHexToInt("substring(hex, 5, 2)")) % 64 + 16).cast("int"))
      .withColumn("n_frames",
        when($"media_type" === "video", (expr(sparkHexToInt("substring(hex, 7, 2)")) % 120 + 8).cast("int"))
          .otherwise(lit(1)))
      .select($"doc_id", $"hex", $"media_type", $"width", $"height", $"n_frames")
  }

  /** Real P6 payload, synthesized in-plan: ASCII header
    * `P6\n{w} {h}\n255\n` + a `w*h*3`-byte RGB raster (the doc's md5
    * bytes tiled). Byte-for-byte reproducible by the oracle's SQL
    * twin [[payloadCteSql]], and a well-formed image any PPM tool
    * renders. NULL text → NULL payload in both engines. */
  private[graft] val ppmPayloadSql: String =
    "concat(" +
      "cast(concat('P6', chr(10), cast(width as string), ' ', " +
      "cast(height as string), chr(10), '255', chr(10)) as binary), " +
      "unhex(substring(repeat(hex, cast(ceil(width * height * 3 / 16.0) as int)), " +
      "1, width * height * 6)))"

  /** probe hook (r18 measurement) */
  private[graft] def metaFrameProbe(s: SparkSession, dir: String): DataFrame =
    metaFrame(s, dir)

  private def payloadFrame(s: SparkSession, dir: String): DataFrame =
    // r18: native tiling instead of the repeat()+unhex() SQL spelling
    // (byte identity with ppmPayloadSql pinned in MultimodalSpec; the
    // oracle replays the SQL twin and stays hash-green)
    metaFrame(s, dir).withColumn("payload",
      PpmExprs.ppmPayload(col("hex"), col("width"), col("height")))

  /** Typed metadata + REAL header decode: width/height/payload_bytes
    * are parsed out of the P6 bytes by [[PpmCodec.decodeHeader]]
    * (media_type and n_frames stay catalog metadata — a still-image
    * container has no frame count). The oracle checks the decoded
    * dims against the values it embedded when constructing the same
    * payload — a parser drift fails the hash. */
  def qMmMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r18: the header decode is one call into the SAME real parser
    // ([[PpmCodec.decodeHeader]] via PpmHeaderDecode), lifted into the
    // projection — the old Dataset mapPartitions round-trip
    // deserialized every ~19 KB payload into a Scala tuple just to
    // read its first ~15 header bytes and take bytes.length
    payloadFrame(s, dir)
      .select($"doc_id", $"media_type", $"n_frames", $"payload",
        PpmExprs.ppmHeaderDecode($"payload").as("hdr"))
      .select($"doc_id", $"media_type", $"hdr.width".as("width"),
        $"hdr.height".as("height"), $"n_frames",
        length($"payload").as("payload_bytes"))
      .orderBy($"doc_id")
  }

  /** The ONE oracle-side metadata CTE chain every q_mm_* oracle
    * interpolates — the SQL twin of [[metaFrame]], so a metadata
    * change can never be applied to one oracle and missed in
    * another. */
  private val metaCte: String =
    s"""h AS (SELECT doc_id, md5(text) AS hex FROM documents),
       |m0 AS (
       |  SELECT doc_id, hex,
       |    ['image', 'audio', 'video'][(${duckHexToInt("substring(hex, 1, 2)")} % 3 + 1)::INTEGER] AS media_type,
       |    (${duckHexToInt("substring(hex, 3, 2)")} % 64 + 16)::INTEGER AS width,
       |    (${duckHexToInt("substring(hex, 5, 2)")} % 64 + 16)::INTEGER AS height
       |  FROM h
       |),
       |m AS (
       |  SELECT doc_id, hex, media_type, width, height,
       |    CASE WHEN media_type = 'video'
       |         THEN (${duckHexToInt("substring(hex, 7, 2)")} % 120 + 8)::INTEGER
       |         ELSE 1 END AS n_frames
       |  FROM m0
       |)""".stripMargin

  /** Oracle twin of [[ppmPayloadSql]]: the identical P6 bytes,
    * constructed in DuckDB. */
  // NOTE: no line here may begin with `||` — the interpolating
  // oracles apply stripMargin AFTER splicing this in, which would eat
  // one pipe of a line-leading concat operator.
  private val payloadCteSql: String =
    "p AS (SELECT doc_id, " +
      "encode('P6' || chr(10) || width || ' ' || height || chr(10) || " +
      "'255' || chr(10)) || " +
      "unhex(substring(repeat(hex, CAST(ceil(width * height * 3 / 16.0) AS INTEGER)), " +
      "1, width * height * 6)) AS payload FROM m)"

  val qMmMetaSql: String =
    s"""WITH $metaCte,
       |$payloadCteSql
       |SELECT m.doc_id, media_type, width, height, n_frames,
       |  octet_length(payload)::INTEGER AS payload_bytes
       |FROM m JOIN p ON m.doc_id = p.doc_id
       |ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------- frames

  /** Frame-sampling plan for video payloads: every 8th frame, with the
    * byte offset a decoder would seek to — the explode gives the
    * (doc, frame) work-list a downstream batched decoder consumes.
    * Metadata-driven BY DESIGN: the plan reads stored dims, decoding
    * nothing (see the object doc — at 100 TB the decode belongs on
    * the worker consuming this plan, not on the planner). */
  def qMmFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    metaFrame(s, dir)
      .filter($"media_type" === "video")
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1, 8)")))
      .select($"doc_id", $"frame_idx".cast("int").as("frame_idx"),
        ($"frame_idx".cast("long") * $"width" * $"height" * 3L).as("byte_offset"))
      .orderBy($"doc_id", $"frame_idx")
  }

  val qMmFramesSql: String =
    s"""WITH $metaCte,
       |v AS (SELECT * FROM m WHERE media_type = 'video')
       |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
       |  f::BIGINT * width * height * 3 AS byte_offset
       |FROM v, unnest(range(0, n_frames, 8)) AS t(f)
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- features

  /** Batched feature extraction over REAL decoded pixels — the Scala
    * analog of a pandas-UDF `mapInPandas` decoder: payloads stream
    * through `mapPartitions` in fixed-size batches; each payload is
    * parsed by the real codec and the brightness is the mean of its
    * RGB raster (header bytes excluded — that is what makes it an
    * image feature, not a byte hash). NULL/empty payloads are DEFINED
    * inputs → 0.0, never an NPE or NaN; the oracle's CASE mirrors the
    * same rule. */
  def extractFeatures(payloads: DataFrame, batchSize: Int): DataFrame = {
    val s = payloads.sparkSession
    import s.implicits._
    payloads.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val brightness =
              if (bytes == null || bytes.isEmpty) 0.0
              else {
                val (_, _, raster) = PpmCodec.decode(bytes)
                var sum = 0L
                raster.foreach(b => sum += (b & 0xff))
                math.round(sum.toDouble / raster.length / 255.0 * 10000) / 10000.0
              }
            (id, brightness)
          }
        }
      }
      .toDF("doc_id", "brightness")
  }

  def qMmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    extractFeatures(
      payloadFrame(s, dir).select($"doc_id", $"payload"), batchSize = DecodeBatch)
      .orderBy($"doc_id")
  }

  /** Oracle: raster byte k is md5-byte (k mod 16) — the tiled
    * construction — so the raster sum over L = w*h*3 bytes is
    * (full tiles)·Σbytes + the leading remainder, all exact integer
    * arithmetic; brightness divides at the end. */
  val qMmFeaturesSql: String =
    s"""WITH $metaCte,
       |b AS (
       |  SELECT doc_id, width, height,
       |    CASE WHEN hex IS NULL THEN NULL
       |         ELSE list_transform(range(0, 16),
       |           i -> ${duckHexToInt("substring(hex, 2*i + 1, 2)")}) END AS bytes
       |  FROM m
       |),
       |rs AS (
       |  SELECT doc_id,
       |    width::BIGINT * height * 3 AS L,
       |    list_sum(bytes) * (width::BIGINT * height * 3 // 16)
       |      + COALESCE(list_sum(bytes[1:((width::BIGINT * height * 3) % 16)::INTEGER]), 0)
       |      AS raster_sum
       |  FROM b WHERE bytes IS NOT NULL
       |)
       |SELECT m.doc_id,
       |  CASE WHEN rs.doc_id IS NULL THEN 0.0
       |       ELSE round(CAST(raster_sum AS DOUBLE) / L / 255.0, 4) END AS brightness
       |FROM m LEFT JOIN rs ON m.doc_id = rs.doc_id
       |ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------- resize

  /** Resize: fit each decoded image into a [[ResizeBox]]×[[ResizeBox]]
    * box preserving aspect ratio (standard vision-model
    * preprocessing, never upscaling) and RUN the resample — real
    * nearest-neighbor pixel loop over the decoded raster
    * ([[PpmCodec.resample]]). `resampled_sum` is the exact byte sum
    * of the resampled raster — the checksum that proves the oracle
    * and the engine produced the same pixels; `out_bytes` is the
    * full-payload output volume (× n_frames for video). Target dims
    * via floor (bit-identical across engines, unlike
    * banker's-vs-half-up rounding). */
  private val ResizeBox = 32.0

  def qMmResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    payloadFrame(s, dir)
      .filter($"media_type" =!= "audio")
      .select($"doc_id", $"media_type", $"n_frames", $"payload")
      .as[(Long, String, Int, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, mt, nf, bytes) =>
            val (w, h, raster) = PpmCodec.decode(bytes)
            val scale = math.min(1.0, math.min(ResizeBox / w, ResizeBox / h))
            val outW = math.max(1, math.floor(w * scale).toInt)
            val outH = math.max(1, math.floor(h * scale).toInt)
            val out = PpmCodec.resample(w, h, raster, outW, outH)
            var sum = 0L
            out.foreach(b => sum += (b & 0xff))
            (id, mt, w, h, math.round(scale * 10000) / 10000.0,
              outW, outH, outW.toLong * outH * 3L * nf, sum)
          }
        }
      }
      .toDF("doc_id", "media_type", "width", "height", "scale",
        "out_w", "out_h", "out_bytes", "resampled_sum")
      .orderBy($"doc_id")
  }

  /** Oracle resample: output pixel (oy, ox, c) reads source byte
    * ((oy·h//outH)·w + (ox·w//outW))·3 + c, whose value is md5-byte
    * (index mod 16) under the tiled raster — the same integer
    * mapping [[PpmCodec.resample]] runs, replayed per-pixel in SQL. */
  val qMmResizeSql: String =
    s"""WITH $metaCte,
       |b AS (
       |  SELECT doc_id, media_type, width, height, n_frames,
       |    list_transform(range(0, 16),
       |      i -> ${duckHexToInt("substring(hex, 2*i + 1, 2)")}) AS bytes,
       |    least($ResizeBox / width, $ResizeBox / height, 1.0) AS raw_scale
       |  FROM m WHERE media_type <> 'audio'
       |),
       |r AS (
       |  SELECT *, greatest(floor(width * raw_scale), 1)::INTEGER AS out_w,
       |    greatest(floor(height * raw_scale), 1)::INTEGER AS out_h
       |  FROM b
       |)
       |SELECT doc_id, media_type, width, height,
       |  round(raw_scale, 4) AS scale, out_w, out_h,
       |  out_w::BIGINT * out_h * 3 * n_frames AS out_bytes,
       |  CAST(list_sum(flatten(list_transform(range(0, out_h), oy ->
       |    list_transform(range(0, out_w * 3), oxc ->
       |      bytes[1 + ((((oy * height // out_h) * width
       |        + ((oxc // 3) * width) // out_w) * 3 + oxc % 3) % 16)::INTEGER]
       |    )))) AS BIGINT) AS resampled_sum
       |FROM r ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_meta" -> (qMmMeta(_, _)),
    "q_mm_frames" -> (qMmFrames(_, _)),
    "q_mm_features" -> (qMmFeatures(_, _)),
    "q_mm_resize" -> (qMmResize(_, _)))

  val oracles: Map[String, String] = Map(
    "q_mm_meta" -> qMmMetaSql,
    "q_mm_frames" -> qMmFramesSql,
    "q_mm_features" -> qMmFeaturesSql,
    "q_mm_resize" -> qMmResizeSql)
}
