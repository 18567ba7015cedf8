package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing (builder-prompt north star): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extraction as a typed
  * `mapPartitions` stage.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * clearly-marked DETERMINISTIC FAKE standing in for a real decoder
  * (e.g. JPEG → pixel tensor). Everything around it — binary column
  * construction, metadata schema, per-partition batch shape,
  * partitioning — is real and is what a production decode pipeline
  * would reuse unchanged: swap `decodeStub` for a JNI/codec call and
  * the plan is identical. Per-partition iterator processing (not
  * per-row UDF) is the shape that amortizes decoder init at scale.
  */
object Multimodal {

  /** An opaque media payload + typed metadata. */
  case class Asset(doc_id: Long, fmt: String, width: Int, height: Int,
      data: Array[Byte])

  /** Decoded features per asset, including sampled "frames" and the
    * resized payload's size/checksum. `frame_firsts` is a canonical
    * comma-joined string, not an array: the driver's differential diff
    * sorts rows in pandas, where array cells are unhashable (the
    * round-1 `err`), and a string survives both the sort and the
    * cross-engine hash. */
  case class AssetFeatures(doc_id: Long, n_frames: Int, mean_byte: Double,
      checksum: Long, frame_firsts: String, resized_n_bytes: Int,
      resized_checksum: Long)

  /** 31-polynomial checksum mod 1e9+7 over unsigned bytes. Portable by
    * construction: every intermediate fits in an int64 (acc < 2^30,
    * acc*31 + 255 < 2^35), so a DuckDB `list_reduce` computes the
    * identical value — which is what upgrades m02 from rows-only to a
    * fully oracle-checked row. */
  private def polyChecksum(bytes: Array[Byte], step: Int): Long = {
    val P = 1000000007L
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % P
      i += step
    }
    acc
  }

  /** One sampled frame of an opaque payload, as its own row. */
  case class FrameSample(doc_id: Long, frame_no: Int, byte_off: Int,
      n_bytes: Int, frame_checksum: Long)

  /** 31-poly checksum over a byte slice (the per-frame variant of
    * [[polyChecksum]]; same portability argument). */
  private def polyChecksumSlice(bytes: Array[Byte], from: Int, len: Int): Long = {
    val P = 1000000007L
    var acc = 0L
    var i = from
    val end = from + len
    while (i < end) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % P
      i += 1
    }
    acc
  }

  /** STUB decoder — deterministic fake. A real implementation would
    * decode `a.data` with an image/audio codec; this one derives
    * stand-in features from the raw bytes so the pipeline shape (and
    * its tests) are real while the codec is not present:
    *  - n_frames: 256-byte blocks ≈ "frames" sampled from a video
    *  - mean_byte: stand-in for mean pixel intensity
    *  - checksum: portable 31-poly hash (decode integrity check)
    *  - frame_firsts: first byte of every "frame" — the frame-sampling
    *    shape (every Nth unit of an opaque payload → a typed sample) */
  private def decodeStub(a: Asset): AssetFeatures = {
    val bytes = a.data
    var sum = 0.0
    var i = 0
    while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
    val nFrames = (bytes.length + 255) / 256
    val frames = Array.tabulate(nFrames)(f => bytes(f * 256) & 0xff)
    // "resize": nearest-neighbor down-sample of the payload to ≤128
    // units — the stub for image/audio resampling; a real resize swaps
    // the byte picker for a pixel interpolator, the shape is identical.
    val step = math.max(1, bytes.length / 128)
    val resizedN = if (bytes.isEmpty) 0 else (bytes.length - 1) / step + 1
    AssetFeatures(a.doc_id, nFrames,
      if (bytes.length == 0) 0.0 else sum / bytes.length,
      polyChecksum(bytes, 1), frames.mkString(","),
      resizedN, polyChecksum(bytes, step))
  }

  /** A payload's fixed-dim embedding row (m07/s11). */
  case class AssetEmbedding(doc_id: Long, embedding: Array[Float])

  private val EmbDims = 16

  /** ENCODER stub: payload → fixed-dim embedding — the image/audio
    * encoder step of an LLM data pipeline (CLIP/wav2vec shape). A real
    * implementation runs a model forward pass over the decoded tensor;
    * this marked stand-in derives dim j from the bytes at positions
    * ≡ j (mod 16) via the portable poly-31 fold, reduced mod 2048 —
    * so every component is an integer-valued float (exact in float32
    * AND recomputable by DuckDB from char codes), which is what makes
    * m07 fully oracle-checkable and the downstream dot/cosine
    * arithmetic cross-engine stable. Swap the fold for a codec+model
    * call and the column type, batch shape, and every consumer (the
    * s-family index build included) are unchanged. */
  private[operators] def encodeStub(a: Asset): AssetEmbedding = {
    val P = 1000000007L
    val b = a.data
    val acc = new Array[Long](EmbDims)
    var i = 0
    while (i < b.length) {
      val j = i % EmbDims
      acc(j) = (acc(j) * 31L + (b(i) & 0xffL)) % P
      i += 1
    }
    AssetEmbedding(a.doc_id, acc.map(v => (v % 2048L).toFloat))
  }

  /** documents → (doc_id, embedding) through the encoder stub — the
    * multimodal column s11 feeds into the shared IVF index build. */
  private[operators] def assetEmbeddings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.spread(assets(s, d)).as[Asset]
      .mapPartitions(it => it.map(encodeStub))
      .toDF()
  }

  /** A payload's perceptual hash row (m06). */
  case class MediaHash(doc_id: Long, phash: Long)

  /** 56-bit dHash of the stub-decoded payload: an 8×8 "grayscale
    * grid" sampled at even byte strides, one bit per horizontal
    * gradient (grid(r)(c) < grid(r)(c+1): 7 bits × 8 rows). A real
    * pipeline decodes pixels and box-downsamples; the grid sampler is
    * the marked stub (the m02 discipline) — swap it for a decoder and
    * the hash/banding/rescore machinery is unchanged. 56 bits keeps
    * the hash a positive int64 in both engines (bit 63 would hit the
    * sign bit, where DuckDB's shift and Spark's disagree on
    * overflow). */
  private def dhashStub(a: Asset): MediaHash = {
    val b = a.data
    val n = b.length
    val grid = Array.tabulate(64)(i => b((i.toLong * n / 64).toInt) & 0xff)
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (grid(r * 8 + c) < grid(r * 8 + c + 1)) h |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    MediaHash(a.doc_id, h)
  }

  /** documents → assets: text bytes stand in for the media payload;
    * fmt/width/height are deterministic metadata. */
  private def assets(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "jpeg")
        .otherwise("wav").as("fmt"),
      ((col("doc_id") % 16 + 1) * 64).cast(IntegerType).as("width"),
      ((col("doc_id") % 9 + 1) * 64).cast(IntegerType).as("height"),
      encode(col("text"), "UTF-8").as("data"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.GraftSession.prepared(Map(

    // ── m01: multimodal ingest — binary payload column + typed
    // metadata; the byte-level facts are oracle-checked.
    "m01_multimodal_meta" -> ((s, d) => {
      assets(s, d)
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          octet_length(col("data")).cast(IntegerType).as("n_bytes"),
          (col("width").cast(LongType) * col("height")).as("n_pixels"))
        .orderBy(col("doc_id"))
    }),

    // ── m02: decode + feature extraction via typed mapPartitions
    // (decoder is a marked stub; plumbing is real). Oracle-checked:
    // the stub's arithmetic is deliberately portable (poly-31 mod
    // 1e9+7 over ASCII bytes == DuckDB's char-code fold).
    "m02_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      // spread: on a one-split corpus the whole decode runs on one core
      val ds: Dataset[Asset] = Tables.spread(assets(s, d)).as[Asset]
      ds.mapPartitions(it => it.map(decodeStub))
        .toDF()
        .select(col("doc_id"), col("n_frames"),
          round(col("mean_byte"), 6).as("mean_byte"), col("checksum"),
          col("frame_firsts"), col("resized_n_bytes"), col("resized_checksum"))
        .orderBy(col("doc_id"))
    }),

    // ── m03: FRAME SAMPLING as one-to-many rows — the other decode
    // shape a video/audio pipeline needs: not per-asset features (m02)
    // but a FRAME DATASET (every 2nd 128-byte "frame" → its own row
    // with offset/length/checksum), the input to downstream per-frame
    // feature extraction or training-example packing. A typed flatMap
    // keeps it streaming: no per-asset frame array is ever
    // materialized, and output rows vastly outnumbering input rows is
    // the normal regime (hours of video → millions of frames). The
    // "decode" is the same marked stub byte-slicer as m02 — swap it
    // for a codec's frame iterator and the plan is identical. At real
    // scale this is narrow and shuffle-free until the presentation
    // sort: frame rows flow straight into the next stage without
    // landing.
    "m03_frame_sample" -> ((s, d) => {
      import s.implicits._
      val ds: Dataset[Asset] = Tables.spread(assets(s, d)).as[Asset]
      ds.flatMap { a =>
        val n = a.data.length
        val nFrames = (n + 127) / 128
        Iterator.range(0, nFrames, 2).map { f =>
          val off = f * 128
          val len = math.min(128, n - off)
          FrameSample(a.doc_id, f, off, len, polyChecksumSlice(a.data, off, len))
        }
      }.toDF()
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // ── m04: BINARY-FILE SOURCE — the real multimodal ingest path: a
    // directory of opaque media files read by Spark's `binaryFile`
    // source, one row per file (path, length, content, modTime). The
    // OPERATOR under test is the scan + filename→key parse + integrity
    // checksum over the bytes; the fixture files are materialized once
    // per (app, dataset) by a distributed foreachPartition write
    // (fixture setup standing in for the files a real deployment
    // already has). `pathGlobFilter` scopes the listing; at scale the
    // source lists in parallel and each file is one task's read — no
    // driver-side directory walk. The checksum rides the ASCII
    // byte==char-code identity the m01/m02 contract already pins, so
    // the whole row — key, size, content hash — is oracle-checked
    // against the source-of-truth table.
    "m04_binaryfile_ingest" -> ((s, d) => {
      val dir = graft.Scratch.dir(s, "graft_m04", d)
      graft.Scratch.materializeOnce(dir) {
        Tables(s, d, "documents").select(col("doc_id"), col("text"))
          .repartition(8)
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$dir/${r.getLong(0)}.bin"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(dir)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast(LongType).as("doc_id"),
          col("length").cast(IntegerType).as("n_bytes"),
          graft.functions.PortableHashFunctions
            .polyHash(col("content").cast(StringType)).as("content_hash"))
        .orderBy(col("doc_id"))
    }),

    // ── m05: AVRO-ENCODED PAYLOAD COLUMN round trip — the Kafka-value
    // shape: each row's payload is ONE binary Avro record (no
    // container file), encoded and decoded with per-partition
    // amortized codec state (reused BinaryEncoder/BinaryDecoder and
    // record instances — the m02 discipline; a per-row codec alloc is
    // the UDF smell this module exists to avoid). The aggregate over
    // the DECODED rows must hash-match DuckDB aggregating the original
    // table — long/string/double fidelity through the binary codec.
    // Swap the in-plan encode for `kafka.value` and the decode stage
    // is exactly a production consumer's.
    "m05_avro_payload" -> ((s, d) => {
      import s.implicits._
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
      import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
      val payloadSchema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = false),
        StructField("value", DoubleType, nullable = false)))
      val avroJson =
        graft.sources.AvroFiles.toAvroSchema(payloadSchema, "graft_evt")
          .toString
      val src = Tables.spread(Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value")))
      val encoded: Dataset[Array[Byte]] = src.mapPartitions { it =>
        val schema = new Schema.Parser().parse(avroJson)
        val writer = new GenericDatumWriter[GenericRecord](schema)
        val bos = new java.io.ByteArrayOutputStream()
        var enc: BinaryEncoder = null
        val rec = new GenericData.Record(schema)
        it.map { row =>
          bos.reset()
          enc = EncoderFactory.get().binaryEncoder(bos, enc)
          rec.put(0, java.lang.Long.valueOf(row.getLong(0)))
          rec.put(1, row.getString(1))
          rec.put(2, java.lang.Double.valueOf(row.getDouble(2)))
          writer.write(rec, enc)
          enc.flush()
          bos.toByteArray
        }
      }
      val decoded = encoded.mapPartitions { it =>
        val schema = new Schema.Parser().parse(avroJson)
        val reader = new GenericDatumReader[GenericRecord](schema)
        var dec: BinaryDecoder = null
        var rec: GenericRecord = null
        it.map { bytes =>
          dec = DecoderFactory.get().binaryDecoder(bytes, dec)
          rec = reader.read(rec, dec)
          (rec.get(0).asInstanceOf[Long], rec.get(1).toString,
            rec.get(2).asInstanceOf[Double])
        }
      }.toDF("event_id", "event_type", "value")
      decoded.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("id_sum"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents_sum"))
        .orderBy(col("event_type"))
    }),

    // ── m06: PERCEPTUAL-HASH MEDIA NEAR-DUP — image dedup for the
    // multimodal corpus: every payload "decodes" (stub) to an 8×8
    // grid, hashes to a 56-bit dHash, and near-duplicate pairs
    // surface through d03's pigeonhole machinery — 4×14-bit bands
    // bucket candidates (hamming ≤ 3 guarantees one clean band, so
    // banding is recall-complete for the cutoff), a 64-cap keeps any
    // degenerate bucket from going quadratic, and the exact hamming
    // rescore runs only on banded candidates. One narrow decode pass
    // per payload + two hash-sized shuffles; the payload bytes never
    // shuffle. This is text-SimHash's (d03) shape deliberately: a real
    // curation pipeline runs BOTH, one per modality, over different
    // decoders — here the decoder is the swap point, the pipeline is
    // identical, and the whole result (hash, banding, rescore) is
    // oracle-replayed byte-for-byte.
    //
    // The fixture has no payload-level near-dups (its text variants
    // shift bytes, which no stride sampler survives — the honest
    // limitation of any grid hash under insertion), so every 37th
    // asset gains a RE-ENCODED VARIANT (the t08 augmentation
    // precedent): one byte swapped at grid cell 17's exact sample
    // position, the "lightly corrupted copy" perceptual dedup exists
    // to catch. One cell moves ⇒ at most its two gradient bits flip
    // ⇒ hamming ≤ 2, safely inside the pigeonhole cutoff, and the
    // oracle builds the identical variant.
    "m06_media_dedup" -> ((s, d) => {
      import s.implicits._
      val base = Tables(s, d, "documents")
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          expr("concat(substring(text, 1, (17 * length(text)) div 64), 'Z', " +
            "substring(text, (17 * length(text)) div 64 + 2))").as("text"))
      val ds: Dataset[Asset] = Tables.spread(
        base.unionByName(variants)
          .select(col("doc_id"), lit("png").as("fmt"),
            lit(64).as("width"), lit(64).as("height"),
            encode(col("text"), "UTF-8").as("data"))).as[Asset]
      // hash table consumed by banding AND both rescore sides:
      // materialize once (the d10 discipline)
      val ph = ds.mapPartitions(_.map(dhashStub)).toDF().localCheckpoint()
      val chunks = (0 until 4).foldLeft(ph)((df, c) =>
        df.withColumn(s"c$c", expr(s"shiftright(phash, ${14 * c}) & 16383")))
        .select(col("doc_id"),
          posexplode(array((0 until 4).map(c => col(s"c$c")): _*))
            .as(Seq("chunk_id", "chunk_val")))
      val cands = chunks.groupBy(col("chunk_id"), col("chunk_val"))
        .agg(collect_set(col("doc_id")).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= 64)
        .select(explode(col("ids")).as("a_id"), col("ids"))
        .select(col("a_id"), explode(col("ids")).as("b_id"))
        .filter(col("a_id") < col("b_id"))
        .distinct()
      val ha = ph.select(col("doc_id").as("a_id"), col("phash").as("ph_a"))
      val hb = ph.select(col("doc_id").as("b_id"), col("phash").as("ph_b"))
      cands.join(ha, "a_id").join(hb, "b_id")
        .withColumn("hamming", expr("cast(bit_count(ph_a ^ ph_b) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ── m07: PAYLOAD → EMBEDDING COLUMN — the encoder step between
    // multimodal ingest and vector search (s11 feeds this exact
    // column into the shared IVF index build). The render flattens
    // the array to a canonical CSV + integer norm (the m02
    // discipline: pandas can't hash array cells), but the UNDERLYING
    // column is a real ArrayType(Float) the s-family consumes
    // unchanged. Every value is integer-valued by construction, so
    // the whole row is oracle-exact.
    "m07_multimodal_embed" -> ((s, d) => {
      assetEmbeddings(s, d)
        .select(col("doc_id"),
          size(col("embedding")).as("n_dims"),
          expr("array_join(transform(embedding, " +
            "x -> CAST(x AS BIGINT)), ',')").as("emb_csv"),
          expr("aggregate(embedding, 0L, (acc, x) -> " +
            "acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))").as("sq_norm"))
        .orderBy(col("doc_id"))
    })
  ))

  val oracles: Map[String, String] = Map(
    "m01_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
        |  CAST((doc_id % 16 + 1) * 64 AS INTEGER) AS width,
        |  CAST((doc_id % 9 + 1) * 64 AS INTEGER) AS height,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST((doc_id % 16 + 1) * 64 * ((doc_id % 9 + 1) * 64) AS BIGINT) AS n_pixels
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the decode stub's arithmetic restated over DuckDB char codes —
    // valid because the corpus is ASCII (byte i == ord(char i)), which
    // the m01 n_bytes==length check pins
    "m02_multimodal_decode" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    list_transform(string_split(text, ''), ch -> ord(ch)) AS codes
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((n + 255) // 256 AS INTEGER) AS n_frames,
        |  round(CAST(list_sum(codes) AS DOUBLE) / n, 6) AS mean_byte,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS checksum,
        |  array_to_string(list_transform(range(0, (n + 255) // 256),
        |    f -> codes[f * 256 + 1]), ',') AS frame_firsts,
        |  CAST(len(range(0, n, greatest(1, n // 128))) AS INTEGER) AS resized_n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, n, greatest(1, n // 128)), i -> codes[i + 1])),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS resized_checksum
        |FROM c ORDER BY doc_id""".stripMargin,

    // every 2nd 128-byte block restated as an unnest over the frame
    // range; DuckDB list slices are 1-based inclusive
    "m03_frame_sample" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    list_transform(string_split(text, ''), ch -> ord(ch)) AS codes
        |  FROM documents),
        |f AS (SELECT doc_id, n, codes,
        |    unnest(range(0, (n + 127) // 128, 2)) AS frame_no FROM c)
        |SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
        |  CAST(frame_no * 128 AS INTEGER) AS byte_off,
        |  CAST(least(128, n - frame_no * 128) AS INTEGER) AS n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      codes[frame_no * 128 + 1 :
        |            frame_no * 128 + least(128, n - frame_no * 128)]),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS frame_checksum
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,

    // the file facts restated from the source-of-truth table: size =
    // octet_length, hash = the standard polyHash char fold (ASCII
    // byte == char code, pinned by m01/m02)
    "m04_binaryfile_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), ch -> ord(ch))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    // codec fidelity: the aggregate over decoded payloads must equal
    // the direct aggregate over the source table
    "m05_avro_payload" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the full m06 pipeline replayed over the ASCII byte==char-code
    // identity the m01/m02 contract pins: base ∪ re-encoded variants →
    // stride-sampled 8×8 grid → 56-bit gradient hash → 4×14-bit
    // banding (64-cap) → hamming ≤ 3
    "m06_media_dedup" ->
      """WITH b AS (SELECT doc_id, text FROM documents
        |           WHERE length(text) >= 64),
        |t AS (SELECT doc_id, text, length(text) AS n FROM b
        |      UNION ALL
        |      SELECT doc_id + 10000000,
        |        substring(text, 1, (17 * length(text)) // 64) || 'Z'
        |          || substring(text, (17 * length(text)) // 64 + 2),
        |        length(text) AS n
        |      FROM b WHERE doc_id % 37 = 0),
        |g AS (SELECT doc_id, list_transform(generate_series(0, 63),
        |        i -> ord(substring(text, CAST(i * n // 64 AS INTEGER) + 1, 1)))
        |        AS grid
        |      FROM t),
        |ph AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 55), k ->
        |      CASE WHEN grid[(k // 7) * 8 + (k % 7) + 1]
        |               < grid[(k // 7) * 8 + (k % 7) + 2]
        |           THEN (CAST(1 AS BIGINT) << k)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
        |  FROM g),
        |ch AS (SELECT doc_id, c, (phash >> (14 * CAST(c AS INTEGER))) & 16383 AS v
        |       FROM ph, range(0, 4) AS tc(c)),
        |sz AS (SELECT c, v, count(*) AS cnt FROM ch GROUP BY c, v),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |         FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v
        |           AND x.doc_id < y.doc_id
        |         JOIN sz s2 ON s2.c = x.c AND s2.v = x.v AND s2.cnt <= 64)
        |SELECT a_id, b_id,
        |  CAST(bit_count(xor(pa.phash, pb.phash)) AS INTEGER) AS hamming
        |FROM cand JOIN ph pa ON pa.doc_id = a_id
        |          JOIN ph pb ON pb.doc_id = b_id
        |WHERE bit_count(xor(pa.phash, pb.phash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // the encoder stub restated: dim j = poly-31 fold over char codes
    // at positions ≡ j (mod 16), mod 2048 (ASCII corpus ⇒ byte i ==
    // ord(char i), pinned by m01)
    "m07_multimodal_embed" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), ch -> ord(ch)) AS codes
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(j, len(codes), 16), i -> codes[i + 1])),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 2048 AS v
        |  FROM c, UNNEST(generate_series(0, 15)) AS t(j))
        |SELECT doc_id, CAST(16 AS INTEGER) AS n_dims,
        |  array_to_string(list(v ORDER BY j), ',') AS emb_csv,
        |  CAST(SUM(v * v) AS BIGINT) AS sq_norm
        |FROM dims GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
