package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column operators: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * Two payload families. The magic-header `media` relation below keeps
  * payloads OPAQUE — its operators (dedup, metadata, frames) are about
  * column pruning and byte-level plumbing, never codec work. The typed
  * decode/resize path at the bottom runs a REAL image codec
  * (`javax.imageio` PNG — on every stock JVM, no external libraries)
  * over deterministically generated PNG payloads, with every pixel
  * oracle-audited. Audio/video codecs aren't on a stock JVM; those
  * payloads stay opaque, and a JNI/ffmpeg decoder would plug into the
  * same batched mapPartitions seam the PNG path demonstrates for real.
  *
  * The `media` relation is derived deterministically from `documents`:
  * payload = 4-byte magic (by source id mod 3: IMG1/AUD1/VID1) ∥ UTF-8
  * text bytes. At 100 TB the payload column lives in its own parquet
  * column chunk — metadata-only queries never read it (column pruning),
  * and the decode stage is a narrow mapPartitions over payload batches.
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: createImageInputStream
  // / ImageIO.write each create-write-delete a temp FILE in java.io.tmpdir
  // PER IMAGE. On a hot decode path that is two tmpdir round-trips per
  // row, and the stage's latency becomes hostage to executor-local disk
  // state (measured here: the same 50k-image decode swung 0.33 s → 2.7 s
  // with /tmp under churn, back to ~0.3 s with the memory cache). Payloads
  // already sit in memory as byte arrays and batches are size-bounded, so
  // the memory-cache stream is strictly better. JVM-global, runs once per
  // executor when this object loads inside the mapPartitions closures.
  javax.imageio.ImageIO.setUseCache(false)

  /** The synthetic media table: doc_id, media_type, payload binary. */
  def media(spark: SparkSession, sfDir: String): DataFrame = {
    val magic = when(col("src_num") % 3 === 0, lit("IMG1"))
      .when(col("src_num") % 3 === 1, lit("AUD1"))
      .otherwise(lit("VID1"))
    Tables.documents(spark, sfDir)
      .withColumn("src_num",
        regexp_extract(col("source"), "(\\d+)", 1).cast("int"))
      .select(col("doc_id"),
        magic.as("media_type"),
        concat(magic.cast("binary"), col("text").cast("binary")).as("payload"))
  }

  /** Payload-level exact dedup — the multimodal face of `Dedup.exact`:
    * identical media BYTES collapse to one canonical row regardless of
    * which document carries them. Hashing happens per-row over the hex
    * form (engine-portable) and only (hash, doc_id) pairs shuffle — at
    * 100 TB the binary column never leaves its parquet column chunks
    * except to stream through the per-row hash.
    */
  def payloadDedup(spark: SparkSession, sfDir: String): DataFrame =
    media(spark, sfDir)
      .groupBy(md5(hex(col("payload"))).as("payload_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** Metadata extraction — never touches payload bytes beyond the header:
    * byte length, 4-byte magic (as 8 hex chars), media type decoded from
    * the magic.
    */
  def metadata(spark: SparkSession, sfDir: String): DataFrame =
    media(spark, sfDir).select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      substring(hex(col("payload")), 1, 8).as("header_hex"),
      when(substring(hex(col("payload")), 1, 8) === hex(lit("IMG1").cast("binary")), "image")
        .when(substring(hex(col("payload")), 1, 8) === hex(lit("AUD1").cast("binary")), "audio")
        .otherwise("video").as("kind"))

  /** STUB feature extraction (deterministic fake): 8 pseudo-features
    * derived from md5 of the payload hex. Real pipeline: replace the
    * arithmetic with a decoded-image embedding; the (doc_id, dim, value)
    * long-format output schema and the narrow per-row shape stay.
    */
  def featuresStub(spark: SparkSession, sfDir: String): DataFrame =
    media(spark, sfDir)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(7)), i =>
          graft.functions.TextFunctions.md5Int(
            concat(i.cast("string"), hex(col("payload"))), 4).cast("int")))
          .as(Seq("dim", "value")))

  /** Frame sampling: up to 3 fixed-stride 16-byte "frames" after the
    * 4-byte header, fingerprinted. Models video frame extraction: a
    * narrow per-row explode; at scale frames fan out to the decode stage
    * without reshuffling the parent payload.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val hexp = hex(col("payload"))
    media(spark, sfDir)
      .select(col("doc_id"),
        posexplode(filter(
          transform(sequence(lit(0), lit(2)), f =>
            substring(hexp, f * 32 + 9, lit(32))),
          fr => length(fr) === 32)).as(Seq("frame_id", "frame_hex")))
      .withColumn("frame_md5", md5(col("frame_hex")))
  }

  // ---- typed decode path (mapPartitions, batch-shaped, REAL codec) ----
  //
  // The decode/resize stages run an actual image codec — `javax.imageio`'s
  // PNG reader/writer, present on every stock JVM — over synthetic
  // grayscale PNGs generated deterministically from doc_id. The payload
  // column holds genuine PNG bytes (signature, IHDR, deflate-compressed
  // IDAT); the decoder genuinely inflates them back to a raster. Because
  // pixel (x, y) of doc d is defined as (d*31 + 7x + 13y) mod 256 and PNG
  // is lossless, the DuckDB oracle can recompute every pixel
  // arithmetically — a decode that mangled even one byte would shift
  // `pixel_sum` and fail the hash compare.

  case class PngMedia(doc_id: Long, payload: Array[Byte])
  case class DecodedPng(doc_id: Long, media_type: String,
      width: Int, height: Int, pixel_sum: Long)
  case class ResizedPng(doc_id: Long, width: Int, height: Int,
      target_w: Int, target_h: Int, resized_sum: Long)

  /** Deterministic synthetic image: (doc_id%13+1) × (doc_id%11+2) 8-bit
    * grayscale, pixel (x,y) = (doc_id*31 + 7x + 13y) mod 256, encoded
    * through the JDK's real PNG writer.
    */
  private[operators] def encodePng(id: Long): Array[Byte] = {
    val w = (id % 13 + 1).toInt
    val h = (id % 11 + 2).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id * 31 + 7L * x + 13L * y) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The PNG media relation: doc_id + real encoded PNG payload bytes.
    * Narrow stage over `documents` — at scale this is the "payload column
    * in its own chunk" table the decode stage maps over.
    */
  def pngMedia(spark: SparkSession, sfDir: String): Dataset[PngMedia] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => PngMedia(id, encodePng(id))))
  }

  private def readPng(reader: javax.imageio.ImageReader,
      payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try { reader.setInput(iis); reader.read(0) } finally iis.close()
  }

  /** Decode stage: typed Dataset → mapPartitions in fixed-size batches —
    * the shape a codec wants (reader instantiated ONCE per batch and
    * reused across its rows, bounded decoded-buffer memory per task, no
    * shuffle). Emits the decoded dimensions and the exact gray-value sum
    * so the oracle can audit every pixel.
    */
  def decode(spark: SparkSession, sfDir: String, batchSize: Int = 32): Dataset[DecodedPng] = {
    import spark.implicits._
    pngMedia(spark, sfDir).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val reader =
          javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
        try batch.map { r =>
          val img = readPng(reader, r.payload)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += raster.getSample(x, y, 0); x += 1
            }
            y += 1
          }
          DecodedPng(r.doc_id, reader.getFormatName.toLowerCase,
            img.getWidth, img.getHeight, sum)
        }
        finally reader.dispose()
      }
    }
  }

  /** The production media-ingest path: real `.png` FILES on storage read
    * through Spark's `binaryFile` source (one row per file: path,
    * modificationTime, length, content) and decoded with the real codec.
    * Where [[pngMedia]] derives payloads in-plan, this is how a media
    * corpus actually arrives — a landing directory of blobs — and the
    * things that matter at 100 TB are source behaviors: `pathGlobFilter`
    * prunes non-media files at listing time, metadata-only queries
    * (count, size rollups) never read `content`, and each file is its
    * own split so decode parallelism follows file count. The `limitDocs`
    * files are written once per sfDir through [[graft.Staging]]; doc
    * identity travels IN THE FILE NAME, the only place a blob store
    * keeps it.
    */
  def mediaFilesDecode(spark: SparkSession, sfDir: String,
      limitDocs: Int = 200, batchSize: Int = 32): DataFrame = {
    import spark.implicits._
    val dir = graft.Staging.derived(spark, s"media_files$limitDocs", sfDir, Nil) { build =>
      val d = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(build))
      (0L until limitDocs.toLong).foreach { id =>
        java.nio.file.Files.write(d.resolve(f"doc_$id%05d.png"), encodePng(id))
      }
    }
    val decoded = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.png", 1).cast("long")
          .as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val reader =
            javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
          try batch.map { case (id, bytes) =>
            val img = readPng(reader, bytes)
            val raster = img.getRaster
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            (id, img.getWidth, img.getHeight, sum)
          }
          finally reader.dispose()
        }
      }
    decoded.toDF("doc_id", "width", "height", "pixel_sum")
  }

  /** Resize stage: decode → nearest-neighbor resample fitting the longer
    * side to `maxDim` (aspect-preserving, integer floor arithmetic —
    * target pixel (tx,ty) samples source (tx*w/tw, ty*h/th), the mapping
    * the oracle restates in SQL). Chained to decode without a shuffle:
    * both stages are narrow, one task pipeline. The resample reads the
    * REAL decoded raster — a codec bug upstream shifts `resized_sum`.
    */
  def resize(spark: SparkSession, sfDir: String, maxDim: Int = 8,
      batchSize: Int = 32): Dataset[ResizedPng] = {
    import spark.implicits._
    pngMedia(spark, sfDir).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val reader =
          javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
        try batch.map { r =>
          val img = readPng(reader, r.payload)
          val raster = img.getRaster
          val w = img.getWidth
          val h = img.getHeight
          val longer = math.max(w, h)
          val (tw, th) =
            if (longer <= maxDim) (w, h)
            else (math.max(1, w * maxDim / longer),
              math.max(1, h * maxDim / longer))
          var sum = 0L
          var ty = 0
          while (ty < th) {
            var tx = 0
            while (tx < tw) {
              sum += raster.getSample(tx * w / tw, ty * h / th, 0); tx += 1
            }
            ty += 1
          }
          ResizedPng(r.doc_id, w, h, tw, th, sum)
        }
        finally reader.dispose()
      }
    }
  }
}
