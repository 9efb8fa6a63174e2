package graft.operators

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media record entering the decode stage: opaque binary payload +
  * typed metadata (the schema a 100 TB multimodal lakehouse table
  * carries: payload as parquet BINARY, metadata as plain columns so
  * predicate pushdown can prune by format/dimensions WITHOUT touching
  * payload bytes).
  */
case class MediaRecord(
    doc_id: Long, format: String, width: Int, height: Int, payload: Array[Byte])

/** Features produced by the (stubbed) decoder. */
case class MediaFeatures(
    doc_id: Long, format: String, width: Int, height: Int,
    n_bytes: Long, luma: Double)

/** Multimodal column handling (q40): image/audio payloads as opaque
  * binary columns, decode/feature-extract as batched per-partition
  * processing.
  *
  * The container has no image/audio codecs, so `decodeBatch` is a
  * clearly-marked DETERMINISTIC STUB — but every piece of Spark
  * plumbing around it is real and oracle-verified: the binary payload
  * column, the typed metadata, the Dataset[T] encoder boundary, the
  * mapPartitions batch loop (batch shape = what a vectorized decoder
  * or GPU feature extractor needs), and the feature schema coming
  * back out. Swapping the stub for a real codec changes no plumbing.
  */
object Multimodal extends QueryPack {

  val batchSize = 64

  /** Attach payload + metadata to documents: payload = UTF-8 bytes of
    * the text standing in for media bytes; format/dims derived
    * deterministically from doc_id.
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "jpeg")
        .otherwise("wav").as("format"),
      (lit(32) + col("doc_id") % 64).cast("int").as("width"),
      (lit(32) + col("doc_id") % 48).cast("int").as("height"),
      encode(col("text"), "UTF-8").as("payload"))

  /** The pluggable decode seam — the [[graft.sources.DocumentStore]]
    * pattern applied to codecs: operators own the Spark plumbing
    * (typed Dataset boundary, per-partition batching, feature
    * schema); a deployment with real image/audio libraries drops in
    * its decoder WITHOUT touching any operator. Implementations see
    * fixed-size batches (≤ [[batchSize]] records), never single rows,
    * so vectorized / GPU decode amortizes; they ship to executors in
    * the task closure, hence Serializable — hold native handles
    * lazily (`@transient lazy val`), not in constructor fields.
    */
  trait FrameDecoder extends Serializable {
    def decode(batch: Seq[MediaRecord]): Seq[MediaFeatures]
  }

  /** Default [[FrameDecoder]] — the STUB this zero-codec build ships:
    * stands in for image decode / resize / frame sample with
    * deterministic fake features derived only from payload bytes and
    * metadata, so the DuckDB oracle can verify the plumbing end to
    * end. A real implementation would decode `r.payload` here.
    */
  object StubDecoder extends FrameDecoder {
    def decode(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val nBytes = r.payload.length.toLong // real byte work on the real payload
        MediaFeatures(r.doc_id, r.format, r.width, r.height,
          nBytes, (nBytes % 251) / 250.0)
      }
  }

  /** REAL image decoder for binary P6 PPM payloads — the seam with an
    * actual codec in it: parse the PPM header (`P6 <w> <h> <max>` with
    * whitespace/comment handling), then one pass over the RGB byte
    * triples computing mean Rec.601 luma. Pure JVM byte arithmetic —
    * PPM is the uncompressed interchange format, so no external
    * library is needed even in this zero-egress build, and the decode
    * work (header parse, bounds checks, per-pixel arithmetic over the
    * payload bytes) is the real thing, not a stand-in. A libjpeg-class
    * decoder drops into the same trait the same way. Dimensions come
    * from the PAYLOAD (the header), not the metadata columns —
    * validating stored metadata against decoded truth is exactly what
    * a real ingest decode stage does. Records that do not parse as P6
    * (wrong magic, truncated pixels) fail loudly with the doc_id — a
    * corrupt payload must never become silent fake features.
    */
  object PpmDecoder extends FrameDecoder {
    def decode(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val b = r.payload
        def fail(why: String): Nothing = throw new IllegalArgumentException(
          s"PpmDecoder: doc ${r.doc_id}: $why")
        var i = 0
        def skipWs(): Unit = {
          var go = true
          while (go && i < b.length) {
            if (b(i) == '#') while (i < b.length && b(i) != '\n') i += 1
            else if (b(i).toChar.isWhitespace) i += 1
            else go = false
          }
        }
        def int(): Int = {
          skipWs()
          val s = i
          while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
          if (i == s) fail(s"expected integer at byte $s")
          new String(b, s, i - s, "US-ASCII").toInt
        }
        if (b.length < 2 || b(0) != 'P' || b(1) != '6') fail("not a P6 PPM payload")
        i = 2
        val w = int(); val h = int(); val maxv = int()
        if (maxv <= 0 || maxv > 255) fail(s"unsupported maxval $maxv")
        i += 1 // the single whitespace byte after maxval
        val need = w.toLong * h * 3
        if (b.length - i < need) fail(
          s"truncated pixel data: need $need bytes, have ${b.length - i}")
        var lum = 0.0
        var p = i
        val end = i + need.toInt
        while (p < end) {
          val rr = b(p) & 0xff; val gg = b(p + 1) & 0xff; val bb = b(p + 2) & 0xff
          lum += 0.299 * rr + 0.587 * gg + 0.114 * bb
          p += 3
        }
        MediaFeatures(r.doc_id, "ppm", w, h, b.length.toLong,
          lum / (w.toLong * h) / maxv)
      }
  }

  /** REAL audio decoder for PCM16 WAV payloads: parse the RIFF/fmt
    * chunks (little-endian), require uncompressed 16-bit PCM, then one
    * pass over the samples computing RMS amplitude in [0,1] — reported
    * through the shared feature schema (`luma` doubles as the scalar
    * signal statistic; width/height carry channels/sample-rate-kHz).
    * Same rationale as [[PpmDecoder]]: the uncompressed format needs
    * no external codec, so the seam ships with genuine byte-level
    * decode in this build.
    */
  /** Parsed PCM16 WAV layout: the chunk walk shared by
    * [[WavDecoder]] (RMS features) and [[wavEnergy48]] (the
    * block-energy fingerprint) — one place for the header contract
    * and the corrupt-chunk-size guard.
    */
  private[graft] final case class WavInfo(
      channels: Int, rate: Long, dataOff: Int, dataBytes: Int)

  private[graft] def parseWav(docId: Long, b: Array[Byte]): WavInfo = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"WavDecoder: doc $docId: $why")
    def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int) = new String(b, o, 4, "US-ASCII")
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") fail("not a RIFF/WAVE payload")
    var o = 12
    var fmtOk = false; var channels = 0; var rate = 0L
    var data: Option[(Int, Int)] = None // (offset, bytes)
    while (o + 8 <= b.length && data.isEmpty) {
      val id = tag(o); val sz = u32(o + 4).toInt
      // A corrupt size (negative after the u32→Int narrowing, or past
      // the payload end) must fail loudly BEFORE the cursor advances:
      // sz = -8/-9 would make the advance zero or negative — a hung
      // executor task, worse than any wrong answer.
      if (sz < 0 || sz > b.length - o - 8) fail(s"invalid chunk size $sz at offset $o")
      if (id == "fmt ") {
        if (u16(o + 8) != 1 || u16(o + 22) != 16) fail("only uncompressed PCM16 supported")
        channels = u16(o + 10); rate = u32(o + 12)
        fmtOk = true
      } else if (id == "data") data = Some((o + 8, sz))
      o += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (!fmtOk) fail("missing fmt chunk")
    val (off, sz) = data.getOrElse(fail("missing data chunk"))
    if (off + sz > b.length) fail("truncated data chunk")
    WavInfo(channels, rate, off, sz)
  }

  object WavDecoder extends FrameDecoder {
    def decode(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val b = r.payload
        val WavInfo(channels, rate, off, sz) = parseWav(r.doc_id, b)
        val n = sz / 2
        var acc = 0.0
        var p = off
        while (p + 1 < off + sz) {
          val s = ((b(p) & 0xff) | (b(p + 1) << 8)).toShort.toDouble / 32768.0
          acc += s * s
          p += 2
        }
        val rms = if (n == 0) 0.0 else math.sqrt(acc / n)
        MediaFeatures(r.doc_id, "wav", channels, (rate / 1000).toInt,
          b.length.toLong, rms)
      }
  }

  /** REAL compressed-image decoder via the JDK's bundled `javax.imageio`
    * plugins — PNG, JPEG, GIF and BMP decode ship inside every JRE, so
    * this zero-egress build gets genuine compressed-format decode with
    * zero new dependencies. Dimensions come from the DECODED image (the
    * payload's truth), not the metadata columns — validating stored
    * metadata against decoded pixels is exactly what a real ingest
    * decode stage does; `luma` is the mean Rec.601 luma over every
    * pixel. `ImageIO.read` returns null (not an exception) when no
    * plugin claims the bytes, and the contract here is the same as
    * [[PpmDecoder]]/[[WavDecoder]]: a corrupt or unrecognized payload
    * fails LOUDLY with the doc id — never silent fake features, never
    * a hung task. Decode is in-memory (`setUseCache(false)`): no
    * per-record temp-file I/O on executors.
    */
  object ImageIoDecoder extends FrameDecoder {
    javax.imageio.ImageIO.setUseCache(false)

    private[graft] def read(docId: Long,
        payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"ImageIoDecoder: doc $docId: decode failed: ${e.getMessage}", e)
        }
      if (img == null) throw new IllegalArgumentException(
        s"ImageIoDecoder: doc $docId: payload is not a decodable image " +
          "(no ImageIO plugin claimed it)")
      img
    }

    private def luma(rgb: Int): Double =
      (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)) / 255.0

    /** The whole raster as one packed-int array, read ONCE: the
      * per-pixel `getRGB(x, y)` form pays bounds checks plus a
      * ColorModel conversion PER CALL (and the bulk `getRGB(0, y, w,
      * 1, ...)` row form still converts pixel-by-pixel inside), which
      * on megapixel JPEGs is the dominant cost — and these loops are
      * the per-record hot path of a 100 TB image scan. Decoders hand
      * back TYPE_3BYTE_BGR/other layouts, so convert via ONE
      * `drawImage` blit into TYPE_INT_RGB (AWT's optimized conversion
      * loop, same sRGB values `getRGB` produces) and then index the
      * backing DataBufferInt directly. Values identical —
      * MultimodalSpec pins them; the A/B is recorded in BASELINE.md
      * (Round 18, "ImageIoDecoder raster-once pixel reads").
      */
    private def pixels(img: java.awt.image.BufferedImage): Array[Int] = {
      import java.awt.image.{BufferedImage, DataBufferInt}
      val rgb =
        if (img.getType == BufferedImage.TYPE_INT_RGB ||
            img.getType == BufferedImage.TYPE_INT_ARGB) img
        else {
          // Canvas type follows the SOURCE's alpha, and the composite
          // is Src (not the default SrcOver): together they copy the
          // source color channels verbatim instead of compositing
          // translucent PNGs (TYPE_4BYTE_ABGR etc.) onto the black
          // canvas — SrcOver alpha-multiplies luma/dHash toward
          // black, and even Src blit loops zero the color of
          // alpha=0 pixels when the TARGET drops the alpha band.
          // getRGB-mask semantics (color regardless of coverage) are
          // what the fingerprints pin; luma() masks the top byte, so
          // ARGB-packed ints feed the same loops unchanged.
          val c = new BufferedImage(img.getWidth, img.getHeight,
            if (img.getColorModel.hasAlpha) BufferedImage.TYPE_INT_ARGB
            else BufferedImage.TYPE_INT_RGB)
          val g = c.createGraphics()
          g.setComposite(java.awt.AlphaComposite.Src)
          g.drawImage(img, 0, 0, null)
          g.dispose()
          c
        }
      rgb.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
    }

    def decode(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val img = read(r.doc_id, r.payload)
        val w = img.getWidth; val h = img.getHeight
        val px = pixels(img)
        var acc = 0.0
        var i = 0
        while (i < px.length) { acc += luma(px(i)); i += 1 }
        MediaFeatures(r.doc_id, r.format, w, h,
          r.payload.length.toLong, acc / (w.toLong * h))
      }

    /** 48-bit dHash from DECODED pixels — the real perceptual
      * fingerprint q88's stub sampling stands in for: mean luma over a
      * 7×8 grid of cells (block averaging ≡ the canonical
      * resize-to-tiny step), each bit comparing horizontally adjacent
      * cells. Robust to re-encode (JPEG quantization noise is small
      * against cell-mean differences) and to resize (cells are
      * relative). Images smaller than the grid fail loudly — a 6-px
      * strip has no 7×8 structure to fingerprint.
      */
    private[graft] def dHash48(docId: Long,
        img: java.awt.image.BufferedImage): Long = {
      val gw = 7; val gh = 8
      val w = img.getWidth; val h = img.getHeight
      if (w < gw || h < gh) throw new IllegalArgumentException(
        s"ImageIoDecoder: doc $docId: image ${w}x$h smaller than the ${gw}x$gh dHash grid")
      val cells = Array.ofDim[Double](gh, gw)
      val px = pixels(img)
      var cy = 0
      while (cy < gh) {
        val y0 = cy * h / gh; val y1 = (cy + 1) * h / gh
        var cx = 0
        while (cx < gw) {
          val x0 = cx * w / gw; val x1 = (cx + 1) * w / gw
          var acc = 0.0
          var y = y0
          while (y < y1) {
            val row = y * w
            var x = x0
            while (x < x1) { acc += luma(px(row + x)); x += 1 }
            y += 1
          }
          cells(cy)(cx) = acc / ((y1 - y0).toLong * (x1 - x0))
          cx += 1
        }
        cy += 1
      }
      var bits = 0L
      var i = 0
      cy = 0
      while (cy < gh) {
        var cx = 0
        while (cx < gw - 1) {
          if (cells(cy)(cx) < cells(cy)(cx + 1)) bits |= 1L << i
          i += 1
          cx += 1
        }
        cy += 1
      }
      bits
    }
  }

  /** One shuffle-free scan over the payload column: real ImageIO
    * decode → 48-bit block-mean dHash per record. Only these 8-byte
    * fingerprints ever enter a shuffle; [[graft.Verify]] also exports
    * this table so the q160 oracle recomputes everything downstream
    * of the decode independently (the q32/q33 consumer-step pattern —
    * PNG/JPEG decode has no DuckDB mirror, so the hash step ships as
    * data).
    */
  def decodedHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(r =>
        (r.doc_id, ImageIoDecoder.dHash48(r.doc_id, ImageIoDecoder.read(r.doc_id, r.payload)))))
    }.toDF("doc_id", "ph")
  }

  /** [[mediaPhashPairs]] with the sampling stub swapped for REAL
    * decoded pixels: per-partition batched ImageIO decode → 48-bit
    * block-mean dHash, then the SAME pigeonhole banding + bit_count
    * verify ([[phashPairsFromHashes]] — shared code, not parallel
    * code). This is the production shape for image near-dup at scale:
    * decode+hash is one shuffle-free scan over the payload column;
    * only 8-byte fingerprints enter the shuffle.
    */
  def mediaPhashPairsDecoded(media: DataFrame, maxHamming: Int = 3): DataFrame =
    phashPairsFromHashes(decodedHashes(media), maxHamming)

  /** 48-bit block-energy fingerprint for a PCM16 WAV payload — the
    * AUDIO analogue of the image dHash: the sample stream splits into
    * 49 equal blocks BY POSITION FRACTION (not absolute time), RMS
    * energy per block, each bit comparing adjacent blocks. Relative
    * positions + relative comparisons make it invariant to the two
    * re-encode transforms audio dedup must survive: resampling (the
    * energy envelope keeps its shape over the same duration) and
    * level change (a monotone gain preserves every RMS comparison).
    * Fewer than 49 samples has no envelope to fingerprint — loud
    * failure, the decoder-seam contract.
    */
  private[graft] def wavEnergy48(docId: Long, b: Array[Byte]): Long = {
    val blocks = 49
    val WavInfo(_, _, off, sz) = parseWav(docId, b)
    val n = sz / 2
    if (n < blocks) throw new IllegalArgumentException(
      s"WavDecoder: doc $docId: $n samples < $blocks fingerprint blocks")
    val acc = new Array[Double](blocks)
    val cnt = new Array[Long](blocks)
    var p = 0
    while (p < n) {
      val o = off + 2 * p
      val s = ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toDouble / 32768.0
      val j = (p.toLong * blocks / n).toInt
      acc(j) += s * s; cnt(j) += 1
      p += 1
    }
    var bits = 0L
    var j = 0
    while (j < blocks - 1) {
      if (math.sqrt(acc(j) / cnt(j)) < math.sqrt(acc(j + 1) / cnt(j + 1)))
        bits |= 1L << j
      j += 1
    }
    bits
  }

  /** Audio near-dup pairs: block-energy fingerprints through the SAME
    * pigeonhole banding + bit_count verify as the image paths
    * ([[phashPairsFromHashes]] — shared machinery, multimodal means
    * multimodal). One shuffle-free scan over the payload column; only
    * 8-byte fingerprints enter the shuffle.
    */
  def audioPhashPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.as[MediaRecord].mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(r =>
        (r.doc_id, wavEnergy48(r.doc_id, r.payload))))
    }.toDF("doc_id", "ph")
    phashPairsFromHashes(hashed, maxHamming)
  }

  /** The decode pipeline: typed Dataset boundary, then per-partition
    * batched iteration (the Scala analogue of mapInPandas: the decoder
    * sees fixed-size batches, not single rows, so vectorized / GPU
    * decode amortizes). The decoder is the [[FrameDecoder]] seam;
    * the default is this build's deterministic stub (the gate's
    * oracle-mirrorable form); [[PpmDecoder]]/[[WavDecoder]] are REAL
    * codecs for the uncompressed formats.
    */
  def decodeFeatures(media: DataFrame,
      decoder: FrameDecoder = StubDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(batchSize).flatMap(decoder.decode)
    }
  }

  /** Frame sampling — the video-side plumbing: each media record
    * expands to its sampled frame rows (explode of a per-record
    * sequence, every downstream op fully distributed over frames, no
    * driver involvement). Frame count derives from payload size;
    * stride sampling keeps ≤ 8 frames per record the way a training
    * pipeline caps frames per clip. The per-frame `luma` is the
    * decode STUB (deterministic arithmetic standing in for a frame
    * decoder) — swapping in a real codec changes only that
    * expression, not the explode/metadata shape.
    */
  def sampleFrames(media: DataFrame, maxFrames: Int = 8): DataFrame = {
    val nFrames = (length(col("payload")).cast("long") / 100L).cast("long") + 1
    media
      .withColumn("n_frames", nFrames)
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1,
          greatest(lit(1L), (col("n_frames") / maxFrames).cast("long")))))
      .select(
        col("doc_id"), col("format"), col("n_frames"), col("frame_idx"),
        ((col("frame_idx") * 1000 + length(col("payload"))) % 251 / lit(250.0)).as("luma"))
  }

  val q46 = Q(
    "q46_frame_sample",
    (s, d) => sampleFrames(mediaTable(s, d)),
    Some("""WITH media AS (
           |  SELECT doc_id,
           |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
           |         WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
           |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           |  FROM documents
           |), framed AS (
           |  SELECT doc_id, format, n_bytes // 100 + 1 AS n_frames FROM media
           |)
           |SELECT f.doc_id, f.format, f.n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
           |  (frame_idx * 1000 + m.n_bytes) % 251 / 250.0 AS luma
           |FROM framed f JOIN media m USING (doc_id),
           |  UNNEST(generate_series(0, n_frames - 1,
           |    GREATEST(1, n_frames // 8))) t(frame_idx)""".stripMargin),
    "video frame sampling: per-record stride-sampled frame explosion + decode stub")

  val q40 = Q(
    "q40_multimodal",
    (s, d) => decodeFeatures(mediaTable(s, d)).toDF(),
    Some("""SELECT doc_id,
           |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
           |       WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
           |  CAST(32 + doc_id % 64 AS INT) AS width,
           |  CAST(32 + doc_id % 48 AS INT) AS height,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           |  (octet_length(encode(text)) % 251) / 250.0 AS luma
           |FROM documents""".stripMargin),
    "multimodal binary columns + batched decode-stub over mapPartitions")

  /** Resize planning: compute aspect-preserving target geometry for
    * every image (fit into maxW×maxH, never upscale). The geometry
    * arithmetic is the real, oracle-verified part — the pixel
    * resample itself is the decode stub's job (same boundary as q40:
    * swapping in a real resampler changes no plumbing). Runs as pure
    * scan-projection expressions; at 100 TB this pass also feeds
    * partition-by-target-size batching for GPU decoders.
    */
  def resizePlan(media: DataFrame, maxW: Int = 224, maxH: Int = 224): DataFrame = {
    val scale = least(
      lit(maxW).cast("double") / col("width"),
      lit(maxH).cast("double") / col("height"),
      lit(1.0))
    media.select(
      col("doc_id"), col("format"), col("width"), col("height"),
      scale.as("scale"),
      floor(col("width") * scale).cast("int").as("target_w"),
      floor(col("height") * scale).cast("int").as("target_h"))
  }

  val q55 = Q(
    "q55_resize",
    (s, d) => resizePlan(mediaTable(s, d), maxW = 64, maxH = 48),
    Some("""WITH media AS (
           |  SELECT doc_id,
           |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
           |         WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
           |    CAST(32 + doc_id % 64 AS INT) AS width,
           |    CAST(32 + doc_id % 48 AS INT) AS height
           |  FROM documents
           |)
           |SELECT doc_id, format, width, height,
           |  LEAST(64.0 / width, 48.0 / height, 1.0) AS scale,
           |  CAST(FLOOR(width * LEAST(64.0 / width, 48.0 / height, 1.0)) AS INT) AS target_w,
           |  CAST(FLOOR(height * LEAST(64.0 / width, 48.0 / height, 1.0)) AS INT) AS target_h
           |FROM media""".stripMargin),
    "aspect-preserving resize planning (fit-within, no upscale) as scan projections")

  /** Perceptual-hash media dedup — near-duplicate detection for the
    * image/audio side of a multimodal corpus: a 48-bit dHash
    * (difference hash: each bit compares two adjacent luma samples,
    * robust to re-encode/resize, the standard perceptual fingerprint)
    * per record, then hamming-neighbor pairs via banded chunk
    * buckets. The LUMA SAMPLING is the decode stub (samples are
    * drawn from the payload's UTF-8 characters at `bits`+1 evenly
    * spaced positions — a real codec replaces ONLY the sample
    * expression with decoded pixel rows); everything downstream —
    * the bit assembly, the pigeonhole banding, the verify join — is
    * the real machinery and runs unchanged on real decoders.
    *
    * Scale shape (q33's contract): 4 chunks of 12 bits; hamming ≤ 3
    * pairs MUST share at least one exact chunk (pigeonhole), so
    * candidates come from 4 narrow equi-join buckets per record —
    * never all-pairs — and only candidates pay the bit_count verify.
    * Records shorter than 2 characters have no adjacent samples and
    * are excluded (mirrored in the oracle). A decoded-media corpus
    * with mega-duplicate groups makes chunk buckets hot the same way
    * hot shingles do — the df-cut of `jaccardPairs` applies verbatim
    * if that arises.
    */
  def mediaPhashPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    phashPairsFromHashes(stubHashes(media), maxHamming)

  /** The stub-sampled 48-bit fingerprint projection feeding
    * [[mediaPhashPairs]] — package-visible so specs can brute-force
    * the pair semantics against the banded machinery.
    */
  private[graft] def stubHashes(media: DataFrame): DataFrame = {
    val bits = 48
    val s = decode(col("payload"), "UTF-8")
    val n = length(s)
    // multiply in LONG: at i=48 an Int product overflows for payloads
    // past ~44.7M chars (ANSI throws; non-ANSI silently wraps) —
    // exactly the long-media case this operator exists for
    def pos(i: Int) =
      (lit(1) + floor((lit(i.toLong) * (n.cast("long") - 1L)).cast("double") / bits)).cast("int")
    def sample(i: Int) = ascii(s.substr(pos(i), lit(1)))
    val phash = (1 to bits).map { i =>
      when(sample(i - 1) < sample(i), lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
    media.where(n >= 2)
      .select(col("doc_id"), phash.as("ph"))
  }

  /** The dHash pair machinery downstream of hashing — shared verbatim
    * by the stub-sampled path ([[mediaPhashPairs]]) and the decoded
    * path ([[mediaPhashPairsDecoded]]): pigeonhole chunk buckets,
    * narrow equi-join candidates, bit_count verify. Input: one row per
    * record, `(doc_id: long, ph: long)` with ph a 48-bit fingerprint.
    */
  private[graft] def phashPairsFromHashes(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val bits = 48
    val chunks = 4
    val chunkBits = bits / chunks // 12
    // Hash ONCE (guide §8: the fingerprint pass runs once, everything
    // downstream works over 16-byte proxy rows): the persist is the
    // materialization point for all five consumers below (the
    // distinct, both clique-join sides, both member attaches) — block-
    // level locking makes concurrent first-touch stages wait on one
    // compute instead of re-running the decode. Builders stay
    // action-free at plan time (the PlanSpec contract), so this is a
    // lazy persist, not an eager checkpoint.
    val hashed = hashes.transform(graft.util.reused)
    // Hot-bucket cap (guide §2.5; the r18 verdict watch item): band at
    // DISTINCT-fingerprint grain, never member grain. A degenerate
    // media corpus (mass identical payloads — blank thumbnails,
    // silence) used to drop its whole population into one (chunk, cv)
    // bucket, and the member-grain self-join went quadratic in
    // members × chunks BEFORE its distinct. At hash grain the banding
    // join is quadratic only in distinct co-bucketed fingerprints;
    // doc pairs are re-attached afterwards at OUTPUT size via
    // streaming equi-joins (never a per-row array materialization).
    // The emitted pair set is IDENTICAL for any maxHamming:
    // identical-fingerprint pairs share every chunk, so they were
    // always candidates (hamming 0 — the member self-join on ph);
    // distinct-fingerprint pairs share a chunk iff their fingerprints
    // do, so hash-grain banding finds exactly the member-grain
    // candidate set.
    val distinctPh = hashed.select(col("ph")).distinct()
    val bucketed = distinctPh.select(col("ph"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("ph"), c * chunkBits).bitwiseAND(lit((1 << chunkBits) - 1))): _*))
        .as(Seq("chunk", "cv")))
    // hamming verify BEFORE the dedup, explicitly: candidates are
    // quadratic in co-bucketed hashes (482M at sf10p for 544 real
    // pairs — the synthetic corpus's chunk values collide heavily)
    // while bit_count is one codegen op per row, so the filter runs
    // in the join stage and the distinct only ever sees survivors
    // (multiplicity ≤ chunks per pair). Spelled in this order rather
    // than relying on the optimizer pushing a post-distinct filter
    // through the aggregate: the pushdown is real but fragile, and a
    // 482M-row distinct measured 451 s when it missed.
    // Quadratic-fanout stage width: the banding join's INPUT is tiny
    // (16-byte rows per distinct fingerprint) but its match fanout is
    // quadratic in co-bucketed hashes, so AQE's byte-based partition
    // coalescing collapses the post-shuffle stage to ONE partition
    // (measured at sf10p: the 482M-candidate probe ran as a single
    // ~100 s task). Explicit user partitioning at runtime-derived
    // width is respected by AQE; both sides share the (chunk, cv)
    // layout and count, so the join adds no further exchange.
    val par = math.max(hashes.sparkSession.sparkContext.defaultParallelism, 1)
    val bucketedP = bucketed.repartition(par, col("chunk"), col("cv"))
    val phPairs = bucketedP.select(col("ph").as("p1"), col("chunk"), col("cv"))
      .join(bucketedP.select(col("ph").as("p2"), col("chunk"), col("cv")),
        Seq("chunk", "cv"))
      .where(col("p1") < col("p2"))
      .withColumn("hamming", bit_count(col("p1").bitwiseXOR(col("p2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("p1"), col("p2"), col("hamming"))
      .distinct()
    // exact-duplicate cliques: identical fingerprints need no hamming
    // search — they are hamming-0 pairs by definition
    val intra = hashed.select(col("doc_id").as("d1"), col("ph"))
      .join(hashed.select(col("doc_id").as("d2"), col("ph")), Seq("ph"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0L).as("hamming"))
    // near-duplicate fingerprint pairs re-attached to their members;
    // every member of p1 pairs with every member of p2 (output-sized)
    val inter = phPairs
      .join(hashed.select(col("doc_id").as("da"), col("ph").as("p1")), Seq("p1"))
      .join(hashed.select(col("doc_id").as("db"), col("ph").as("p2")), Seq("p2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("hamming").cast("long").as("hamming"))
    intra.unionByName(inter)
  }

  /** Gate query: the corpus's text stand-ins are all mutually distant
    * under dHash (measured min cross-doc hamming = 7 at sf0.01), so
    * the gate plants the case media dedup actually exists for — the
    * SAME asset ingested twice under different ids (re-upload /
    * re-crawl; identical payload, so hamming 0). Every planted copy
    * must come back as a pair; q76's plant-then-verify precedent.
    */
  val q88 = Q(
    "q88_media_phash",
    (s, d) => {
      val m = mediaTable(s, d)
      val reIngested = m.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      mediaPhashPairs(m.unionByName(reIngested))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0
           |), m AS (
           |  SELECT doc_id, text, length(text) AS n FROM base
           |  WHERE length(text) >= 2
           |), ph AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN
           |        ascii(substr(text, 1 + CAST(floor((i-1) * (n-1) / 48.0) AS INT), 1))
           |      < ascii(substr(text, 1 + CAST(floor(i * (n-1) / 48.0) AS INT), 1))
           |      THEN 1::BIGINT << (i - 1) ELSE 0 END) AS BIGINT) AS ph
           |  FROM m, UNNEST(generate_series(1, 48)) t(i)
           |  GROUP BY doc_id
           |)
           |SELECT a.doc_id AS d1, b.doc_id AS d2,
           |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
           |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin),
    "perceptual-hash media dedup: 48-bit dHash over stub luma samples, banded hamming pairs")

  /** SplitMix64 finalizer — the avalanche step that turns the
    * (doc, cell) index into well-distributed bits for the seeded gate
    * images. Public-domain constant set (Steele et al., "Fast
    * Splittable Pseudorandom Number Generators").
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic REAL image for `docId` — the gate's seeded pixel
    * source for the decoded-dHash path: a 21×16 gray image whose 3×2
    * pixel cells align EXACTLY with the 7×8 dHash grid. Each cell is
    * one of 8 gray levels spaced 28 apart, hashed independently per
    * (doc, cell) — full 48-bit fingerprint entropy, so cross-doc
    * hamming≤3 collisions are ~zero and the banding buckets stay cold
    * (a low-entropy pattern here would make chunk buckets quadratic
    * at replica scale). Horizontally-adjacent cells are forced
    * DISTINCT, so every dHash bit rests on a ≥28-level mean
    * difference — far above JPEG default-quality quantization noise.
    * That margin is what makes the planted PNG→JPEG re-encode pair
    * land at hamming 0 and a decode-robustness regression fail the
    * q160 gate loudly.
    */
  private[graft] def syntheticImage(docId: Long): java.awt.image.BufferedImage = {
    val gw = 7; val gh = 8; val cw = 3; val ch = 2
    val img = new java.awt.image.BufferedImage(
      gw * cw, gh * ch, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var cy = 0
    while (cy < gh) {
      var prev = -1
      var cx = 0
      while (cx < gw) {
        var k = (((mix64(docId * 56 + cy * 7 + cx) >>> 40) % 8) + 8).toInt % 8
        if (k == prev) k = (k + 1) % 8 // adjacent cells always distinct
        prev = k
        val v = 16 + 28 * k
        val rgb = (v << 16) | (v << 8) | v
        var y = cy * ch
        while (y < (cy + 1) * ch) {
          var x = cx * cw
          while (x < (cx + 1) * cw) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        cx += 1
      }
      cy += 1
    }
    img
  }

  private[graft] def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** The gate media table with REAL compressed payloads: every doc_id
    * carries its seeded [[syntheticImage]] PNG-encoded on the
    * executors (deterministic: seeded pixels + the JDK's PNG
    * encoder), and every tenth doc is ADDITIONALLY planted as the
    * SAME pixels re-encoded JPEG under doc_id+10,000,000 — the
    * re-upload/re-encode case image near-dup exists for (q88's plant
    * pattern, but across codecs on real decoded pixels).
    */
  def realMediaTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
    val png = ids.mapPartitions(_.map(id =>
      MediaRecord(id, "png", 21, 16, encodeImage(syntheticImage(id), "png"))))
    val jpg = ids.filter(_ % 10 == 0).mapPartitions(_.map(id =>
      MediaRecord(id + 10000000L, "jpeg", 21, 16,
        encodeImage(syntheticImage(id), "jpg"))))
    png.unionByName(jpg).toDF()
  }

  /** dir currently exported (Ann.exportOnce contract: a dir change
    * must overwrite, never memo-skip). */
  private val phExported = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Export the decoded-dHash table the q160 oracle consumes — called
    * by [[graft.Verify]] after planning, never from a query builder
    * (builders stay action-free at plan time). PNG/JPEG decode has no
    * DuckDB mirror, so the DECODE+HASH step ships as data while the
    * pigeonhole banding, the XOR-popcount verify, and the planted-pair
    * recovery are recomputed independently by the oracle.
    */
  def exportGateHashes(s: SparkSession, d: String): Unit =
    phExported.compute("decoded_phash", (_, prev) => {
      if (prev != d)
        decodedHashes(realMediaTable(s, d)).coalesce(1).write.mode("overwrite")
          .parquet(s"${graft.operators.Ann.gateModelDir}/decoded_phash.parquet")
      d
    })

  /** Gate query for the REAL image-decode path: seeded real PNGs (plus
    * the planted cross-codec JPEG re-encodes) through genuine ImageIO
    * decode → decoded-pixel dHash → the shared banding machinery. The
    * oracle recomputes banding + hamming from the exported hash table
    * AND includes every planted (d, d+10M) pair UNCONDITIONALLY at its
    * actual hamming — so if the decode ever loses its re-encode
    * robustness (planted hamming drifts above the gate's ≤3), Spark's
    * banded output no longer matches and the gate FAILS rather than
    * silently passing on a self-consistent export.
    */
  val q160 = Q(
    "q160_phash_decoded",
    (s, d) => mediaPhashPairsDecoded(realMediaTable(s, d)),
    Some(s"""WITH ph AS (
           |  SELECT doc_id, ph
           |  FROM read_parquet('${graft.operators.Ann.gateModelDir}/decoded_phash.parquet/*.parquet')
           |), b AS (
           |  SELECT doc_id, ph, c AS chunk, (ph >> (c * 12)) & 4095 AS cv
           |  FROM ph, UNNEST(generate_series(0, 3)) t(c)
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS d1, x.ph AS p1, y.doc_id AS d2, y.ph AS p2
           |  FROM b x JOIN b y ON x.chunk = y.chunk AND x.cv = y.cv
           |  WHERE x.doc_id < y.doc_id
           |), banded AS (
           |  SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming
           |  FROM cand WHERE bit_count(xor(p1, p2)) <= 3
           |), planted AS (
           |  SELECT a.doc_id AS d1, p.doc_id AS d2,
           |    CAST(bit_count(xor(a.ph, p.ph)) AS BIGINT) AS hamming
           |  FROM ph a JOIN ph p ON p.doc_id = a.doc_id + 10000000
           |  WHERE a.doc_id % 10 = 0
           |)
           |SELECT d1, d2, hamming FROM banded
           |UNION
           |SELECT d1, d2, hamming FROM planted""".stripMargin),
    "REAL image decode on the gate: seeded PNGs + planted JPEG re-encodes, ImageIO decode, decoded dHash, banded hamming pairs")

  val all: Seq[Q] = Seq(q40, q46, q55, q88, q160)
}
