package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CappedCheckpoint._
import scala.util.control.NonFatal

/** Multimodal column plumbing: image/audio/video travel as opaque `BINARY`
  * columns with typed metadata, decoded row by row inside a narrow
  * per-partition `mapPartitions` (the Scala analogue of a
  * Pandas-UDF-over-mapInPandas pipeline: same schema contract, same
  * partitioning story).
  *
  * `decodePixels` is a REAL decoder for the formats the JDK ships codecs
  * for (PNG/BMP/GIF/JPEG via javax.imageio). Formats beyond that — and the
  * video demux in `sampleFrames` — remain clearly-marked deterministic
  * STUBS (no external codec libraries in this container), so the
  * Spark-side plumbing (schemas, encoders, partition sizing) is
  * real and testable either way. Swap the stub branch for a JNI decoder
  * without touching any plan structure.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(id: Long, media: Array[Byte], mime: String)

  /** Decoded image metadata + feature vector (fixed dim). */
  case class ImageFeatures(id: Long, width: Int, height: Int, channels: Int,
                           byte_len: Long, features: Array[Float])

  /** A sampled frame reference for video payloads. */
  case class Frame(id: Long, frame_index: Int, frame_md5: String)

  val featureDim = 8

  // --------------------------------------------------------- header decode
  /** Real image-header parse for the two public formats decodable without
    * external libraries: PNG (8-byte signature + big-endian IHDR;
    * RFC 2083 §3/§4.1.1) and BMP ("BM" + little-endian BITMAPINFOHEADER).
    * Returns (width, height, channels); None for anything else (the
    * deterministic stub below then covers it). The BMP check also requires
    * a known DIB header size with zeroed high bytes so text payloads that
    * merely start with "BM" can never false-positive.
    */
  private[multimodal] def decodeHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def u(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Int = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def le32(i: Int): Int = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    if (bytes.length >= 26 &&
        u(0) == 0x89 && u(1) == 'P' && u(2) == 'N' && u(3) == 'G' &&
        u(4) == 0x0d && u(5) == 0x0a && u(6) == 0x1a && u(7) == 0x0a) {
      val channels = u(25) match {
        case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4 case _ => 3
      }
      Some((be32(16), be32(20), channels))
    } else if (bytes.length >= 30 && u(0) == 'B' && u(1) == 'M' &&
        // BITMAPINFOHEADER variants only (int32 dims at 18/22); the V2/V4/V5
        // sizes share the layout. CORE (12) does not and is not supported.
        Set(40, 108, 124).contains(le32(14))) {
      val bitCount = u(28) | (u(29) << 8)
      // height is signed: top-down BMPs store a negative value whose
      // magnitude is the pixel height
      Some((le32(18), math.abs(le32(22)), math.max(1, bitCount / 8)))
    } else None
  }

  // ------------------------------------------------------------------ STUBS
  // STUB: deterministic fake decode for payloads that are not PNG/BMP. A
  // real implementation would hand other formats to a codec library; this
  // derives metadata and a feature vector from the bytes so behavior is
  // testable and reproducible.
  private def stubDecodeImage(bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val n = bytes.length
    val w = 1 + (math.abs(if (n > 0) bytes(0).toInt else 0) % 64)
    val h = 1 + (math.abs(if (n > 1) bytes(1).toInt else 0) % 64)
    val feats = Array.tabulate(featureDim) { i =>
      (if (n > i) bytes(i % n).toFloat else 0f) / 128f
    }
    (w, h, 3, feats)
  }

  /** The JDK-decoded image, or None when no ImageIO codec reads the
    * payload (ImageIO returns null or throws on it). Only non-fatal errors
    * mean "undecodable": an OOM or an interrupt propagates instead of
    * becoming a silent null-pixel row.
    */
  private def readImage(media: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media)))
    catch { case NonFatal(_) => None }

  /** Decode + feature-extract images, one row at a time per partition.
    * Plan shape: narrow mapPartitions — no shuffle; each decoded image is
    * dropped before the next is read, and upstream sizes partitions via
    * `spark.sql.files.maxPartitionBytes` (payloads dominate).
    *
    * REAL features for any payload the JDK can decode (PNG/BMP/GIF/JPEG
    * via javax.imageio): the 8-dim vector is per-band pixel means
    * (f0..f3 = sum/n/255, zero-filled past the band count) and per-band
    * second moments (f4..f7 = sum of squares/n/255², likewise) — all
    * accumulated in integers, so the floats are exact and reproducible at
    * any parallelism. The deterministic byte-derived stub survives ONLY
    * for payloads no JDK codec can read (header parse still supplies
    * dimensions when the header is intact but pixel data is absent).
    */
  def decodeImages(ds: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val img = readImage(r.media)
        val (w, h, c, f) = img match {
          case Some(im) =>
            val raster = im.getRaster
            val w0 = im.getWidth; val h0 = im.getHeight
            val bands = raster.getNumBands
            val sums = new Array[Long](bands)
            val sqs = new Array[Long](bands)
            val buf = new Array[Int](bands)
            var y = 0
            while (y < h0) {
              var x = 0
              while (x < w0) {
                raster.getPixel(x, y, buf)
                var b = 0
                while (b < bands) {
                  val v = buf(b); sums(b) += v; sqs(b) += v.toLong * v; b += 1
                }
                x += 1
              }
              y += 1
            }
            val np = w0.toLong * h0
            val feats = Array.tabulate(featureDim) { i =>
              if (i < 4) {
                if (i < bands) (sums(i).toDouble / np / 255.0).toFloat else 0f
              } else {
                val b = i - 4
                if (b < bands) (sqs(b).toDouble / np / 65025.0).toFloat else 0f
              }
            }
            (w0, h0, bands, feats)
          case None => decodeHeader(r.media) match {
            case Some((pw, ph, pc)) =>
              // intact header, undecodable pixel data: real dimensions,
              // stub features
              (pw, ph, pc, stubDecodeImage(r.media)._4)
            case None => stubDecodeImage(r.media)
          }
        }
        ImageFeatures(r.id, w, h, c, r.media.length.toLong, f)
      }
    }
  }

  /** Real per-channel pixel statistics. */
  case class PixelStats(id: Long, width: Int, height: Int, channels: Int,
                        decoded: Boolean, channel_mean: Array[Float])

  /** REAL pixel decode for the formats the JDK ships codecs for — PNG, BMP,
    * GIF, JPEG via `javax.imageio` (java.desktop module; no external
    * libraries, headless-safe) — with the header-parse/stub fallback
    * (`decoded = false`) for anything ImageIO cannot read. Per-band sample
    * sums accumulate in integers, so the channel means are exact and
    * reproducible. Same narrow per-partition mapPartitions shape as
    * `decodeImages`: no shuffle, payload-bounded partitions.
    */
  def decodePixels(ds: Dataset[MediaRecord]): Dataset[PixelStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val img = readImage(r.media)
        img match {
          case Some(im) =>
            val raster = im.getRaster
            val w = im.getWidth; val h = im.getHeight
            val bands = raster.getNumBands
            val sums = new Array[Long](bands)
            val buf = new Array[Int](bands)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                raster.getPixel(x, y, buf)
                var b = 0
                while (b < bands) { sums(b) += buf(b); b += 1 }
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            PixelStats(r.id, w, h, bands, decoded = true,
              Array.tabulate(bands)(b => (sums(b).toDouble / n / 255.0).toFloat))
          case None =>
            val (w, h, c) = decodeHeader(r.media).getOrElse {
              val s = stubDecodeImage(r.media); (s._1, s._2, s._3)
            }
            PixelStats(r.id, w, h, c, decoded = false, Array.empty[Float])
        }
      }
    }
  }

  /** A perceptual hash row; `phash = -1` marks undecodable payloads. */
  case class PHash(id: Long, decoded: Boolean, phash: Long)

  /** Perceptual average-hash (aHash) over REAL decoded pixels: block-sum
    * the integer luminance (299R + 587G + 114B, x1000) into an 8x8 grid,
    * threshold each cell's integral mean against the integral grid mean,
    * and pack the 64 bits row-major. Hamming-close hashes are visually
    * near-duplicate images — the image-side analogue of SimHash text dedup.
    * All arithmetic is integer, so the hash is identical at any
    * parallelism; same narrow mapPartitions shape as `decodePixels`.
    */
  def perceptualHash(ds: Dataset[MediaRecord]): Dataset[PHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val img = readImage(r.media)
        img match {
          case Some(im) =>
            val raster = im.getRaster
            val w = im.getWidth; val h = im.getHeight
            val bands = raster.getNumBands
            val cell = new Array[Long](64)
            val cnt = new Array[Long](64)
            val buf = new Array[Int](bands)
            var y = 0
            while (y < h) {
              val cy = math.min(7, y * 8 / h)
              var x = 0
              while (x < w) {
                val cx = math.min(7, x * 8 / w)
                raster.getPixel(x, y, buf)
                val lum =
                  if (bands >= 3) 299L * buf(0) + 587L * buf(1) + 114L * buf(2)
                  else 1000L * buf(0)
                cell(cy * 8 + cx) += lum
                cnt(cy * 8 + cx) += 1
                x += 1
              }
              y += 1
            }
            val means = Array.tabulate(64)(i => cell(i) / math.max(1L, cnt(i)))
            val gridMean = means.sum / 64
            var hash = 0L
            var i = 0
            while (i < 64) { if (means(i) > gridMean) hash |= (1L << i); i += 1 }
            PHash(r.id, decoded = true, hash)
          case None => PHash(r.id, decoded = false, -1L)
        }
      }
    }
  }

  /** Near-duplicate image pairs with EXACT recall for `maxHamming <= 7`: by
    * pigeonhole, two 64-bit perceptual hashes within Hamming distance 7
    * agree on at least one of their eight 8-bit blocks — the
    * `Dedup.hammingBlockPairs` join `simhashNearDupPairs` runs, over the
    * checkpointed hashes. Undecodable payloads are excluded.
    */
  def imageNearDupPairs(ds: Dataset[MediaRecord], maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7, "8 blocks guarantee exact recall only to distance 7")
    val ph = perceptualHash(ds).toDF()
      .filter(col("decoded")).select(col("id"), col("phash").as("hash")).localCheckpointCapped()
    graft.functions.Dedup.hammingBlockPairs(ph, 8, maxHamming)
  }

  /** Sample every `stride`-th "frame" of a video payload. STUB: a frame is a
    * fixed-size byte slice; real impl would demux. Output shape (one row per
    * sampled frame) and the explode-like fan-out are the real contract.
    */
  def sampleFrames(ds: Dataset[MediaRecord], frameBytes: Int = 16,
                   stride: Int = 4): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      val nFrames = math.max(r.media.length / frameBytes, 0)
      (0 until nFrames by stride).map { i =>
        val slice = r.media.slice(i * frameBytes, (i + 1) * frameBytes)
        Frame(r.id, i, java.security.MessageDigest.getInstance("MD5")
          .digest(slice).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Pure-column metadata extraction (no decode): works on any binary column
    * with codegen'd expressions only — the cheap pre-filter before decode.
    */
  def binaryMetadata(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(col(idCol),
      length(col(binCol)).cast("long").as("byte_len"),
      md5(col(binCol)).as("content_md5"))

  /** Build a MediaRecord dataset from a text table (test harness: UTF-8 bytes
    * stand in for media payloads; schemas and plumbing are identical).
    */
  def fromText(spark: SparkSession, df: DataFrame, idCol: String,
               textCol: String): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        encode(col(textCol), "UTF-8").as("media"),
        lit("text/plain").as("mime"))
      .as[MediaRecord]
  }

  /** Deterministic uncompressed 24-bit BMP (`w` x `h`, bottom-up,
    * BITMAPINFOHEADER) whose pixel-data bytes cyclically repeat `payload` —
    * a REAL, fully ImageIO-decodable image a DuckDB oracle can still
    * predict arithmetically, because every channel statistic is a closed
    * form over the payload bytes (file byte i of the data section is
    * payload(i % len); with w*3 divisible by 3 a byte's channel is just
    * i % 3: B=0, G=1, R=2 in file order, and row order cannot affect
    * whole-image sums). Requires `w % 4 == 0` so rows need no padding
    * bytes (which would break the closed form).
    */
  def syntheticBmp(payload: Array[Byte], w: Int = 8, h: Int = 8): Array[Byte] = {
    require(w > 0 && h > 0 && w % 4 == 0, "w must be positive and 4-aligned")
    val dataLen = w * 3 * h
    val out = new Array[Byte](54 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataLen); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h)
    out(26) = 1; out(28) = 24
    le32(34, dataLen); le32(38, 2835); le32(42, 2835)
    val n = payload.length
    var i = 0
    while (i < dataLen) {
      out(54 + i) = if (n == 0) 0 else payload(i % n)
      i += 1
    }
    out
  }

  /** MediaRecord dataset of REAL decodable images: one `syntheticBmp` per
    * row, pixel bytes derived from the row's text — the fixture generator
    * for end-to-end decode tests whose expected statistics an external
    * oracle can compute without any image codec.
    */
  def fromTextBmp(spark: SparkSession, df: DataFrame, idCol: String,
                  textCol: String, w: Int = 8, h: Int = 8): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => MediaRecord(id, syntheticBmp(bytes, w, h), "image/bmp") }
  }

  /** Deterministic COMPRESSED PNG (`w` x `h`, 8-bit truecolor RGB, one zlib
    * IDAT at a fixed deflate level) whose decoded samples cyclically repeat
    * `payload`: image sample j (row-major, R,G,B order, filter bytes
    * excluded — every scanline uses filter 0 "None") is payload(j % len),
    * so sample j's channel is j % 3 (R=0, G=1, B=2) and every channel
    * statistic stays a closed form over the payload bytes EXACTLY like
    * [[syntheticBmp]] — while the decoder must run a real inflate, i.e.
    * this exercises the compressed-codec ImageIO path the BMP fixture
    * cannot. Built with JDK-only primitives (Deflater + CRC32); the
    * compressed bytes are deterministic at the fixed level, and the
    * oracle-relevant property (decoded pixels) is determined by the PNG
    * contract regardless of encoder byte choices.
    */
  def syntheticPng(payload: Array[Byte], w: Int = 8, h: Int = 8): Array[Byte] = {
    require(w > 0 && h > 0, "dimensions must be positive")
    val n = payload.length
    val raw = new Array[Byte](h * (1 + w * 3))
    var k = 0; var j = 0; var y = 0
    while (y < h) {
      raw(k) = 0 // filter type None
      k += 1
      var i = 0
      while (i < w * 3) {
        raw(k) = if (n == 0) 0 else payload(j % n)
        k += 1; j += 1; i += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater(6)
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(o)
      d.writeInt(body.length)
      val tb = tag.getBytes("US-ASCII")
      d.write(tb); d.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      d.writeInt(crc.getValue.toInt)
      o.toByteArray
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte) // bit depth 8, color type 2 (truecolor)
      .put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** [[fromTextBmp]]'s compressed sibling: one `syntheticPng` per row. */
  def fromTextPng(spark: SparkSession, df: DataFrame, idCol: String,
                  textCol: String, w: Int = 8, h: Int = 8): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => MediaRecord(id, syntheticPng(bytes, w, h), "image/png") }
  }

  /** Image near-duplicate pairs over [[perceptualHash]] values, the batch
    * form of Manku/Jain/Sarma's sorted-fingerprint-table dedup (WWW 2007)
    * crossed with multi-index banding (Norouzi et al., CVPR 2012):
    *
    *  1. '''Identical-hash families collapse first.''' Equal pHashes join
    *     on the exact hash — candidates == results (distance-0 pairs), so
    *     this stage is output-bounded no matter how hot a duplicate family
    *     is. The band join then runs over DISTINCT hashes only (measured
    *     on the 10x corpus: 50k images, 6.2k distinct hashes).
    *  2. '''Banded + rotation-sorted windows for 1..maxDist.''' Each
    *     distinct hash lands in `bands` buckets keyed by one width-bit
    *     substring; within a bucket, members sort by the hash ROTATED so
    *     that bucket's substring leads (Manku's permuted tables — each
    *     band explores a different neighbor ordering), and only pairs
    *     within `window` ranks are candidates. Candidate volume is
    *     distinct_hashes * bands * window — LINEAR, unlike the plain band
    *     join whose constant bucket count (2^width per band) keeps a
    *     constant FRACTION of the pair space and measured 58x slower at
    *     10x corpus.
    *
    * Verified pairs (codegen'd bit_count(xor) <= maxDist) expand back to
    * member pairs — again output-bounded. Rank-window candidates trade the
    * pigeonhole completeness guarantee for bounded work (the SNM
    * discipline): a qualifying pair is found unless > `window`-1 other
    * distinct hashes sort between its rotations in every band. Rotations
    * are hex-string surgery (hex char = 4 bits), so the sort order is the
    * same unsigned order in any engine; `width` must be a multiple of 4.
    */
  def hammingNearDupPairs(phashes: DataFrame, maxDist: Int = 6,
                          bands: Int = 8, window: Int = 16): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require((64 / bands) % 4 == 0,
      s"band width must be whole hex chars (bands=$bands gives ${64 / bands} bits)")
    require(window >= 1, "window must be >= 1")
    val hexChars = (64 / bands) / 4
    // materialize the (id, phash) table: everything below reuses it, and
    // without the checkpoint each reference replays the image decode
    val ph = phashes.filter(col("decoded")).select("id", "phash")
      .localCheckpointCapped()
    val fam = ph.withColumn("h", lpad(hex(col("phash")), 16, "0"))
    val famPairs = fam.as("a")
      .join(fam.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        lit(0).as("hamming"))
    val reps = fam.groupBy(col("h"))
      .agg(min(col("id")).as("rid"), min(col("phash")).as("p"))
    val banded = reps
      .select(col("h"), col("p"), col("rid"),
        explode(array((0 until bands).map(lit): _*)).as("band"))
      .withColumn("rk", expr(
        s"concat(substring(h, band * $hexChars + 1, 16 - band * $hexChars), substring(h, 1, band * $hexChars))"))
      .withColumn("bv", expr(s"substring(rk, 1, $hexChars)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bv").orderBy(col("rk"), col("rid"))))
    val repPairs = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          (col("y.rn") - col("x.rn")).between(1, window))
      .select(least(col("x.h"), col("y.h")).as("ha"),
        greatest(col("x.h"), col("y.h")).as("hb"),
        bit_count(col("x.p").bitwiseXOR(col("y.p"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair may fall in the window of several bands
    val cross = repPairs
      .join(fam.select(col("h").as("ha"), col("id").as("ia")), Seq("ha"))
      .join(fam.select(col("h").as("hb"), col("id").as("ib")), Seq("hb"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    famPairs.union(cross)
  }
}
