package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §7.5): media as opaque `binary`
  * payloads with typed metadata, processed by partition-batched
  * decode/feature kernels.
  *
  * IMAGE decode is REAL for every `javax.imageio`-readable format (BMP,
  * PNG, GIF, JPEG in a stock JVM — no external codec deps):
  * [[decodeImage]] parses the container bytes into a pixel grid and
  * [[decodeFeatures]] / [[resizeGrid]] compute their features from
  * DECODED PIXELS. The gate queries route the corpus through
  * [[grayImagePayload]], which writes each payload as a genuine 24-bit
  * BMP first — so the decoder the queries exercise is the actual BMP
  * parser, while the DuckDB oracle stays exact (the BMP stores our gray
  * levels verbatim, so decode∘encode is the identity on the padded byte
  * grid and the oracle replays the pixel math directly on the bytes).
  *
  * Audio/video codecs genuinely aren't in the container, so those
  * kernels (`frameSampleStub`, `audioEnergyStub`, `dHashStub`) remain
  * clearly-marked deterministic stand-ins — with every Spark-side piece
  * the real kernel needs genuine and tested: the (id, modality, payload,
  * meta) schema, iterator-to-iterator `mapPartitions` (decoder state is
  * initialized once per partition, NOT per row — the local equivalent of
  * a Pandas-UDF batch loop), explicit output schema, and partition-count
  * preservation.
  */
object Multimodal {

  /** Encode a row-major grayscale pixel array as a REAL uncompressed
    * 24-bit BMP (BITMAPINFOHEADER, bottom-up rows, BGR, 4-byte row
    * padding — the format every parser on earth reads). Gray level v
    * becomes (B,G,R) = (v,v,v), so a decoder recovers v exactly.
    */
  def encodeGrayBmp(gray: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && gray.length == w * h,
      s"bad gray buffer: ${gray.length} != $w x $h")
    val rowBytes = (w * 3 + 3) & ~3
    val dataSize = rowBytes * h
    val fileSize = 54 + dataSize
    val out = new Array[Byte](fileSize)
    def putInt(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
      out(off + 2) = ((v >>> 16) & 0xff).toByte
      out(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putInt(2, fileSize); putInt(10, 54)
    putInt(14, 40); putInt(18, w); putInt(22, h)
    out(26) = 1 // planes
    out(28) = 24 // bpp
    putInt(34, dataSize)
    var y = 0
    while (y < h) {
      // bottom-up: file row y holds image row (h-1-y)
      val src = (h - 1 - y) * w
      val dst = 54 + y * rowBytes
      var x = 0
      while (x < w) {
        val v = gray(src + x)
        val o = dst + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL image decode: any ImageIO-readable payload → (width, height,
    * row-major gray levels), gray = (r+g+b)/3 in exact integer math (the
    * identity on our own encoder's output, where r=g=b). None when the
    * bytes aren't a decodable image — callers fall back to the labeled
    * byte-stream stand-in.
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (bytes == null || bytes.length < 8) None
    else try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            px(y * w + x) =
              (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
            x += 1
          }
          y += 1
        }
        Some((w, h, px))
      }
    } catch { case _: java.io.IOException => None }

  /** Re-encode each payload as a genuine image: the bytes become the
    * gray levels of a `width`-wide BMP, zero-padded to fill the last row
    * (an empty payload becomes one all-zero row, so every media row
    * yields a decodable image). This is the gate-data bridge: the
    * harness corpus carries text bytes, not media files — wrapping them
    * in a real container makes the downstream kernels exercise the REAL
    * parser while keeping the pixel grid an exact function of the bytes
    * (which is what lets DuckDB replay the math).
    */
  def grayImagePayload(media: DataFrame, width: Int = 32): DataFrame = {
    require(width > 0)
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        it.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val h = math.max(1, (bytes.length + width - 1) / width)
          val gray = java.util.Arrays.copyOf(bytes, width * h)
          Row(r.getLong(r.fieldIndex("id")),
            r.getString(r.fieldIndex("modality")),
            encodeGrayBmp(gray, width, h),
            r.getAs[Row]("meta"))
        }
      }, mediaSchema)
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("declared_lang", StringType, nullable = true))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("feature", ArrayType(DoubleType), nullable = false)))

  /** Wrap a text corpus into the media schema (UTF-8 payloads standing in
    * for image/audio bytes; modality round-robins for test coverage).
    */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // declared_lang is optional metadata — null when the corpus has none
    val lang = if (docs.columns.contains("lang")) col("lang")
      else lit(null).cast("string")
    docs.select(
      col(idCol).cast("long").as("id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("modality"),
      col(textCol).cast("binary").as("payload"),
      struct(
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        lang.as("declared_lang")).as("meta"))
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false),
    StructField("frame_checksum", LongType, nullable = false)))

  /** STUB frame-sampling kernel — the 1→many batch shape a video frame
    * sampler has (decodeStub is the 1→1 shape): every `stride`-th
    * window of `frameBytes` payload bytes becomes one output row, with
    * an FNV-1a checksum of the window standing in for the decoded frame
    * tensor. flatMap keeps it iterator-to-iterator, so a real decoder
    * would stream frames without materializing a per-document list.
    */
  def frameSampleStub(media: DataFrame, frameBytes: Int = 256,
      stride: Int = 4): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // one-time per-partition decoder init would happen HERE
        it.flatMap { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val n = bytes.length
          val nFrames = (n + frameBytes - 1) / frameBytes
          (0 until nFrames by stride).iterator.map { f =>
            val lo = f * frameBytes
            val hi = math.min(lo + frameBytes, n)
            var h = 0xcbf29ce484222325L
            var i = lo
            while (i < hi) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
            Row(id, modality, f, (hi - lo).toLong, h)
          }
        }
      }, frameSchema)
  }

  /** Decode/feature-extract kernel — REAL for images: payloads that
    * ImageIO can parse (BMP/PNG/GIF/JPEG) are decoded to a pixel grid
    * and the features come from PIXELS: n_bytes = pixel count,
    * n_frames = 1 (a still image), checksum = FNV-1a over the row-major
    * gray levels, feature = [n_px, mean, min, max] of the gray levels.
    * Undecodable payloads take the labeled byte-stream stand-in
    * (`decodeStub` semantics) so the kernel is total.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // a real multi-codec kernel would init its decoder table HERE,
        // once per partition
        it.map { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          decodeImage(payload) match {
            case Some((w, h, px)) =>
              var hsh = 0xcbf29ce484222325L
              var sum = 0L; var mn = 255; var mx = 0
              var i = 0
              while (i < px.length) {
                val v = px(i)
                hsh ^= v.toLong; hsh *= 0x100000001b3L
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              val n = px.length
              val mean = if (n == 0) 0.0 else sum.toDouble / n
              Row(id, modality, n.toLong, 1, hsh,
                Seq(n.toDouble, mean, if (n == 0) 0.0 else mn.toDouble,
                  if (n == 0) 0.0 else mx.toDouble))
            case None =>
              val bytes = if (payload == null) Array.emptyByteArray else payload
              var hsh = 0xcbf29ce484222325L
              bytes.foreach { b => hsh ^= (b & 0xffL); hsh *= 0x100000001b3L }
              val n = bytes.length
              val mean = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / n
              val mx = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).max
              val mn = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).min
              Row(id, modality, n.toLong, (n + 255) / 256, hsh,
                Seq(n.toDouble, mean, mn, mx))
          }
        }
      }, featureSchema)
  }

  /** STUB decode/feature-extract kernel (byte-stream stand-in), kept for
    * payloads with no in-container codec: frame count = ceil(bytes/256),
    * checksum = FNV-1a over the payload, feature = 4 moments of the byte
    * stream. [[decodeFeatures]] is the real-image version.
    */
  def decodeStub(media: DataFrame): DataFrame = {
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // one-time per-partition "decoder" init happens HERE in a real kernel
        it.map { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          var h = 0xcbf29ce484222325L
          bytes.foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
          val n = bytes.length
          val mean = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / n
          val mx = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).max
          val mn = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).min
          Row(id, modality, n.toLong, (n + 255) / 256, h,
            Seq(n.toDouble, mean, mn, mx))
        }
      }, featureSchema)
  }

  val dhashSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** STUB perceptual-hash kernel (dHash): bit i is set iff "pixel"
    * i+1 > pixel i over the first 61 payload bytes — 60 bits, so the
    * value stays positive in engines without unsigned 64-bit ints;
    * bytes past the payload read as 0. A real kernel would resize the
    * decoded image to a 9×8 grayscale grid and compare adjacent
    * pixels; the comparison topology, the banding, and the bucket
    * join downstream are identical either way — swapping in a real
    * decoder changes only this body.
    */
  def dHashStub(media: DataFrame): DataFrame = {
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // one-time per-partition decoder init would happen HERE
        it.map { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          def px(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else 0
          var h = 0L
          var i = 0
          while (i < 60) { if (px(i + 1) > px(i)) h |= 1L << i; i += 1 }
          Row(id, modality, h)
        }
      }, dhashSchema)
  }

  /** REAL perceptual dHash — what the [[dHashStub]] doc promised a real
    * kernel would do, now actually done: decode the payload (ImageIO),
    * area-average the pixel grid onto 9×8 gray cells, and set bit
    * i = 8r + c (r row 0..7, c col 0..7, i < 60 kept for engine-portable
    * positivity) iff cell(r, c+1) is strictly brighter than cell(r, c).
    * The brightness comparison is the exact integer cross-product
    * sumA·cntB > sumB·cntA — no float mean anywhere, so the hash is a
    * pure function of the pixel grid and DuckDB replays it bit-for-bit.
    * Cells with no source pixels (images shorter than 8 rows) count as
    * brightness 0. Undecodable payloads fall back to the byte-gradient
    * stand-in ([[dHashStub]] semantics).
    */
  def dHashReal(media: DataFrame): DataFrame = {
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // per-partition decoder init would happen HERE in a multi-codec kernel
        it.map { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          decodeImage(payload) match {
            case Some((w, h, px)) =>
              val sums = Array.ofDim[Long](8, 9)
              val cnts = Array.ofDim[Long](8, 9)
              var y = 0
              while (y < h) {
                val gr = ((y.toLong * 8) / h).toInt
                var x = 0
                while (x < w) {
                  val gc = ((x.toLong * 9) / w).toInt
                  sums(gr)(gc) += px(y * w + x)
                  cnts(gr)(gc) += 1
                  x += 1
                }
                y += 1
              }
              var hash = 0L
              var i = 0
              while (i < 60) {
                val gr = i / 8; val gc = i % 8
                // exact rational compare mean(r,c+1) > mean(r,c);
                // an empty cell (cnt 0) is brightness 0
                val a = sums(gr)(gc + 1) * math.max(cnts(gr)(gc), 1L)
                val b = sums(gr)(gc) * math.max(cnts(gr)(gc + 1), 1L)
                if (a > b) hash |= 1L << i
                i += 1
              }
              Row(id, modality, hash)
            case None =>
              val bytes = if (payload == null) Array.emptyByteArray else payload
              def pxAt(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else 0
              var hash = 0L
              var i = 0
              while (i < 60) { if (pxAt(i + 1) > pxAt(i)) hash |= 1L << i; i += 1 }
              Row(id, modality, hash)
          }
        }
      }, dhashSchema)
  }

  /** Integer-scaled DCT-II basis: CosQ(u)(y) = round(cos((2y+1)uπ/64) ·
    * 2^14) for u ∈ [0,8), y ∈ [0,32). The pHash oracle interpolates
    * EXACTLY these integers as SQL literals, so both engines run pure
    * integer arithmetic — no libm cos in either evaluation path, hence
    * no cross-engine last-ulp divergence to threshold-flip a bit.
    * Magnitude bound: |coef| ≤ 255·2^14·32·2^14·32 ≈ 7·10^13 — Long/
    * BIGINT safe without HUGEINT.
    */
  val CosQ: Array[Array[Long]] = Array.tabulate(8, 32) { (u, y) =>
    Math.round(Math.cos((2 * y + 1) * u * Math.PI / 64.0) * 16384.0)
  }

  val phashSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** REAL pHash (DCT perceptual hash — the robust-to-resize sibling of
    * dHash): decode the container → nearest-neighbor sample onto the
    * classic 32×32 grid → separable integer DCT-II via [[CosQ]] → keep
    * the top-left 8×8 low-frequency block minus the DC term (63 AC
    * coefficients) → bit k = u·8+v−1 set iff coef(u,v) exceeds the
    * median (the 32nd smallest of 63). Everything after decode is exact
    * integer math, so the DuckDB oracle replays the hash bit-for-bit.
    * Non-image payloads (no decodable container) fall back to reading
    * the first 1024 bytes as a 32×32 grid — the deterministic stand-in
    * the stub kernels use, keeping every media row hashed.
    */
  def pHashReal(media: DataFrame): DataFrame = {
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, px) = decodeImage(payload).getOrElse {
            val bytes = if (payload == null) Array.emptyByteArray else payload
            val g = new Array[Int](32 * 32)
            var i = 0
            while (i < g.length) {
              g(i) = if (i < bytes.length) bytes(i) & 0xff else 0; i += 1
            }
            (32, 32, g)
          }
          val p = Array.ofDim[Long](32, 32)
          var gy = 0
          while (gy < 32) {
            val sy = (gy.toLong * h / 32).toInt
            var gx = 0
            while (gx < 32) {
              val sx = (gx.toLong * w / 32).toInt
              p(gy)(gx) = px(sy * w + sx).toLong
              gx += 1
            }
            gy += 1
          }
          // separable DCT: gRow(u)(x) = Σ_y p(y)(x)·CosQ(u)(y), then
          // coef(u,v) = Σ_x gRow(u)(x)·CosQ(v)(x) — 2·8·32² int mults
          // per image instead of the naive 64·32².
          val gRow = Array.ofDim[Long](8, 32)
          var u = 0
          while (u < 8) {
            var x = 0
            while (x < 32) {
              var s = 0L; var y = 0
              while (y < 32) { s += p(y)(x) * CosQ(u)(y); y += 1 }
              gRow(u)(x) = s
              x += 1
            }
            u += 1
          }
          val coef = new Array[Long](63)
          u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              if (u != 0 || v != 0) {
                var s = 0L; var x = 0
                while (x < 32) { s += gRow(u)(x) * CosQ(v)(x); x += 1 }
                coef(u * 8 + v - 1) = s
              }
              v += 1
            }
            u += 1
          }
          val sorted = coef.clone()
          java.util.Arrays.sort(sorted)
          val med = sorted(31)
          var hash = 0L
          var i = 0
          while (i < 63) { if (coef(i) > med) hash |= 1L << i; i += 1 }
          Row(id, modality, hash)
        }
      }, phashSchema)
  }

  val energySchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("win", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("sumsq", LongType, nullable = false)))

  /** STUB audio-energy kernel (the DSP half of voice-activity
    * detection): the payload is windowed into `frameBytes`-byte frames
    * (160 bytes ≈ one 10 ms frame of 8-bit 16 kHz mono) and each frame
    * emits its INTEGER sum of squared sample values — exact under any
    * partitioning, so the voiced/unvoiced decision downstream is a
    * pure integer comparison (sumsq ≥ threshold·n), never a float
    * mean. A real kernel would decode the container and window PCM
    * samples here; the 1→many batch shape, schema, and iterator
    * streaming are exactly what that kernel needs.
    */
  def audioEnergyStub(media: DataFrame, frameBytes: Int = 160): DataFrame = {
    require(frameBytes > 0)
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // one-time per-partition decoder init would happen HERE
        it.flatMap { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val n = bytes.length
          val nWins = (n + frameBytes - 1) / frameBytes
          (0 until nWins).iterator.map { w =>
            val lo = w * frameBytes
            val hi = math.min(lo + frameBytes, n)
            var ss = 0L
            var i = lo
            while (i < hi) {
              val v = (bytes(i) & 0xff).toLong; ss += v * v; i += 1
            }
            Row(id, modality, w, (hi - lo).toLong, ss)
          }
        }
      }, energySchema)
  }

  val resizeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = false)))

  /** REAL 2-D image resize: decode the payload (ImageIO) and
    * area-average the w×h pixel grid onto a fixed gridW×gridH output —
    * source pixel (x, y) lands in cell (⌊y·gridH/h⌋, ⌊x·gridW/w⌋), all
    * index math exact integers, each cell emits the round-6 mean of its
    * gray levels (cells with no source pixels — h < gridH rows — emit
    * 0). Cell ids are row-major r·gridW + c, matching [[resizeSchema]].
    * Undecodable payloads fall back to the 1-D byte-stream stand-in
    * ([[resizeStub]] semantics) over gridW·gridH cells.
    */
  def resizeGrid(media: DataFrame, gridW: Int = 8, gridH: Int = 8): DataFrame = {
    require(gridW > 0 && gridH > 0)
    val cells = gridW * gridH
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // per-partition decoder init would happen HERE in a multi-codec kernel
        it.flatMap { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val sums = new Array[Long](cells)
          val cnts = new Array[Long](cells)
          decodeImage(payload) match {
            case Some((w, h, px)) =>
              var y = 0
              while (y < h) {
                val cr = ((y.toLong * gridH) / h).toInt
                var x = 0
                while (x < w) {
                  val cc = ((x.toLong * gridW) / w).toInt
                  val cell = cr * gridW + cc
                  sums(cell) += px(y * w + x)
                  cnts(cell) += 1
                  x += 1
                }
                y += 1
              }
            case None =>
              val bytes = if (payload == null) Array.emptyByteArray else payload
              val n = bytes.length
              var p = 0
              while (p < n) {
                val c = ((p.toLong * cells) / n).toInt
                sums(c) += (bytes(p) & 0xff).toLong
                cnts(c) += 1
                p += 1
              }
          }
          (0 until cells).iterator.map { c =>
            val v =
              if (cnts(c) == 0L) 0.0
              else graft.lsa.SparkNumerics.round(sums(c) * 1.0 / cnts(c), 6)
            Row(id, modality, c, v)
          }
        }
      }, resizeSchema)
  }

  /** STUB resize kernel: area-average resample of the payload byte
    * stream onto a FIXED `cells`-cell grid — source position p lands in
    * cell ⌊p·cells/n⌋ (exact integer arithmetic), each cell emits the
    * round-6 mean of its bytes, empty cells (n < cells) emit 0. A real
    * kernel would decode and bilinear-resize the 2-D image here; the
    * fixed output shape, the per-partition batch iterator, and the
    * long-form (id, cell, value) schema the downstream featurizer
    * consumes are identical either way.
    */
  def resizeStub(media: DataFrame, cells: Int = 64): DataFrame = {
    require(cells > 0)
    media.sparkSession.createDataFrame(
      media.rdd.mapPartitions { it =>
        // one-time per-partition decoder init would happen HERE
        it.flatMap { r =>
          val id = r.getLong(r.fieldIndex("id"))
          val modality = r.getString(r.fieldIndex("modality"))
          val payload = r.getAs[Array[Byte]]("payload")
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val n = bytes.length
          val sums = new Array[Long](cells)
          val cnts = new Array[Long](cells)
          var p = 0
          while (p < n) {
            val c = ((p.toLong * cells) / n).toInt
            sums(c) += (bytes(p) & 0xff).toLong
            cnts(c) += 1
            p += 1
          }
          (0 until cells).iterator.map { c =>
            val v =
              if (cnts(c) == 0L) 0.0
              else graft.lsa.SparkNumerics.round(sums(c) * 1.0 / cnts(c), 6)
            Row(id, modality, c, v)
          }
        }
      }, resizeSchema)
  }
}
