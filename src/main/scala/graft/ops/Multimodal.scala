package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * per-partition passes.
  *
  * Images decode for real through `javax.imageio` (JDK built-in — PNG,
  * JPEG, GIF, BMP): dimensions plus an 8-dim feature vector (channel
  * means + quadrant luma means). Bytes no reader recognizes (audio/video
  * — no JDK codec exists) fall back to `decodeStub`, a deterministic
  * fake, so the pipeline shape stays testable end-to-end; swap the stub
  * for ffmpeg bindings without touching the plumbing.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("codec", StringType))))))

  /** ==== STUB ==== deterministic fake decode for bytes no JDK image
    * reader recognizes (audio/video): derives plausible metadata and a
    * small feature vector from the byte content. The signature
    * (bytes → (w, h, features)) is the codec contract. */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val h = java.util.Arrays.hashCode(bytes)
    val width = 64 + math.abs(h % 1024)
    val height = 64 + math.abs((h / 1024) % 1024)
    val features = Array.tabulate(8)(i =>
      math.abs((h * (i + 1)).toFloat / Int.MaxValue))
    (width, height, features)
  }

  /** Real image decode via javax.imageio. Features: mean R, G, B, then
    * mean luma of the four quadrants, then overall mean luma — all in
    * [0, 1]. Deterministic pixel math (no codec state), so the same bytes
    * featurize identically on every executor. */
  private def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val w = im.getWidth; val h = im.getHeight
      val sums = new Array[Double](3)
      val quad = new Array[Double](4)
      val quadN = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sums(0) += r; sums(1) += g; sums(2) += b
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          val qi = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
          quad(qi) += luma; quadN(qi) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val feats = new Array[Float](8)
      var i = 0
      while (i < 3) { feats(i) = (sums(i) / (n * 255.0)).toFloat; i += 1 }
      i = 0
      while (i < 4) {
        feats(3 + i) =
          if (quadN(i) == 0) 0f else (quad(i) / (quadN(i) * 255.0)).toFloat
        i += 1
      }
      feats(7) = ((quad.sum) / (n * 255.0)).toFloat
      (w, h, feats)
    }
  }

  /** Decode + feature-extract over binary content, batched per partition
    * (the Scala analog of mapInPandas: one iterator pass per partition,
    * no per-row task overhead, executor-local codec state). Projects
    * (id, content) before the partition hop so the columnar scan prunes
    * every other column. */
  def decodeAndFeaturize(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("features", ArrayType(FloatType))))
    val projected = df.select(col(idCol).cast("long").as("media_id"), col(binCol))
    val rdd = projected.rdd.mapPartitions { rows =>
      // per-partition init hook: a non-JDK codec would allocate its
      // native context here, once per task, not per row
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val (w, h, feats) = decodeImage(bytes).getOrElse(decodeStub(bytes))
        Row(r.getLong(0), w, h, feats.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** PNG-encode a solid-gray tile per row: real bytes for the real codec
    * (width/height/gray derived from the id — analytically checkable
    * downstream). Batched per partition like the decode side. */
  def syntheticPng(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    val projected = df.select(col(idCol).cast("long").as("media_id"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 8 + (id % 16).toInt
        val h = 8 + ((id / 16) % 16).toInt
        val gray = (id % 256).toInt
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (gray << 16) | (gray << 8) | gray
        var y = 0
        while (y < h) { var x = 0; while (x < w) { im.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "png", bos)
        Row(id, bos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Header-only metadata sniff — the catalog pass that runs BEFORE
    * [[decodeAndFeaturize]]: O(header bytes) per row, no codec, stays in
    * whole-stage codegen ([[graft.functions.MediaExprs.SniffMedia]]).
    * Returns `struct<format, width, height, duration_ms, channels,
    * sample_rate>`, NULL for unrecognized/corrupt bytes. */
  def sniffMedia(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MediaExprs.SniffMedia(
        org.apache.spark.sql.GraftSqlBridge.expression(c)))

  /** Mixed synthetic media for the sniff pipeline: id%3 == 0 → PNG tile,
    * 1 → JPEG tile (both real `ImageIO` encodes of the [[syntheticPng]]
    * geometry), 2 → WAV (hand-built RIFF header + zeroed PCM payload).
    * Every sniffable property is analytic in the id, so the sniffed
    * metadata has a pure-SQL oracle:
    *
    *   images: width = 8 + id%16, height = 8 + (id/16)%16
    *   wav:    channels = 1 + id%2, sample_rate = 8000,
    *           data bytes = ((id%200)+1)·16,
    *           duration_ms = dataBytes·1000 / (8000·channels·2)  (floor)
    */
  def syntheticMixedMedia(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    val projected = df.select(col(idCol).cast("long").as("media_id"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = (id % 3) match {
          case 0 => encodeTile(id, "png")
          case 1 => encodeTile(id, "jpg")
          case _ => encodeWav(id)
        }
        Row(id, bytes)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic corpus over the round-11 format additions
    * (WebP / MP4 / M4A / OGG / FLAC), cycling by `id % 4` — the same
    * id-math contract as [[syntheticMixedMedia]], so a DuckDB oracle
    * replays every sniffed field from the id alone. All containers are
    * hand-built byte buffers (no codec dependencies): the headers are
    * real, the payloads zeroed. */
  def syntheticMixedMediaExt(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    val projected = df.select(col(idCol).cast("long").as("media_id"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = (id % 4) match {
          case 0 => encodeWebpLossless(id)
          case 1 => encodeMp4(id)
          case 2 => encodeOggVorbis(id)
          case _ => encodeFlac(id)
        }
        Row(id, bytes)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Lossless WebP (VP8L): 14-bit packed width-1 / height-1. */
  private def encodeWebpLossless(id: Long): Array[Byte] = {
    val w = 8 + (id % 16).toInt
    val h = 8 + ((id / 16) % 16).toInt
    val buf = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(22)
      .put("WEBP".getBytes("US-ASCII"))
    buf.put("VP8L".getBytes("US-ASCII")).putInt(10)
    buf.put(0x2f.toByte)
    buf.putInt((w - 1) | ((h - 1) << 14)) // + version 0 in the top bits
    buf.array()
  }

  /** ISO-BMFF ftyp + faststart moov/mvhd/trak/tkhd (v0). Odd `id/4`
    * slices carry the `M4A ` major brand. duration_ms = (id%300+1)*100
    * exactly (the mvhd timescale is 1000); the video track's geometry
    * is (320 + (id%8)*16) × 240 in tkhd 16.16 fixed point. */
  private def encodeMp4(id: Long): Array[Byte] = {
    val m4a = (id / 4) % 2 == 1
    val durMs = ((id % 300) + 1) * 100
    val w = 320 + (id % 8).toInt * 16
    // moov = mvhd(8+100) + trak(8 + tkhd(8+84)) = 208 bytes of children
    val buf = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 100) // BE default
    buf.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put((if (m4a) "M4A " else "isom").getBytes("US-ASCII")).putInt(0)
    buf.putInt(8 + 108 + 100).put("moov".getBytes("US-ASCII"))
    buf.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation, modification
      .putInt(1000) // timescale
      .putInt(durMs.toInt) // duration in timescale units
    buf.position(buf.position() + 108 - 8 - 20) // rest of mvhd stays zero
    buf.putInt(100).put("trak".getBytes("US-ASCII"))
    buf.putInt(92).put("tkhd".getBytes("US-ASCII"))
    val tkhdBody = buf.position()
    buf.position(tkhdBody + 76) // v0: width sits 76 bytes into the body
    buf.putInt(w << 16).putInt(240 << 16) // 16.16 fixed point
    buf.array()
  }

  /** First OGG page holding a Vorbis identification header. */
  private def encodeOggVorbis(id: Long): Array[Byte] = {
    val channels = 1 + (id % 2).toInt
    val packet = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    packet.put(0x01.toByte).put("vorbis".getBytes("US-ASCII"))
      .putInt(0) // vorbis version
      .put(channels.toByte).putInt(44100)
      .putInt(0).putInt(0).putInt(0) // bitrate max/nominal/min
      .put(0xb8.toByte).put(0x01.toByte) // blocksizes + framing
    val page = java.nio.ByteBuffer.allocate(27 + 1 + 30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    page.put("OggS".getBytes("US-ASCII")).put(0.toByte)
      .put(0x02.toByte) // header type: beginning of stream
      .putLong(0L).putInt(7777).putInt(0).putInt(0) // granule serial seq crc
      .put(1.toByte).put(30.toByte) // one segment of 30 bytes
      .put(packet.array())
    page.array()
  }

  /** `fLaC` + STREAMINFO: 44.1 kHz stereo, 16-bit, total samples =
    * (id%100+1)*4410 → duration_ms = (id%100+1)*100 exactly. */
  private def encodeFlac(id: Long): Array[Byte] = {
    val totalSamples = ((id % 100) + 1) * 4410L
    val buf = java.nio.ByteBuffer.allocate(4 + 4 + 34)
    buf.put("fLaC".getBytes("US-ASCII"))
    buf.put(0x80.toByte) // last-block flag + STREAMINFO type 0
    buf.put(0.toByte).put(0.toByte).put(34.toByte) // block length be24
    buf.putShort(4096).putShort(4096) // min/max blocksize
    buf.put(0.toByte).put(0.toByte).put(0.toByte) // min framesize
    buf.put(0.toByte).put(0.toByte).put(0.toByte) // max framesize
    // packed: sr 44100 (20b) | ch-1 = 1 (3b) | bps-1 = 15 (5b) | total (36b)
    buf.put(0x0a.toByte).put(0xc4.toByte) // sr high bits
    buf.put((0x40 | (1 << 1) | 0).toByte) // sr low nibble, ch-1, bps bit4
    buf.put((0xf0 | ((totalSamples >> 32) & 0xf)).toByte)
    buf.putInt(totalSamples.toInt)
    // 16 MD5 bytes stay zero
    buf.array()
  }

  /** Synthetic TIFF corpus: alternating byte orders (even id = II
    * little-endian, odd = MM big-endian), width/height on the same id
    * math as the other tiles, SamplesPerPixel 1 + id%3, and BOTH
    * BitsPerSample storage forms — count-1 inline (8 or 16 by id
    * parity) when single-sample, count-N at an offset (8 per channel)
    * otherwise. All fields are pure id math for the DuckDB oracle. */
  def syntheticTiffMedia(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    val projected = df.select(col(idCol).cast("long").as("media_id"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r => val id = r.getLong(0); Row(id, encodeTiff(id)) }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def encodeTiff(id: Long): Array[Byte] = {
    val le = id % 2 == 0
    val w = 8 + (id % 16).toInt
    val h = 8 + ((id / 16) % 16).toInt
    val samples = 1 + (id % 3).toInt
    val inlineBits = 8 * (1 + (id % 2).toInt) // used when samples == 1
    val buf = java.nio.ByteBuffer.allocate(62 + samples * 2).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    buf.put((if (le) "II" else "MM").getBytes("US-ASCII"))
      .putShort(42).putInt(8)
    buf.putShort(4) // entry count; tags ascending per spec
    def entryShortInline(tag: Int, v: Int): Unit = {
      buf.putShort(tag.toShort).putShort(3).putInt(1)
        .putShort(v.toShort).putShort(0); ()
    }
    entryShortInline(256, w)
    entryShortInline(257, h)
    if (samples == 1) entryShortInline(258, inlineBits)
    else buf.putShort(258).putShort(3).putInt(samples).putInt(62)
    entryShortInline(277, samples)
    buf.putInt(0) // no next IFD
    (0 until samples).foreach(_ => buf.putShort(8))
    buf.array()
  }

  private def encodeTile(id: Long, format: String): Array[Byte] = {
    val w = 8 + (id % 16).toInt
    val h = 8 + ((id / 16) % 16).toInt
    val gray = (id % 256).toInt
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) { var x = 0; while (x < w) { im.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, format, bos)
    bos.toByteArray
  }

  /** Canonical 44-byte PCM WAV header + zeroed payload. */
  private def encodeWav(id: Long): Array[Byte] = {
    val channels = 1 + (id % 2).toInt
    val sampleRate = 8000
    val byteRate = sampleRate * channels * 2
    val dataBytes = (((id % 200) + 1) * 16).toInt
    val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(byteRate).putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    buf.array()
  }

  /** Resize plan: records the target geometry per row; the pixel transform
    * is part of the stubbed codec stage. Kept as a column op so Catalyst
    * can pipeline it with filters/pruning. */
  def resizePlan(df: DataFrame, widthCol: String, heightCol: String,
      maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide).cast("double") / greatest(col(widthCol), col(heightCol)))
    df.withColumn("target_width", (col(widthCol) * scale).cast("int"))
      .withColumn("target_height", (col(heightCol) * scale).cast("int"))
      .withColumn("needs_resize", scale < 1.0)
  }

  /** Demo source: wraps any table's text column as opaque binary media so
    * the pipeline runs against the shipped testdata. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("content"),
      lit("image").as("media_type"),
      lit(null).cast(mediaSchema("meta").dataType).as("meta"))

  // ------------------------------------------------- image near-dup dedup

  /** splitmix64 — deterministic 64-bit mix, identical on every JVM (no
    * library hash whose seed could drift between versions). */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic 16×16 block-pattern image per id: the 8×8 grid of
    * 2×2-pixel blocks renders bit i of `mix64(id)` as bright (200) or
    * dark (55) — so two DIFFERENT ids are ~32 aHash bits apart (random
    * 64-bit fingerprints) while any re-encode of the SAME id stays at
    * hamming ≈ 0. `format` picks the codec ("png" lossless, "jpg" a
    * REAL lossy recompression — the classic near-dup pair a crawl
    * corpus carries); `idOffset` shifts the emitted media_id so planted
    * twins don't collide with their originals. Batched per partition
    * like every codec stage. */
  def syntheticPatternImage(df: DataFrame, idCol: String,
      format: String = "png", idOffset: Long = 0L,
      side: Int = 16): DataFrame = {
    require(side >= 8 && side % 8 == 0, s"side must be a multiple of 8, got $side")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType)))
    val projected = df.select(col(idCol).cast("long").as("media_id"))
    val blk = side / 8 // render scale: side=32 is the 2x "thumbnail twin"
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bits = mix64(id)
        val im = new java.awt.image.BufferedImage(side, side,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            val block = (y / blk) * 8 + (x / blk)
            val luma = if (((bits >>> block) & 1L) == 1L) 200 else 55
            im.setRGB(x, y, (luma << 16) | (luma << 8) | luma)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, format, bos)
        Row(id + idOffset, bos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** (media_id, width, height, grid) per image: `gridSize`² cell-mean
    * luma values (row-major floats in [0, 255]) — the decode front of
    * [[imageNearDupPairs]], and the ONLY stage that touches pixels.
    * Undecodable bytes yield a NULL grid (observable, like the WARC
    * front's corrupt-gzip contract — a 100 TB scan must not fail on one
    * bad object). Cell ranges clamp to ≥1 source pixel so images
    * smaller than the grid still fingerprint. */
  def imageLumaGrid(df: DataFrame, idCol: String, binCol: String,
      gridSize: Int = 8): DataFrame = {
    require(gridSize >= 1 && gridSize * gridSize <= 64,
      s"gridSize² must fit a 64-bit fingerprint, got $gridSize")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("grid", ArrayType(FloatType))))
    val g = gridSize
    val projected = df.select(col(idCol).cast("long").as("media_id"), col(binCol))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val img =
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes)))
          catch { case _: Exception => None }
        img match {
          case None => Row(r.getLong(0), null, null, null)
          case Some(im) =>
            val w = im.getWidth; val h = im.getHeight
            val grid = new Array[Float](g * g)
            var gy = 0
            while (gy < g) {
              val y0 = gy * h / g
              val y1 = math.max(y0 + 1, (gy + 1) * h / g)
              var gx = 0
              while (gx < g) {
                val x0 = gx * w / g
                val x1 = math.max(x0 + 1, (gx + 1) * w / g)
                var sum = 0.0; var n = 0L
                var y = y0
                while (y < y1 && y < h) {
                  var x = x0
                  while (x < x1 && x < w) {
                    val rgb = im.getRGB(x, y)
                    sum += 0.299 * ((rgb >> 16) & 0xff) +
                      0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                    n += 1; x += 1
                  }
                  y += 1
                }
                grid(gy * g + gx) = if (n == 0) 0f else (sum / n).toFloat
                gx += 1
              }
              gy += 1
            }
            Row(r.getLong(0), w, h, grid.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Average-hash column over a luma grid
    * ([[graft.functions.MediaExprs.AverageHash]] — codegen'd kernel). */
  def averageHash(grid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MediaExprs.AverageHash(
        org.apache.spark.sql.GraftSqlBridge.expression(grid)))

  /** Difference-hash column over a square luma grid
    * ([[graft.functions.MediaExprs.DifferenceHash]] — codegen'd). */
  def differenceHash(grid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MediaExprs.DifferenceHash(
        org.apache.spark.sql.GraftSqlBridge.expression(grid)))

  /** Image-content near-duplicate pairs — the multimodal analog of
    * [[Dedup.simHashPairs]]: decode each image ONCE to a `gridSize`²
    * cell-mean luma grid ([[imageLumaGrid]] — the only pixel pass),
    * fingerprint with the codegen'd average-hash kernel (robust to
    * recompression, format conversion and uniform brightness shifts),
    * then find pairs within `maxDistance` Hamming via the SAME
    * pigeonhole blocking + block-cap machinery the text SimHash path
    * uses ([[Dedup.hammingBandedPairs]] — never all-pairs, skew-capped,
    * adaptive parallelism pins).
    *
    * Undecodable images have a null fingerprint and simply produce no
    * pairs (their count is observable via [[imageLumaGrid]]).
    *
    * `pinMinBytes` gates the pair-stage pins on the BINARY corpus size,
    * whose bytes are payload-dominated — hence a higher default than
    * the text family's (image count, not byte count, drives pair CPU).
    *
    * `method` picks the fingerprint: "ahash" (global-mean threshold —
    * the default; strongest on structured content) or "dhash"
    * (adjacent-cell gradient sign — survives LOW-CONTRAST images whose
    * cells hover near the global mean, where aHash bits flip under
    * noise).
    *
    * Output: (id_a, id_b, hamming ≤ maxDistance), id_a < id_b. */
  def imageNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int = 6, maxBlockSize: Int = 1000, gridSize: Int = 8,
      pinMinBytes: Long = 64L << 20, method: String = "ahash"): DataFrame = {
    val fp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      method match {
        case "ahash" => averageHash
        case "dhash" => differenceHash
        case other => throw new IllegalArgumentException(
          s"unknown fingerprint method '$other' (ahash | dhash)")
      }
    val sigs = imageLumaGrid(df, idCol, binCol, gridSize)
      .filter(col("grid").isNotNull)
      .select(col("media_id").as("id"), fp(col("grid")).as("sig"))
      .filter(col("sig").isNotNull)
    Dedup.hammingBandedPairs(Dedup.sigChunks(sigs, maxDistance),
      maxDistance, maxBlockSize, PairPins.pairPar(df, pinMinBytes))
  }
}
