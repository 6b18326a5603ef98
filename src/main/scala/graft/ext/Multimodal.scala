package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing (north-star extension X4): image/audio/
 * video payloads as opaque `binary` columns + typed metadata, with
 * decode / feature-extract / resize / frame-sample stages.
 *
 * IMAGE decode is REAL: [[decodeImage]] runs `javax.imageio` (JDK-only,
 * no external codecs needed for PNG/JPEG/BMP/GIF) inside the same
 * mapPartitions batch shape (one partition = one decode batch — the
 * Scala analogue of `mapInPandas` batching, amortizing any codec/JNI
 * setup per batch). [[synthesizePng]] generates losslessly-decodable
 * payloads whose pixel values are closed-form integer arithmetic, so
 * the decoded features are re-derivable by a SQL oracle with no codec
 * at all — that is what upgrades the corpus check from rows-only to a
 * full hash-match.
 *
 * AUDIO decode is REAL too: [[decodeAudio]] runs `javax.sound.sampled`
 * (JDK-only WAV/PCM support) in the same batch shape, and
 * [[synthesizeWav]] generates losslessly-decodable 16-bit PCM payloads
 * whose sample values are closed-form integer arithmetic — same
 * oracle-upgrade trick as the PNG path.
 *
 * VIDEO decode is REAL for uncompressed streams: [[decodeVideo]]
 * parses YUV4MPEG2 (Y4M — the standard ffmpeg/x264 interchange
 * container: an ASCII stream header, then `FRAME\n` + raw Y/U/V
 * planes per frame) with frame sampling, and [[synthesizeY4m]]
 * generates losslessly-decodable payloads whose plane values are
 * closed-form integer arithmetic — the video analogue of the PNG/WAV
 * trick. Only COMPRESSED codecs (H.264 etc.) remain out of scope
 * (`decodeStub` — no such codec in the JDK or this container).
 */
object Multimodal {

  /** Per-partition ImageIO reader pool — the codec-constant flattener
    * (r9 verdict #7: x122 measured ×12.3 at ×10 data from per-FRAME
    * reader construction). `ImageIO.read(InputStream)` instantiates a
    * fresh plugin reader per call — for JPEG that re-initializes the
    * native decoder and its buffers EVERY frame, pure GC/JNI pressure
    * at 50k clips × frames. The pool keeps one reader instance per
    * plugin per task and re-points it at each frame's byte range
    * (`setInput`), probing cached readers via their SPI's
    * `canDecodeInput` (the same magic-byte sniff the registry runs) so
    * mixed-codec corpora still route correctly. Decoded pixels are
    * bit-identical — only allocation count changes (hashes pinned by
    * the unchanged x12/x61/x73/x80/x82/x118/x122/x129 oracles).
    * NOT thread-safe — one instance per mapPartitions closure. */
  private final class ImageReaderPool {
    private var cached: List[javax.imageio.ImageReader] = Nil

    // plugin readers can hold native/plugin resources; dispose them at
    // partition end rather than leaving them to GC finalization on a
    // long-running executor (constructed once per mapPartitions
    // closure, so the listener fires exactly once per task)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit] { _ =>
        cached.foreach(r => try r.dispose() catch { case _: Throwable => () })
        cached = Nil
      })

    /** A reader positioned over the byte range with input set, or null
      * if no installed plugin recognizes the payload. The pool owns
      * the reader; callers must not dispose it. */
    def acquire(b: Array[Byte], off: Int, len: Int): javax.imageio.ImageReader = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(b, off, len))
      var reader: javax.imageio.ImageReader = null
      val it = cached.iterator
      while (reader == null && it.hasNext) {
        val rd = it.next()
        val spi = rd.getOriginatingProvider
        iis.seek(0)
        if (spi != null && spi.canDecodeInput(iis)) reader = rd
      }
      if (reader == null) {
        iis.seek(0)
        val rs = javax.imageio.ImageIO.getImageReaders(iis)
        if (!rs.hasNext) return null
        reader = rs.next()
        val next = (reader :: cached).take(4)
        // dispose what the 4-entry cache evicts, not just drop it
        cached.drop(3).foreach(r =>
          try r.dispose() catch { case _: Throwable => () })
        cached = next
      }
      iis.seek(0)
      reader.setInput(iis, false, true)
      reader
    }

    /** Drop-in for `ImageIO.read(new ByteArrayInputStream(b, off, len))`
      * minus the per-call reader construction; null on unrecognized
      * payloads (decode exceptions still propagate to the caller's
      * poison-row handler). */
    def read(b: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
      val rd = acquire(b, off, len)
      if (rd == null) null else rd.read(0)
    }

    def read(b: Array[Byte]): java.awt.image.BufferedImage =
      read(b, 0, b.length)
  }

  /** Canonical media-row schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Wrap any table with a string column into media rows (payload =
    * UTF-8 bytes) — the test-data on-ramp; production ingests real
    * binary parquet columns with the same schema. */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit("image").as("modality"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mime"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))

  /** Deterministic fake "decode + feature extract": a `dim`-bucket
    * byte histogram, L1-normalized. Real deployments swap the body
    * for an actual codec call; the signature, batching and schema
    * stay identical. Implemented with mapPartitions so the per-batch
    * shape (one partition = one decode batch) matches how a JNI/codec
    * library would be amortized. */
  def decodeStub(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false))))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.empty[Byte]
                    else r.getAs[Array[Byte]](1)
        val hist = new Array[Double](dim)
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xff) % dim) += 1.0; i += 1 }
        val total = math.max(bytes.length.toDouble, 1.0)
        Row(id, bytes.length.toLong, hist.map(_ / total).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic PNG payloads: pixel (x, y) of id `d` has
    * channels
    *   r = (d*31 + x*7  + y*13) % 256
    *   g = (d*17 + x*11 + y*3 ) % 256
    *   b = (d*23 + x*5  + y*19) % 256
    * — pure integer arithmetic over NON-NEGATIVE ids (the corpus
    * contract), and PNG is lossless, so any engine can re-derive the
    * DECODED pixel values with no codec. This is the on-ramp that lets
    * the REAL [[decodeImage]] path be oracle-checked end to end. */
  def synthesizePng(df: DataFrame, idCol: String, w: Int, h: Int,
                    seedCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val cols = Seq(col(idCol).cast("long")) ++
      seedCol.map(c => col(c).cast("long"))
    val rdd = df.select(cols: _*).rdd.mapPartitions { it =>
      // memory-backed ImageIO streams: the default disk cache writes a
      // temp file per encode — a hidden fsync per row on the hot path
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val mediaId = r.getLong(0)
        // pixel seed defaults to the id; a separate seed column lets a
        // corpus contain EXACT-duplicate images under distinct ids
        // (the dedup test shape)
        val id = if (r.size > 1) r.getLong(1) else mediaId
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rr = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val gg = ((id * 17 + x * 11 + y * 3) % 256).toInt
            val bb = ((id * 23 + x * 5 + y * 19) % 256).toInt
            img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(mediaId, "image", bos.toByteArray, "image/png", w, h, null)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Deterministic synthetic BMP payloads — the same closed-form
    * pixels as [[synthesizePng]] but through a HAND-ROLLED container:
    * a minimal BITMAPINFOHEADER 24-bit BMP (bottom-up BGR rows,
    * 4-byte row padding) written byte by byte, decoded by the REAL
    * JDK ImageIO BMP reader in [[decodeImage]]. PNG pins the
    * JDK-encode→JDK-decode loop; BMP pins OUR writer against the JDK
    * parser — a second real container family on the image path, and
    * lossless like PNG, so the no-codec oracle still re-derives every
    * decoded pixel. */
  def synthesizeBmp(df: DataFrame, idCol: String, w: Int,
                    h: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val rowBytes = w * 3
        val pad = (4 - rowBytes % 4) % 4
        val dataSize = (rowBytes + pad) * h
        val fileSize = 54 + dataSize
        val buf = java.nio.ByteBuffer.allocate(fileSize)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put('B'.toByte).put('M'.toByte).putInt(fileSize)
          .putInt(0).putInt(54) // reserved, pixel-data offset
        buf.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER
          .putShort(1.toShort).putShort(24.toShort) // planes, bpp
          .putInt(0).putInt(dataSize) // BI_RGB, image size
          .putInt(2835).putInt(2835).putInt(0).putInt(0) // dpi, palette
        var y = h - 1 // bottom-up row order
        while (y >= 0) {
          var x = 0
          while (x < w) {
            val rr = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val gg = ((id * 17 + x * 11 + y * 3) % 256).toInt
            val bb = ((id * 23 + x * 5 + y * 19) % 256).toInt
            buf.put(bb.toByte).put(gg.toByte).put(rr.toByte)
            x += 1
          }
          var p = 0
          while (p < pad) { buf.put(0.toByte); p += 1 }
          y -= 1
        }
        Row(id, "image", buf.array(), "image/bmp", w, h, null)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Hand-rolled BASELINE TIFF payloads through byte-level IFD
    * construction — the seventh real container family (after PNG,
    * BMP, WAV/PCM, G.711, Y4M, AVI, GIF): little-endian header, the
    * BitsPerSample array and the raw RGB strip placed before a
    * 9-entry IFD (ImageWidth/Length, BitsPerSample 8-8-8,
    * Compression=1, Photometric=RGB, StripOffsets, SamplesPerPixel=3,
    * RowsPerStrip, StripByteCounts), entries in ascending tag order
    * as the spec demands. Read back by the ACTUAL `javax.imageio`
    * TIFF plugin (JDK 9+), so x118's writer-vs-JDK-parser check gets
    * a second, structurally different container: BMP is offset-
    * addressed pixels; TIFF is a tag directory the reader must walk.
    * Same closed-form pixels as [[synthesizePng]]/[[synthesizeBmp]] —
    * the no-codec oracle re-derives every decoded value. */
  def synthesizeTiff(df: DataFrame, idCol: String, w: Int,
                     h: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val dataLen = w * h * 3
        val bpsOff = 8            // BitsPerSample array (3 SHORTs)
        val stripOff = bpsOff + 6 // raw RGB strip, rows top-down
        val ifdOff = stripOff + dataLen + (dataLen & 1) // word-align
        val n = 9
        val buf = java.nio.ByteBuffer.allocate(ifdOff + 2 + n * 12 + 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put('I'.toByte).put('I'.toByte).putShort(42.toShort)
          .putInt(ifdOff)
        buf.putShort(8.toShort).putShort(8.toShort).putShort(8.toShort)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            buf.put(((id * 31 + x * 7 + y * 13) % 256).toByte)
            buf.put(((id * 17 + x * 11 + y * 3) % 256).toByte)
            buf.put(((id * 23 + x * 5 + y * 19) % 256).toByte)
            x += 1
          }
          y += 1
        }
        if ((dataLen & 1) == 1) buf.put(0.toByte)
        def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
          buf.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
          if (typ == 3 && count == 1) // SHORT: left-justified in 4 bytes
            buf.putShort(value.toShort).putShort(0.toShort)
          else buf.putInt(value)
        }
        buf.putShort(n.toShort)
        entry(256, 3, 1, w)        // ImageWidth
        entry(257, 3, 1, h)        // ImageLength
        entry(258, 3, 3, bpsOff)   // BitsPerSample -> offset
        entry(259, 3, 1, 1)        // Compression = none
        entry(262, 3, 1, 2)        // Photometric = RGB
        entry(273, 4, 1, stripOff) // StripOffsets
        entry(277, 3, 1, 3)        // SamplesPerPixel
        entry(278, 3, 1, h)        // RowsPerStrip
        entry(279, 4, 1, dataLen)  // StripByteCounts
        buf.putInt(0)              // no next IFD
        Row(id, "image", buf.array(), "image/tiff", w, h, null)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Perceptual average-hash over REAL decoded pixels — the image
    * near-dup fingerprint (re-encodes, metadata edits, and mild
    * quality changes keep the hash close; distinct images diverge):
    * grayscale = (r+g+b) DIV 3, the image splits into grid×grid
    * blocks, bit (bj·grid+bi) is set iff that block's integer mean
    * exceeds the integer mean-of-means. ALL-INTEGER (no float
    * resampling), so for lossless inputs the hash re-derives from the
    * source pixels on any engine. Returns (media_id, decode_ok,
    * ahash); poison payloads degrade as in [[decodeImage]].
    * Map-only — the 100 TB corpus is hashed in place. */
  def imageAHash(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid > 0 && grid * grid <= 64,
      s"imageAHash: grid^2 must fit 64 bits, got $grid")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("ahash", LongType, nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val pool = new ImageReaderPool
      it.map { r =>
        val id = r.getLong(0)
        val img =
          if (r.isNullAt(1)) null
          else try pool.read(r.getAs[Array[Byte]](1))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(id, false, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val sums = new Array[Long](grid * grid)
          val counts = new Array[Long](grid * grid)
          var y = 0
          while (y < h) {
            val bj = math.min(y * grid / h, grid - 1)
            var x = 0
            while (x < w) {
              val bi = math.min(x * grid / w, grid - 1)
              val p = img.getRGB(x, y)
              val gray = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) +
                (p & 0xff)) / 3
              sums(bj * grid + bi) += gray
              counts(bj * grid + bi) += 1L
              x += 1
            }
            y += 1
          }
          val means = sums.indices.map(i =>
            if (counts(i) == 0) 0L else sums(i) / counts(i))
          val thr = means.sum / (grid * grid)
          var hash = 0L
          var i = 0
          while (i < means.length) {
            if (means(i) > thr) hash |= 1L << i
            i += 1
          }
          Row(id, true, hash)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Blocked Hamming pairing over perceptual fingerprints
    * ([[imageAHash]], [[audioFingerprint]]) — the x08 SimHash shape
    * on media: candidates share the top `blockShift`-shifted prefix
    * (exact duplicates always do — equal hashes share every prefix),
    * verified by exact bit_count. The self-join carries only
    * (id, 8-byte hash) rows. */
  def imageNearDupPairs(hashes: DataFrame, maxDist: Int,
                        blockShift: Int = 48,
                        hashCol: String = "ahash"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val ok = hashes.filter(col("decode_ok"))
      .select(col("media_id"), col(hashCol).as("ahash"),
        shiftright(col(hashCol), blockShift).as("blk"))
    val l = ok.select(col("media_id").as("a"), col("ahash").as("ha"),
      col("blk"))
    val rr = ok.select(col("media_id").as("b"), col("ahash").as("hb"),
      col("blk"))
    l.join(rr, Seq("blk"))
      .filter(col("a") < col("b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** REAL image decode + feature extraction via `javax.imageio`: PNG/
    * JPEG/BMP/GIF payloads to (width, height, channel-sum histogram).
    * Features are exact integer pixel counts — bucket =
    * (r + g + b) % dim per pixel — so for lossless formats the result
    * is re-derivable from the source pixels by any engine (the x12
    * oracle) and bit-stable across JVMs (no float resampling).
    * Undecodable or null payloads yield decode_ok = false with null
    * dims rather than failing the batch — at 100 TB some corrupt
    * payloads are a certainty, and a poison row must not kill a task
    * retry loop. Same mapPartitions batch shape as [[decodeStub]]. */
  def decodeImage(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("hist", ArrayType(LongType, containsNull = false),
        nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // memory-backed streams
      val pool = new ImageReaderPool
      it.map { r =>
        val id = r.getLong(0)
        val img =
          if (r.isNullAt(1)) null
          else try pool.read(r.getAs[Array[Byte]](1))
          // ImageIO plugins throw unchecked exceptions (ArrayIndexOutOfBounds,
          // NegativeArraySize, IllegalArgument) on malformed payloads, not
          // just IOException — NonFatal keeps the poison-row guarantee.
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(id, false, null, null, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val hist = new Array[Long](dim)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val s = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              hist(s % dim) += 1L
              x += 1
            }
            y += 1
          }
          Row(id, true, w, h, hist.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic WAV payloads: 16-bit signed PCM mono at
    * `sampleRate`, where sample i of id `d` is
    *   s(i) = ((d*31 + i*7) % 65536) - 32768
    * — pure integer arithmetic over NON-NEGATIVE ids, and PCM WAV is
    * lossless, so the DECODED sample stream is re-derivable by a SQL
    * oracle with no codec (the audio analogue of [[synthesizePng]]).
    * Encoding goes through the real `javax.sound.sampled` writer (RIFF
    * header + interleaved frames), not a hand-rolled header. */
  def synthesizeWav(df: DataFrame, idCol: String, nSamples: Int,
                    sampleRate: Int = 8000,
                    seedCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val cols = Seq(col(idCol).cast("long")) ++
      seedCol.map(c => col(c).cast("long"))
    val rdd = df.select(cols: _*).rdd.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false) // 16-bit signed mono LE
      it.map { r =>
        val mediaId = r.getLong(0)
        // sample seed defaults to the id; a seed column plants exact-
        // duplicate clips under distinct ids (the dedup test shape)
        val id = if (r.size > 1) r.getLong(1) else mediaId
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val v = (((id * 31 + i.toLong * 7) % 65536L) - 32768L).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        Row(mediaId, "audio", Sound.wav(fmt, pcm, nSamples), "audio/wav",
          null, null, nSamples.toLong * 1000L / sampleRate)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Deterministic COMPRESSED audio payloads: G.711 μ-law WAV (format
    * code 7 — the telephony/capture codec, 2:1 logarithmic
    * compression), where encoded byte i of id `d` is
    *   b(i) = (d*31 + i*7) % 256
    * — the closed form lives in the COMPRESSED domain, and G.711's
    * decode expansion is exactly specified integer arithmetic
    *   u = ~b & 0xff; mag = ((8·(u & 15) + 132) << ((u >> 4) & 7)) − 132
    *   pcm16 = sign(u & 128) · mag
    * (verified bit-identical to the JDK codec for all 256 bytes), so
    * a SQL oracle re-derives the DECODED samples with no codec — the
    * audio analogue of PNG-in-AVI: a real compressed codec whose
    * decode path is still hash-checkable. The container goes through
    * the real javax.sound WAV writer. */
  def synthesizeUlawWav(df: DataFrame, idCol: String, nSamples: Int,
                        sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.ULAW,
        sampleRate.toFloat, 8, 1, 1, sampleRate.toFloat, false)
      it.map { r =>
        val id = r.getLong(0)
        val enc = new Array[Byte](nSamples)
        var i = 0
        while (i < nSamples) {
          enc(i) = ((id * 31 + i.toLong * 7) % 256L).toByte
          i += 1
        }
        Row(id, "audio", Sound.wav(fmt, enc, nSamples), "audio/basic",
          null, null, nSamples.toLong * 1000L / sampleRate)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Synthesize HAND-ROLLED AIFF payloads — the EIGHTH real container
    * family (r10), and the audio sibling of the BMP/TIFF writer-vs-
    * JDK-parser pins (x118/x129): where [[synthesizeWav]] round-trips
    * through the JDK's own WAV writer, this writes the IFF structure
    * byte by byte (FORM/AIFF, an 18-byte COMM chunk whose sample rate
    * is an 80-bit IEEE-754 EXTENDED float — derived, not hardcoded —
    * and an SSND chunk of BIG-ENDIAN PCM16) and the actual
    * `javax.sound` AIFF parser reads it back inside the unchanged
    * [[decodeAudio]] path (the JDK's converter byte-swaps to LE16
    * losslessly). Samples follow [[synthesizeWav]]'s closed form
    * `((id·31 + i·7) % 65536) − 32768`, so the no-codec SQL oracle
    * re-derives every decoded value. */
  def synthesizeAiff(df: DataFrame, idCol: String, nSamples: Int,
                     sampleRate: Int = 8000): DataFrame = {
    require(nSamples > 0 && sampleRate > 0, "synthesizeAiff: bad geometry")
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      def be16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
        o.write((v >> 8) & 0xff); o.write(v & 0xff)
      }
      def be32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
        o.write((v >> 24) & 0xff); o.write((v >> 16) & 0xff)
        o.write((v >> 8) & 0xff); o.write(v & 0xff)
      }
      def tag(o: java.io.ByteArrayOutputStream, s: String): Unit =
        o.write(s.getBytes("US-ASCII"))
      // 80-bit extended float: biased exponent 16383+e, explicit-
      // leading-1 mantissa = rate << (63 − e) for the e with
      // 2^e <= rate < 2^(e+1) (exact for any integer rate)
      def extended(o: java.io.ByteArrayOutputStream, rate: Long): Unit = {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(rate)
        be16(o, 16383 + e)
        val m = rate << (63 - e)
        var i = 7
        while (i >= 0) { o.write(((m >>> (8 * i)) & 0xff).toInt); i -= 1 }
      }
      it.map { r =>
        val id = r.getLong(0)
        val dataLen = nSamples * 2
        val o = new java.io.ByteArrayOutputStream(54 + dataLen)
        tag(o, "FORM"); be32(o, 4 + 26 + 16 + dataLen); tag(o, "AIFF")
        tag(o, "COMM"); be32(o, 18)
        be16(o, 1)                 // channels
        be32(o, nSamples)          // sample frames
        be16(o, 16)                // bits per sample
        extended(o, sampleRate.toLong)
        tag(o, "SSND"); be32(o, 8 + dataLen)
        be32(o, 0); be32(o, 0)     // offset, block size
        var i = 0
        while (i < nSamples) {
          val v = (((id * 31 + i.toLong * 7) % 65536L) - 32768L).toInt
          o.write((v >> 8) & 0xff); o.write(v & 0xff) // BIG-endian
          i += 1
        }
        Row(id, "audio", o.toByteArray, "audio/aiff", null, null,
          nSamples.toLong * 1000L / sampleRate)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** `javax.sound.sampled` dispatch over providers resolved ONCE per
    * JVM. Each `AudioSystem` call re-resolves its providers with a
    * classpath `ServiceLoader` scan under the JDK's `synchronized`
    * `JDK13Services.getProviders` (so decode tasks queue on one lock),
    * and its reader loop runs the MIDI reader, which scans again, on
    * every payload. Here the same lookup (`ServiceLoader` over the
    * context loader, each provider prepended) runs once and the same
    * first-provider-that-accepts loops pick from it, so every payload
    * reaches the same JDK reader, codec and writer — except that the
    * MIDI reader only sees payloads opening with the Standard MIDI File
    * magic `MThd`, the only ones it does not reject as unsupported. The
    * JDK's sound providers are stateless, so tasks share them. */
  private object Sound {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
      UnsupportedAudioFileException}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter,
      FormatConversionProvider}

    private def providers[T](c: Class[T]): List[T] = {
      val it = java.util.ServiceLoader.load(c).iterator()
      var out = List.empty[T]
      while (it.hasNext)
        try out = it.next() :: out
        catch { case _: java.util.ServiceConfigurationError => } // skipped
      out
    }
    private val readers = providers(classOf[AudioFileReader])
    private val sampledReaders = readers.filterNot(
      _.getClass.getName == "com.sun.media.sound.SoftMidiAudioFileReader")
    private val writers = providers(classOf[AudioFileWriter])
    private val codecs = providers(classOf[FormatConversionProvider])

    /** `AudioSystem`'s dispatch loop: the first provider whose
      * `attempt` does not throw a `rejected`, else `none`. */
    private def first[P, A](ps: List[P], rejected: Class[_ <: Exception],
                            none: => Exception)(attempt: P => A): A =
      ps.iterator.flatMap(p => try Some(attempt(p)) catch {
        case e: Exception if rejected.isInstance(e) => None
      }).nextOption().getOrElse(throw none)

    /** The payload's source format and its samples decoded to 16-bit
      * signed PCM (`AudioSystem.getAudioInputStream` on the bytes, then
      * on the 16-bit little-endian target unless already there). */
    def pcm16(payload: Array[Byte]): (AudioFormat, Array[Int]) = {
      val in = new java.io.ByteArrayInputStream(payload)
      val midi = payload.length >= 4 && payload(0) == 'M' &&
        payload(1) == 'T' && payload(2) == 'h' && payload(3) == 'd'
      val ais = first(if (midi) readers else sampledReaders,
        classOf[UnsupportedAudioFileException],
        new UnsupportedAudioFileException("Stream of unsupported format"))(
        _.getAudioInputStream(in))
      val f = ais.getFormat
      val target = new AudioFormat(f.getSampleRate, 16, f.getChannels,
        true, false)
      val pcm =
        if (f.getSampleSizeInBits == 16 && !f.isBigEndian &&
          f.getEncoding == AudioFormat.Encoding.PCM_SIGNED) ais
        else codecs.find(_.isConversionSupported(target, f))
          .getOrElse(throw new IllegalArgumentException(
            s"Unsupported conversion: $target from $f"))
          .getAudioInputStream(target, ais)
      val b = pcm.readAllBytes()
      (f, Array.tabulate(b.length / 2)(i =>
        ((b(2 * i) & 0xff) | (b(2 * i + 1).toInt << 8)).toShort.toInt))
    }

    /** `AudioSystem.write(stream, WAVE, out)` of `frames` frames of
      * `data` in `fmt`. */
    def wav(fmt: AudioFormat, data: Array[Byte], frames: Long): Array[Byte] = {
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames)
      val out = new java.io.ByteArrayOutputStream()
      first(writers, classOf[IllegalArgumentException],
        new IllegalArgumentException("no WAVE writer for " + fmt))(
        _.write(ais, AudioFileFormat.Type.WAVE, out))
      out.toByteArray
    }

    /** Σ|pcm16| over `windows` equal sample windows of a non-empty
      * clip. */
    def windowEnergy(s: Array[Int], windows: Int): Array[Long] = {
      if (s.isEmpty) throw new java.io.IOException("empty clip")
      val energy = new Array[Long](windows)
      var i = 0
      while (i < s.length) {
        energy(math.min(i.toLong * windows / s.length, windows - 1L).toInt) +=
          math.abs(s(i))
        i += 1
      }
      energy
    }

    /** (media_id, decode_ok, `features`…) per clip, the features
      * computed by `f` over [[pcm16]]. Null or undecodable payloads
      * give decode_ok = false and null features instead of failing the
      * batch (NonFatal: sound-file parsers throw unchecked exceptions
      * on malformed headers too). */
    def mapClips(media: DataFrame, features: StructType)
                (f: (AudioFormat, Array[Int]) => Seq[Any]): DataFrame = {
      val schema = StructType(
        StructField("media_id", LongType, nullable = false) +:
          StructField("decode_ok", BooleanType, nullable = false) +:
          features.fields.toSeq)
      val failed = Seq.fill(features.length)(null)
      val rdd = media.select("media_id", "payload").rdd.map { r =>
        val got =
          if (r.isNullAt(1)) None
          else try {
            val (fmt, s) = pcm16(r.getAs[Array[Byte]](1))
            Some(f(fmt, s))
          } catch { case scala.util.control.NonFatal(_) => None }
        Row.fromSeq(Seq(r.getLong(0), got.isDefined) ++ got.getOrElse(failed))
      }
      media.sparkSession.createDataFrame(rdd, schema)
    }
  }

  /** REAL audio decode + feature extraction via `javax.sound.sampled`
    * (pure JDK — WAV/AIFF/AU containers, PCM + a-law/µ-law codecs):
    * payload to (sample_rate, channels, n_samples, amplitude sum and
    * per-bucket histogram). Non-16-bit streams are converted to 16-bit
    * signed PCM by the JDK's own converter first, so features are
    * always computed over the same integer sample space; bucket =
    * (sample + 32768) % dim — exact integers, engine-re-derivable for
    * synthesized payloads (the x39 oracle), bit-stable across JVMs.
    * Undecodable or null payloads yield decode_ok = false rather than
    * failing the batch. */
  def decodeAudio(media: DataFrame, dim: Int = 16): DataFrame =
    Sound.mapClips(media, StructType(Seq(
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("sum_q", LongType, nullable = true),
      StructField("hist", ArrayType(LongType, containsNull = false),
        nullable = true)))) { (f, s) =>
      val hist = new Array[Long](dim)
      s.foreach(v => hist((v + 32768) % dim) += 1L)
      Seq(f.getSampleRate.toInt, f.getChannels, s.length.toLong,
        s.foldLeft(0L)(_ + _), hist.toSeq)
    }

  /** Deterministic synthetic YUV4MPEG2 payloads: `nFrames` frames of
    * `w`×`h` 4:4:4 video at `fps`, where plane values for id `d`,
    * frame `f`, pixel (x, y) are
    *   Y = (d*31 + f*29 + x*7  + y*13) % 256
    *   U = (d*17 + f*41 + x*11 + y*3 ) % 256
    *   V = (d*23 + f*37 + x*5  + y*19) % 256
    * — pure integer arithmetic over NON-NEGATIVE ids, and Y4M is
    * UNCOMPRESSED (raw planes after an ASCII header), so the decoded
    * plane values are re-derivable by a SQL oracle with no codec (the
    * video analogue of [[synthesizePng]]/[[synthesizeWav]]). The
    * emitted bytes are a spec-conformant YUV4MPEG2 stream (`YUV4MPEG2
    * W.. H.. F..:1 Ip A1:1 C444\n` + `FRAME\n`-delimited planes) that
    * ffmpeg would ingest as-is. */
  def synthesizeY4m(df: DataFrame, idCol: String, w: Int, h: Int,
                    nFrames: Int, fps: Int = 25): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      // Charset is not Serializable — resolve it inside the task
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      it.map { r =>
        val id = r.getLong(0)
        val bos = new java.io.ByteArrayOutputStream(
          64 + nFrames * (6 + 3 * w * h))
        bos.write(s"YUV4MPEG2 W$w H$h F$fps:1 Ip A1:1 C444\n".getBytes(ascii))
        val frameHdr = "FRAME\n".getBytes(ascii)
        var f = 0
        while (f < nFrames) {
          bos.write(frameHdr)
          // three full-resolution planes (C444), row-major
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              bos.write(((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt)
              x += 1
            }
            y += 1
          }
          y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              bos.write(((id * 17 + f * 41 + x * 11 + y * 3) % 256).toInt)
              x += 1
            }
            y += 1
          }
          y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              bos.write(((id * 23 + f * 37 + x * 5 + y * 19) % 256).toInt)
              x += 1
            }
            y += 1
          }
          f += 1
        }
        Row(id, "video", bos.toByteArray, "video/x-yuv4mpeg", w, h,
          nFrames.toLong * 1000L / fps)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL video decode + frame sampling for YUV4MPEG2 streams (pure
    * byte/arithmetic parsing — Y4M is the uncompressed interchange
    * container, so "decode" is header parse + plane slicing, the video
    * analogue of WAV/PCM). Parses the stream header (`W`/`H`/`C` tags;
    * C444, C422, C420 family and Cmono plane geometries), walks the
    * `FRAME`-delimited frames, and aggregates features over every
    * `every`-th frame (frame sampling as a DECODE-TIME pushdown: the
    * un-sampled frames' planes are skipped by offset, never touched —
    * at 100 TB of video that is the difference between reading 1/k of
    * the bytes and all of them). Output per row: stream geometry
    * (width, height, n_frames), frames_sampled, exact integer luma sum
    * `sum_y_q` and per-bucket histogram (Y % dim) over sampled frames.
    * Undecodable, truncated, or null payloads yield decode_ok = false
    * rather than failing the batch — the same poison-row guarantee as
    * [[decodeImage]]/[[decodeAudio]]. Compressed codecs are out of
    * scope (no codec in the JDK): those rows degrade the same way. */
  def decodeVideo(media: DataFrame, dim: Int = 16,
                  every: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("frames_sampled", LongType, nullable = true),
      StructField("sum_y_q", LongType, nullable = true),
      StructField("hist", ArrayType(LongType, containsNull = false),
        nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val decoded: Option[Row] =
          if (r.isNullAt(1)) None
          else try {
            val bytes = r.getAs[Array[Byte]](1)
            // ---- stream header: "YUV4MPEG2 <tags>\n", ASCII
            val hdrEnd = bytes.indexOf('\n'.toByte)
            if (hdrEnd < 0) throw new java.io.IOException("no header")
            val hdr = new String(bytes, 0, hdrEnd,
              java.nio.charset.StandardCharsets.US_ASCII)
            val toks = hdr.split(' ')
            if (toks.head != "YUV4MPEG2")
              throw new java.io.IOException("not y4m")
            var w = -1; var h = -1; var cs = "420" // C420 is the default
            toks.tail.foreach { t =>
              if (t.startsWith("W")) w = t.drop(1).toInt
              else if (t.startsWith("H")) h = t.drop(1).toInt
              else if (t.startsWith("C")) cs = t.drop(1)
            }
            if (w <= 0 || h <= 0)
              throw new java.io.IOException("bad dims")
            // chroma geometry: bytes per frame beyond the Y plane
            val ySize = w * h
            val uvSize =
              if (cs.startsWith("444")) 2 * ySize
              else if (cs.startsWith("422")) 2 * ((w / 2) * h)
              else if (cs.startsWith("420")) 2 * ((w / 2) * (h / 2))
              else if (cs.startsWith("mono")) 0
              else throw new java.io.IOException(s"unsupported C$cs")
            val frameSize = ySize + uvSize
            // ---- FRAME-delimited walk; sampled frames aggregate, the
            // rest are skipped by offset arithmetic (never read)
            val hist = new Array[Long](dim)
            var sumY = 0L
            var nFrames = 0L
            var sampled = 0L
            var pos = hdrEnd + 1
            while (pos < bytes.length) {
              // frame header line: "FRAME[ params]\n"
              var nl = pos
              while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
              if (nl >= bytes.length ||
                  nl - pos < 5 || bytes(pos) != 'F'.toByte ||
                  bytes(pos + 1) != 'R'.toByte || bytes(pos + 2) != 'A'.toByte ||
                  bytes(pos + 3) != 'M'.toByte || bytes(pos + 4) != 'E'.toByte)
                throw new java.io.IOException("bad frame header")
              val planes = nl + 1
              if (planes + frameSize > bytes.length)
                throw new java.io.IOException("truncated frame")
              if (nFrames % every == 0) {
                var i = planes
                val end = planes + ySize
                while (i < end) {
                  val v = bytes(i) & 0xff
                  sumY += v
                  hist(v % dim) += 1L
                  i += 1
                }
                sampled += 1L
              }
              nFrames += 1L
              pos = planes + frameSize
            }
            Some(Row(id, true, w, h, nFrames, sampled, sumY, hist.toSeq))
          } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(Row(id, false, null, null, null, null, null, null))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ------------------------------------------------------------------
  // RIFF/AVI: COMPRESSED video via the JDK's own image codecs.
  // MJPEG-in-AVI is the classic compressed interchange format every
  // capture pipeline emits, and its frames are plain JPEGs — which
  // javax.imageio decodes. PNG-in-AVI (fourcc MPNG) is the lossless
  // sibling that makes the SAME container+codec decode path
  // oracle-checkable (JPEG is lossy, so an external oracle cannot
  // re-derive its pixels; PNG frames decode to the closed-form
  // values). This closes the "compressed codecs stubbed" boundary for
  // video-of-images; inter-frame codecs (H.264 etc.) remain out of
  // scope — still no such codec in the JDK.

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def rd32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
      ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
  private def cc(b: Array[Byte], p: Int): String =
    new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Deterministic synthetic AVI payloads: each frame is a REAL
    * ImageIO-encoded image (`codec` = "png" → fourcc MPNG, lossless;
    * "mjpeg" → JPEG frames, fourcc MJPG, lossy) inside a
    * spec-conformant RIFF AVI (hdrl with avih/strh/strf, movi with
    * 00dc chunks). Frame f of id `d` has pixel channels
    *   R = (d*31 + f*29 + x*7  + y*13) % 256
    *   G = (d*17 + f*41 + x*11 + y*3 ) % 256
    *   B = (d*23 + f*37 + x*5  + y*19) % 256
    * — [[synthesizePng]]'s formulas with [[synthesizeY4m]]'s frame
    * terms, so for the lossless codec a SQL oracle re-derives the
    * decoded pixels with no codec at all. */
  def synthesizeAvi(df: DataFrame, idCol: String, w: Int, h: Int,
                    nFrames: Int, codec: String = "png",
                    fps: Int = 25,
                    seedCol: Option[String] = None): DataFrame = {
    require(codec == "png" || codec == "mjpeg",
      s"synthesizeAvi: codec png|mjpeg, got $codec")
    val spark = df.sparkSession
    val (fmt, fcc, mime) =
      if (codec == "png") ("png", "MPNG", "video/avi")
      else ("jpg", "MJPG", "video/avi")
    val inCols = Seq(col(idCol).cast("long")) ++
      seedCol.map(c => col(c).cast("long"))
    val rdd = df.select(inCols: _*).rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      def chunk(id: String, data: Array[Byte]): Array[Byte] = {
        val pad = if (data.length % 2 == 1) 1 else 0
        val out = new Array[Byte](8 + data.length + pad)
        System.arraycopy(id.getBytes(ascii), 0, out, 0, 4)
        System.arraycopy(le32(data.length), 0, out, 4, 4)
        System.arraycopy(data, 0, out, 8, data.length)
        out
      }
      def list(subtype: String, parts: Array[Byte]*): Array[Byte] = {
        val body = subtype.getBytes(ascii) ++ parts.flatten
        chunk("LIST", body)
      }
      it.map { r =>
        val mediaId = r.getLong(0)
        // pixel seed defaults to the id; a seed column plants exact-
        // duplicate clips under distinct ids (the dedup test shape)
        val id = if (r.size > 1) r.getLong(1) else mediaId
        val frames = (0 until nFrames).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rr = ((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt
              val gg = ((id * 17 + f * 41 + x * 11 + y * 3) % 256).toInt
              val bb = ((id * 23 + f * 37 + x * 5 + y * 19) % 256).toInt
              img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, bos)
          chunk("00dc", bos.toByteArray)
        }
        // 14-dword main header: usec/frame, bytes/sec, padding, flags,
        // total frames, initial frames, streams, sugg. buffer, w, h,
        // 4 reserved
        val avih = chunk("avih",
          Array(1000000 / fps, 0, 0, 0, nFrames, 0, 1, 0, w, h, 0, 0, 0, 0)
            .flatMap(le32))
        val strh = chunk("strh",
          "vids".getBytes(ascii) ++ fcc.getBytes(ascii) ++
            // flags, prio+lang, initial, scale, rate, start, length,
            // sugg. buffer, quality(-1), sample size, rcFrame(2 dwords)
            Array(0, 0, 0, 1, fps, 0, nFrames, 0, -1, 0,
              0, (h << 16) | w).flatMap(le32))
        val strf = chunk("strf", // BITMAPINFOHEADER
          Array(40, w, h, 1 | (24 << 16)).flatMap(le32) ++
            fcc.getBytes(ascii) ++
            Array(w * h * 3, 0, 0, 0, 0).flatMap(le32))
        val hdrl = list("hdrl", avih, list("strl", strh, strf))
        val movi = list("movi", frames.toArray.flatten)
        val riffBody = "AVI ".getBytes(ascii) ++ hdrl ++ movi
        val bytes = "RIFF".getBytes(ascii) ++ le32(riffBody.length) ++
          riffBody
        Row(mediaId, "video", bytes, mime, w, h,
          nFrames.toLong * 1000L / fps)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL compressed-video decode: RIFF/AVI container walk + ImageIO
    * per-frame decode (MJPEG, PNG, or anything else ImageIO reads —
    * the codec is whatever the frames actually are). Frame sampling
    * is a decode-time pushdown: un-sampled `00dc` chunks are skipped
    * by their chunk size and never handed to the codec — at 100 TB of
    * video the JPEG inflate IS the cost, so sampling 1/k cuts decode
    * CPU to 1/k even though the container bytes stream through.
    * Output per row: container geometry from `avih` (width, height),
    * frame counts, exact integer channel-sum `sum_q` and (r+g+b) %
    * dim histogram over sampled frames ([[decodeImage]]'s feature on
    * every sampled frame). Truncated, garbage, codec-less, or null
    * payloads yield decode_ok = false — the shared poison-row
    * guarantee. */
  def decodeAviVideo(media: DataFrame, dim: Int = 16,
                     every: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("frames_sampled", LongType, nullable = true),
      StructField("sum_q", LongType, nullable = true),
      StructField("hist", ArrayType(LongType, containsNull = false),
        nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val pool = new ImageReaderPool
      it.map { r =>
        val id = r.getLong(0)
        val decoded: Option[Row] =
          if (r.isNullAt(1)) None
          else try {
            val b = r.getAs[Array[Byte]](1)
            if (b.length < 12 || cc(b, 0) != "RIFF" || cc(b, 8) != "AVI ")
              throw new java.io.IOException("not avi")
            val riffEnd = math.min(8L + rd32(b, 4), b.length.toLong).toInt
            var avihW = -1; var avihH = -1
            val hist = new Array[Long](dim)
            var sumQ = 0L
            var nFrames = 0L
            var sampled = 0L
            // iterative chunk walk with an explicit stack: (pos, end)
            var stack = List((12, riffEnd))
            while (stack.nonEmpty) {
              val (pos, end) = stack.head
              stack = stack.tail
              if (pos + 8 <= end) {
                val id4 = cc(b, pos)
                val size = rd32(b, pos + 4)
                val dataStart = pos + 8
                val next = dataStart + size + (size & 1)
                if (size < 0 || dataStart + size > end)
                  throw new java.io.IOException("truncated chunk")
                // continue the sibling walk first (stack order keeps
                // document order for nested pushes below)
                if (next < end) stack = (next, end) :: stack
                if (id4 == "LIST" && size >= 4) {
                  // descend into hdrl/strl/movi
                  stack = (dataStart + 4, dataStart + size) :: stack
                } else if (id4 == "avih" && size >= 40) {
                  avihW = rd32(b, dataStart + 32)
                  avihH = rd32(b, dataStart + 36)
                } else if (id4.endsWith("dc") || id4.endsWith("db")) {
                  if (nFrames % every == 0) {
                    val img = pool.read(b, dataStart, size)
                    if (img == null)
                      throw new java.io.IOException("frame codec")
                    var y = 0
                    while (y < img.getHeight) {
                      var x = 0
                      while (x < img.getWidth) {
                        val p = img.getRGB(x, y)
                        val s = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) +
                          (p & 0xff)
                        sumQ += s
                        hist(s % dim) += 1L
                        x += 1
                      }
                      y += 1
                    }
                    sampled += 1L
                  }
                  nFrames += 1L
                }
              }
            }
            if (avihW <= 0 || avihH <= 0 || nFrames == 0L)
              throw new java.io.IOException("no header or frames")
            Some(Row(id, true, avihW, avihH, nFrames, sampled, sumQ,
              hist.toSeq))
          } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(
          Row(id, false, null, null, null, null, null, null))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Synthesize ANIMATED GIF payloads (GIF89a, hand-rolled container +
    * LZW stream, like [[synthesizeAvi]]'s RIFF walk): a 256-entry
    * GRAYSCALE global palette (entry i = (i,i,i)), per-frame graphic
    * control extensions with a delay (genuinely animated), and a
    * spec-conformant minimal LZW stream — after each CLEAR code every
    * pixel is emitted as its 9-bit literal root code, with a fresh
    * CLEAR every 250 literals so the code width never grows (the
    * "uncompressed GIF" technique; any conforming decoder accepts
    * it). Pixel index (= decoded gray value — the palette is the
    * identity) is closed-form `(id*31 + f*29 + x*7 + y*13) % 256`, so
    * the REAL-codec decode is re-derivable by a no-codec SQL oracle,
    * the PNG/WAV/Y4M/AVI trick on a fourth container family. */
  def synthesizeGif(df: DataFrame, idCol: String, w: Int, h: Int,
                    nFrames: Int, delayCs: Int = 4): DataFrame = {
    require(w > 0 && h > 0 && nFrames > 0, "synthesizeGif: bad geometry")
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      def le16(v: Int): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      it.map { r =>
        val id = r.getLong(0)
        val out = new java.io.ByteArrayOutputStream()
        out.write("GIF89a".getBytes("US-ASCII"))
        out.write(le16(w)); out.write(le16(h))
        out.write(0xF7) // GCT present, 8-bit resolution, 256 entries
        out.write(0)    // background index
        out.write(0)    // no aspect ratio
        var i = 0
        while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
        var f = 0
        while (f < nFrames) {
          // graphic control extension: delay, no transparency
          out.write(Array(0x21, 0xF9, 0x04, 0x00).map(_.toByte))
          out.write(le16(delayCs)); out.write(0); out.write(0)
          // image descriptor: full frame, no local table, no interlace
          out.write(0x2C)
          out.write(le16(0)); out.write(le16(0))
          out.write(le16(w)); out.write(le16(h))
          out.write(0)
          out.write(8) // LZW minimum code size (256-color)
          // 9-bit codes, LSB-first bit packing; CLEAR=256, EOI=257
          val lzw = new java.io.ByteArrayOutputStream()
          var buf = 0L; var nbits = 0
          def emit(code: Int): Unit = {
            buf |= code.toLong << nbits; nbits += 9
            while (nbits >= 8) {
              lzw.write((buf & 0xff).toInt); buf >>= 8; nbits -= 8
            }
          }
          emit(256)
          var since = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              if (since == 250) { emit(256); since = 0 }
              emit(((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt)
              since += 1
              x += 1
            }
            y += 1
          }
          emit(257)
          if (nbits > 0) lzw.write((buf & 0xff).toInt)
          // wrap the LZW stream into <=255-byte sub-blocks
          val bytes = lzw.toByteArray
          var p = 0
          while (p < bytes.length) {
            val n = math.min(255, bytes.length - p)
            out.write(n); out.write(bytes, p, n); p += n
          }
          out.write(0) // block terminator
          f += 1
        }
        out.write(0x3B) // trailer
        Row(id, "video", out.toByteArray, "image/gif", w, h,
          nFrames.toLong * delayCs * 10L)
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL animated-GIF decode through the JDK's ImageIO GIF plugin:
    * every sampled frame is decoded by the actual LZW/palette codec
    * (frame count from the reader, `every`-th frame sampling — the
    * reader seeks past un-sampled frames without rasterizing them).
    * Same features and poison-row contract as [[decodeAviVideo]]:
    * (decode_ok, width, height, n_frames, frames_sampled, sum_q,
    * (r+g+b) % dim histogram); truncated / garbage / null payloads
    * degrade to decode_ok = false. */
  def decodeGif(media: DataFrame, dim: Int = 16,
                every: Int = 1): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("frames_sampled", LongType, nullable = true),
      StructField("sum_q", LongType, nullable = true),
      StructField("hist", ArrayType(LongType, containsNull = false),
        nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val pool = new ImageReaderPool
      it.map { r =>
        val id = r.getLong(0)
        val decoded: Option[Row] =
          if (r.isNullAt(1)) None
          else {
            try {
              val b = r.getAs[Array[Byte]](1)
              // pooled: ONE gif reader instance serves the whole
              // partition instead of a construct+dispose per clip
              val reader = pool.acquire(b, 0, b.length)
              if (reader == null)
                throw new java.io.IOException("no reader")
              if (!reader.getFormatName.equalsIgnoreCase("gif"))
                throw new java.io.IOException("not gif")
              val n = reader.getNumImages(true)
              if (n <= 0) throw new java.io.IOException("no frames")
              val hist = new Array[Long](dim)
              var sumQ = 0L
              var sampled = 0L
              var w = -1; var h = -1
              var f = 0
              while (f < n) {
                if (f % every == 0) {
                  val img = reader.read(f)
                  if (w < 0) { w = img.getWidth; h = img.getHeight }
                  var y = 0
                  while (y < img.getHeight) {
                    var x = 0
                    while (x < img.getWidth) {
                      val p = img.getRGB(x, y)
                      val s = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) +
                        (p & 0xff)
                      sumQ += s
                      hist(s % dim) += 1L
                      x += 1
                    }
                    y += 1
                  }
                  sampled += 1L
                }
                f += 1
              }
              Some(Row(id, true, w, h, n.toLong, sampled, sumQ,
                hist.toSeq))
            } catch {
              case scala.util.control.NonFatal(_) => None
            }
          }
        decoded.getOrElse(
          Row(id, false, null, null, null, null, null, null))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Perceptual audio fingerprint over REAL decoded PCM — the audio
    * sibling of [[imageAHash]]: the clip splits into `windows` equal
    * sample windows, each window's integer energy is Σ|pcm16|, and
    * bit w is set iff that window's energy exceeds the integer
    * mean-of-energies. ALL-INTEGER end to end, so for lossless inputs
    * the fingerprint re-derives from the source samples on any
    * engine; pair with [[imageNearDupPairs]] (hashCol = "afp") for
    * blocked near-dup detection. Returns (media_id, decode_ok, afp);
    * poison payloads degrade as in [[decodeAudio]]. Map-only. */
  def audioFingerprint(media: DataFrame, windows: Int = 64): DataFrame = {
    require(windows > 0 && windows <= 64,
      s"audioFingerprint: windows must fit 64 bits, got $windows")
    Sound.mapClips(media, StructType(Seq(
      StructField("afp", LongType, nullable = true)))) { (_, s) =>
      val energy = Sound.windowEnergy(s, windows)
      val thr = energy.sum / windows
      Seq(energy.indices.foldLeft(0L)((fp, w) =>
        if (energy(w) > thr) fp | 1L << w else fp))
    }
  }

  /** Audio activity card — the per-clip quality row an audio-ingest
    * pipeline records before training (reference scope: onionnet has
    * no media path; this extends X4's decode plumbing with the
    * standard capture-QA gates): decode through the REAL
    * `javax.sound` path, split the clip into `windows` equal sample
    * windows, and report
    *   - `silent_windows`: windows whose Σ|pcm16| falls below
    *     1/`silenceDiv` of the mean window energy (dead air /
    *     truncated capture),
    *   - `clipped`: samples with |pcm16| ≥ `clipMag` (limiter or
    *     gain-stage damage),
    *   - `peak` and `total_abs` for level normalization.
    * All-integer, so synthesized closed-form clips hash-match a
    * no-codec oracle. Map-only (one decode pass, no shuffle); poison
    * payloads degrade to decode_ok = false like every decoder here. */
  def audioActivityCard(media: DataFrame, windows: Int = 8,
                        silenceDiv: Long = 4L,
                        clipMag: Int = 32700): DataFrame = {
    require(windows > 0, s"audioActivityCard: windows must be > 0")
    Sound.mapClips(media, StructType(Seq(
      StructField("n_samples", LongType, nullable = true),
      StructField("silent_windows", LongType, nullable = true),
      StructField("clipped", LongType, nullable = true),
      StructField("peak", LongType, nullable = true),
      StructField("total_abs", LongType, nullable = true)))) { (_, s) =>
      val energy = Sound.windowEnergy(s, windows)
      val abs = s.map(v => math.abs(v).toLong)
      val total = energy.sum
      // silent iff energy_w * windows * silenceDiv < total — the
      // all-integer spelling of energy_w < mean / silenceDiv
      val silent = energy.count(e => e * windows * silenceDiv < total).toLong
      Seq(s.length.toLong, silent, abs.count(_ >= clipMag).toLong, abs.max,
        total)
    }
  }

  /** Shot-boundary detection over per-frame perceptual hashes (the
    * video-curation cut detector): consecutive frames whose aHash
    * Hamming distance reaches `cutAt` mark a hard cut — the rows a
    * sampler keys on to pick one representative frame per shot.
    * Consumes [[videoFrameHashes]] output, so the decode cost is
    * shared with the near-dup leg.
    *
    * Scale shape: one window per clip ordered by frame index — groups
    * are single clips (frame counts bounded by clip length, never
    * corpus-sized), so the lag window is a per-key local sort after
    * one hash partition by media_id; the Hamming distance is codegen'd
    * integer column math (xor + bit_count), no UDF. */
  def shotBoundaries(frameHashes: DataFrame, cutAt: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    frameHashes.filter(col("decode_ok"))
      .withColumn("prev", lag(col("fhash"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("media_id"), col("frame_idx"),
        bit_count(col("fhash").bitwiseXOR(col("prev"))).cast("long")
          .as("hamming"))
      .withColumn("is_cut", col("hamming") >= cutAt)
  }

  /** Per-frame perceptual hashes for a video payload — the video leg
    * of the media-dedup triad: every sampled frame of an AVI payload
    * decodes through ImageIO ([[decodeAviVideo]]'s container walk)
    * and fingerprints with [[imageAHash]]'s all-integer average hash;
    * the clip becomes (media_id, frame_idx, fhash) rows — the
    * "shingles" of a video, joined on the 8-byte frame hash exactly
    * like text shingle dedup ([[videoNearDupPairs]]). Lossless frame
    * codecs keep every hash oracle-re-derivable. Poison payloads
    * emit a single (media_id, -1, null, decode_ok=false) row. */
  def videoFrameHashes(media: DataFrame, grid: Int = 8,
                       every: Int = 1): DataFrame = {
    require(grid > 0 && grid * grid <= 64,
      s"videoFrameHashes: grid^2 must fit 64 bits, got $grid")
    require(every >= 1, s"every must be >= 1, got $every")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("fhash", LongType, nullable = true)))
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def hashFrame(img: java.awt.image.BufferedImage): Long = {
        val w = img.getWidth; val h = img.getHeight
        val sums = new Array[Long](grid * grid)
        val counts = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val bj = math.min(y * grid / h, grid - 1)
          var x = 0
          while (x < w) {
            val bi = math.min(x * grid / w, grid - 1)
            val p = img.getRGB(x, y)
            val gray = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) +
              (p & 0xff)) / 3
            sums(bj * grid + bi) += gray
            counts(bj * grid + bi) += 1L
            x += 1
          }
          y += 1
        }
        val means = sums.indices.map(i =>
          if (counts(i) == 0) 0L else sums(i) / counts(i))
        val thr = means.sum / (grid * grid)
        var hash = 0L
        var i = 0
        while (i < means.length) {
          if (means(i) > thr) hash |= 1L << i
          i += 1
        }
        hash
      }
      val pool = new ImageReaderPool
      it.flatMap { r =>
        val id = r.getLong(0)
        val frames: Option[Seq[Row]] =
          if (r.isNullAt(1)) None
          else try {
            val b = r.getAs[Array[Byte]](1)
            if (b.length < 12 || cc(b, 0) != "RIFF" || cc(b, 8) != "AVI ")
              throw new java.io.IOException("not avi")
            val riffEnd = math.min(8L + rd32(b, 4), b.length.toLong).toInt
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var nFrames = 0L
            var stack = List((12, riffEnd))
            while (stack.nonEmpty) {
              val (pos, end) = stack.head
              stack = stack.tail
              if (pos + 8 <= end) {
                val id4 = cc(b, pos)
                val size = rd32(b, pos + 4)
                val dataStart = pos + 8
                val next = dataStart + size + (size & 1)
                if (size < 0 || dataStart + size > end)
                  throw new java.io.IOException("truncated chunk")
                if (next < end) stack = (next, end) :: stack
                if (id4 == "LIST" && size >= 4)
                  stack = (dataStart + 4, dataStart + size) :: stack
                else if (id4.endsWith("dc") || id4.endsWith("db")) {
                  if (nFrames % every == 0) {
                    val img = pool.read(b, dataStart, size)
                    if (img == null)
                      throw new java.io.IOException("frame codec")
                    out += Row(id, true, nFrames, hashFrame(img))
                  }
                  nFrames += 1L
                }
              }
            }
            if (nFrames == 0L) throw new java.io.IOException("no frames")
            Some(out.toSeq)
          } catch { case scala.util.control.NonFatal(_) => None }
        frames.getOrElse(Seq(Row(id, false, -1L, null)))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Clip near-dup from shared frame hashes — join the frame-hash
    * tables on the 8-byte hash (the text-shingle equi-join shape on
    * video: candidates are clips sharing ≥ `minShared` identical
    * perceptual frames, never an all-pairs clip comparison). Returns
    * (a, b, shared_frames). */
  def videoNearDupPairs(frameHashes: DataFrame,
                        minShared: Long = 1L): DataFrame = {
    val ok = frameHashes.filter(col("decode_ok"))
      .select(col("media_id"), col("fhash")).distinct()
    ok.select(col("media_id").as("a"), col("fhash"))
      .join(ok.select(col("media_id").as("b"), col("fhash")), Seq("fhash"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }

  /** Decode-health card over a mixed media corpus — the per-modality
    * governance row a 100 TB ingest records next to its manifests:
    * route every row through its REAL decoder (image → ImageIO,
    * audio → javax.sound, video → the AVI walk or the GIF reader by
    * mime) and aggregate decode success as (modality, n, n_ok,
    * ok_ppm). All counts, integer-ppm rate — two cards diff
    * meaningfully across ingest days, and a codec regression or
    * corrupt batch shows up as a moving ok_ppm rather than a buried
    * task error. One decode pass per modality subset, map-only;
    * the aggregation collapses map-side to |modalities| rows. */
  def mediaHealthCard(media: DataFrame): DataFrame = {
    def okOf(d: DataFrame, m: String): DataFrame =
      d.select(col("media_id"), col("decode_ok"))
        .withColumn("modality", lit(m))
    val img = okOf(decodeImage(
      media.filter(col("modality") === "image")), "image")
    val aud = okOf(decodeAudio(
      media.filter(col("modality") === "audio")), "audio")
    val vid = media.filter(col("modality") === "video")
    val gif = okOf(decodeGif(vid.filter(col("mime") === "image/gif")),
      "video")
    val avi = okOf(decodeAviVideo(vid.filter(col("mime") =!= "image/gif"
      || col("mime").isNull)), "video")
    img.unionByName(aud).unionByName(gif).unionByName(avi)
      .groupBy("modality")
      .agg(count(lit(1)).as("n"),
        sum(when(col("decode_ok"), 1L).otherwise(0L)).as("n_ok"))
      .withColumn("ok_ppm", expr("n_ok * 1000000 DIV n"))
  }

  /** Frame-sampling stub for video rows: emit `n` frame stubs per
    * media row via posexplode — the real generator shape (row ->
    * frames) with a fake payload slice per frame. */
  def frameSampleStub(media: DataFrame, n: Int): DataFrame =
    media.select(col("media_id"), posexplode(sequence(lit(0), lit(n - 1)))
        .as(Seq("frame_idx", "frame_no")))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * 1000L).as("frame_ts_ms"))
}
