package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted in
  * partition-local batches.
  *
  * The image kernels are REAL: payloads are genuine PNG bytes
  * (synthesized deterministically per row via [[asPngPayload]] — the
  * container ships no media fixtures), decoded with headless
  * `javax.imageio` and resized with `java.awt` bilinear drawImage.
  * Determinism contract for the DuckDB oracle: dimensions derive from
  * the text byte length and the fill color from doc_id, so the oracle
  * can predict what a CORRECT decode/resize must output — if the real
  * kernel mis-decoded, the hash check fails. The video path stands on
  * multi-frame animated GIF (the one multi-frame container the JDK
  * both writes and reads): frame counts, per-frame rasters and
  * checksums are REAL decodes, with per-frame solid fills making the
  * checksums oracle-predictable.
  *
  * Scale shape (100 TB): payloads never shuffle — every kernel is a
  * narrow `mapPartitions` directly over the scan, outputs carry no
  * payload bytes, and metadata-only consumers prune the binary column
  * at the parquet reader.
  */
object Multimodal {

  final case class MediaPayload(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, width: Long, height: Long,
                             format: String, raster_bytes: Long)

  /** (doc_id, text byte length) per row, the payload synthesizers'
    * input. A small fixture file scans as 1-2 splits, so this NARROW
    * frame is spread across the executor width (see [[Spread]]) BEFORE
    * the CPU-heavy synthesis; payload bytes themselves never shuffle. */
  private def byteLengths(df: DataFrame, textCol: String,
                          idCol: String): Dataset[(Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    Spread.narrow(df.select(col(idCol).cast("long").as("doc_id"),
        octet_length(col(textCol)).cast("long").as("byte_len")))
      .as[(Long, Long)]
  }

  /** Synthesize a REAL multi-frame animated GIF per row — the video
    * stand-in (the JDK ships no video codec, but its GIF plugin reads
    * and writes multi-frame images): one frame per `bytesPerFrame`
    * payload bytes (minimum one), each frame a solid fill derived from
    * (doc_id, frame index). Frames use an EXPLICIT single-entry
    * IndexColorModel, so the GIF palette holds the exact synthesized
    * color — no writer-side quantization can perturb the pixels the
    * decode checksum predicts. Writer init amortized per partition. */
  def asGifPayload(df: DataFrame, textCol: String, idCol: String,
                   bytesPerFrame: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    byteLengths(df, textCol, idCol)
      .mapPartitions { it =>
        val buf = new ByteArrayOutputStream(8192)
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => writer.dispose())
        }
        it.map { case (docId, byteLen) =>
          val (w, h) = synthDims(byteLen)
          val nFrames = math.max(1L, byteLen / bytesPerFrame).toInt
          buf.reset()
          // MemoryCache, NOT ImageIO.createImageOutputStream: the
          // factory defaults to a FileCache stream, which would create
          // and delete a disk temp file PER DOCUMENT inside a kernel
          // whose cost model is CPU-only
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nFrames) {
            val rgb = synthFrameColor(docId, f)
            val icm = new java.awt.image.IndexColorModel(8, 1, Array(rgb), 0,
              false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
            // fresh raster is all index 0 = the frame color
            val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          MediaPayload(docId, buf.toByteArray)
        }
      }.toDF()
  }

  /** Synthesize a REAL (decodable) PNG payload per row: width/height
    * derived from the text's UTF-8 byte length, solid RGB fill derived
    * from doc_id. Solid fill is the property that keeps the downstream
    * resize checksum engine-independent: interpolating equal pixels
    * yields the same pixel, so the oracle can predict the resized
    * raster exactly. Encoder inits once per partition (the real-ingest
    * batch shape). */
  def asPngPayload(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    byteLengths(df, textCol, idCol)
      .mapPartitions { it =>
        val buf = new ByteArrayOutputStream(4096)
        it.map { case (docId, byteLen) =>
          val (w, h) = synthDims(byteLen)
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          val rgb = synthColor(docId)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          buf.reset()
          // MemoryCache stream: ImageIO.write(…, OutputStream) routes
          // through a per-row FileCache disk temp file by default
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
          ImageIO.write(img, "png", ios)
          ios.close()
          MediaPayload(docId, buf.toByteArray)
        }
      }.toDF()
  }

  /** Oracle-shared synthesis rules (DuckDB twins in Oracles.scala). */
  private[graft] def synthDims(byteLen: Long): (Int, Int) =
    ((16 + byteLen % 48).toInt, (16 + (byteLen / 48) % 48).toInt)

  private[graft] def synthColor(docId: Long): Int = {
    val r = (docId % 256).toInt
    val g = ((docId * 31) % 256).toInt
    val b = ((docId * 97) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Per-frame solid fill: distinct across frame indices so a decode
    * that returned the wrong frame (or re-read frame 0) fails the
    * checksum. Oracle-shared arithmetic (Oracles.scala mm_frames). */
  private[graft] def synthFrameColor(docId: Long, frame: Int): Int = {
    val r = ((docId + 11L * frame) % 256).toInt
    val g = ((docId * 31 + 13L * frame) % 256).toInt
    val b = ((docId * 97 + 29L * frame) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  final case class ResizedMedia(doc_id: Long, out_w: Long, out_h: Long,
                                out_bytes: Long, checksum: Long)
  final case class FrameSample(doc_id: Long, frame_idx: Long, frame_ts_ms: Long,
                               checksum: Long)

  /** REAL image decode: `javax.imageio` reads the PNG header + pixels
    * and reports actual width/height/format. Narrow map over the scan;
    * output carries no payload bytes. */
  def decodeImage(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      it.map { p =>
        // MemoryCache, not the createImageInputStream factory — the
        // factory defaults to a FileCache stream (a disk temp file per
        // row) for InputStream inputs
        val in = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(p.payload))
        try {
          val readers = ImageIO.getImageReaders(in)
          require(readers.hasNext, s"undecodable payload for doc ${p.doc_id}")
          val reader = readers.next()
          try {
            reader.setInput(in)
            val fmt = reader.getFormatName.toLowerCase
            val img = reader.read(0) // full pixel decode, not header-only
            MediaMeta(p.doc_id, img.getWidth.toLong, img.getHeight.toLong,
              fmt, img.getWidth.toLong * img.getHeight * 3)
          } finally reader.dispose()
        } finally in.close()
      }
    }.toDF()
  }

  /** REAL image resize: `java.awt` bilinear drawImage onto a
    * targetW×targetH RGB canvas; checksum sums (r+g+b) over every
    * output pixel mod 2^31-1. One Graphics2D pipeline per row, canvas
    * allocation amortizable per partition in a real ingest. */
  def resizeImage(payloads: DataFrame, targetW: Int = 256, targetH: Int = 256): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      // canvas + pixel buffer allocated ONCE per partition (the
      // decoder-init-amortization shape; a per-row 256 KB canvas is
      // pure GC churn at corpus scale)
      val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](targetW * targetH)
      it.map { p =>
        // same MemoryCache note as decodeImage: ImageIO.read(InputStream)
        // would route through a per-row FileCache temp file
        val src = ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(p.payload)))
        require(src != null, s"undecodable payload for doc ${p.doc_id}")
        val g2 = out.createGraphics()
        try {
          g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
            RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g2.drawImage(src, 0, 0, targetW, targetH, null)
        } finally g2.dispose()
        out.getRGB(0, 0, targetW, targetH, px, 0, targetW)
        var sum = 0L
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          i += 1
        }
        ResizedMedia(p.doc_id, targetW.toLong, targetH.toLong,
          targetW.toLong * targetH * 3, sum % 2147483647L)
      }
    }.toDF()
  }

  final case class PHash(doc_id: Long, phash_hi: Long, phash_lo: Long)

  /** Synthesize a cell-grid PNG per row — each of the 8×8 aHash grid
    * cells (x ∈ [i·w/8, (i+1)·w/8), pixel → cell via i = 8x/w exact
    * integer division) filled with a color derived from (doc_id MOD
    * 32, cell index). The palette bucket gives the fixture the two
    * properties an image-dedup operator needs: documents in the SAME
    * bucket render the same pattern — identical at equal dims (exact
    * dups), near-identical hash at different dims (the
    * same-image-resized robustness perceptual hashing exists for,
    * since each cell's MEAN luma is dimension-independent and only
    * near-global-mean cells flip) — while different buckets are
    * ~32/64 bits apart (true negatives). A two-tone or solid fill
    * instead hashes every image to a handful of patterns and
    * degenerates the hamming join to all-pairs. */
  def asCellGridPayload(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    byteLengths(df, textCol, idCol)
      .mapPartitions { it =>
        val buf = new ByteArrayOutputStream(4096)
        it.map { case (docId, byteLen) =>
          val (w, h) = synthDims(byteLen)
          val m = docId % 32
          // cell-of-pixel from the SAME floor boundaries the hash grid
          // uses (x0_i = i*w/8) — a naive 8x/w inverse disagrees at
          // non-divisible widths and would split a cell across colors
          def cellIndex(n: Int): Array[Int] = {
            val idx = new Array[Int](n)
            var i = 0
            while (i < 8) {
              var p = i * n / 8
              val end = (i + 1) * n / 8
              while (p < end) { idx(p) = i; p += 1 }
              i += 1
            }
            idx
          }
          val (ci, cj) = (cellIndex(w), cellIndex(h))
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            val j = cj(y)
            var x = 0
            while (x < w) {
              img.setRGB(x, y, synthColor(m * 977 + (j * 8 + ci(x))))
              x += 1
            }
            y += 1
          }
          buf.reset()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
          ImageIO.write(img, "png", ios)
          ios.close()
          MediaPayload(docId, buf.toByteArray)
        }
      }.toDF()
  }

  /** Perceptual (average) hash over the REAL decoded raster — the
    * image near-dup primitive (aHash; pHash/dHash are the same grid
    * pipeline with a different per-cell statistic): partition the
    * image into an 8×8 grid of integer-boundary cells
    * (x ∈ [i·w/8, (i+1)·w/8)), sum (r+g+b) over each cell's ACTUAL
    * pixels, and set bit (8i+j) iff the cell's MEAN luma ≥ the global
    * mean — compared exactly via integer cross-multiplication
    * (cellSum · totalPx ≥ totalSum · cellPx), so no fp division can
    * diverge from the oracle, which predicts every bit analytically
    * from the cell-grid geometry. Emitted as two 32-bit halves
    * (phash_hi = bits 32..63) — a single 64-bit value would need the
    * sign bit. Narrow partition-local kernel; payloads never shuffle;
    * downstream dedup is a groupBy on the hash (or a hamming-ball
    * pigeonhole join, the dd_simhash_pairs machinery verbatim —
    * phash IS an image simhash). */
  def perceptualHash(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      // grown-as-needed per-partition pixel buffer + ONE bulk getRGB
      // per image (the resizeImage pattern): the per-pixel accessor
      // pays a bounds check + ColorModel conversion PER CALL —
      // measured 5-20× slower than one bulk raster fetch
      var px = Array.emptyIntArray
      it.map { p =>
        val img = ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(p.payload)))
        require(img != null, s"undecodable payload for doc ${p.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        if (w * h > px.length) px = new Array[Int](w * h)
        img.getRGB(0, 0, w, h, px, 0, w)
        val cellSum = new Array[Long](64)
        val cellPx = new Array[Long](64)
        var totalSum = 0L
        var j = 0
        while (j < 8) {
          val y0 = j * h / 8; val y1 = (j + 1) * h / 8
          var i = 0
          while (i < 8) {
            val x0 = i * w / 8; val x1 = (i + 1) * w / 8
            var s = 0L
            var y = y0
            while (y < y1) {
              val row = y * w
              var x = x0
              while (x < x1) {
                val rgb = px(row + x)
                s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            cellSum(j * 8 + i) = s
            cellPx(j * 8 + i) = (x1 - x0).toLong * (y1 - y0)
            totalSum += s
            i += 1
          }
          j += 1
        }
        val totalPx = w.toLong * h
        var hi = 0L; var lo = 0L
        var b = 0
        while (b < 64) {
          if (cellSum(b) * totalPx >= totalSum * cellPx(b)) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        PHash(p.doc_id, hi, lo)
      }
    }.toDF()
  }

  final case class AudioMeta(doc_id: Long, channels: Long, sample_rate: Long,
                             bits: Long, n_samples: Long, duration_ms: Long)
  final case class AudioWindow(doc_id: Long, win_idx: Long, energy: Long,
                               peak: Long)

  /** Synthesize a REAL RIFF/WAVE payload per row (PCM16LE mono @ 8 kHz
    * — the one audio container whose writer is ~20 lines of spec and
    * whose READER ships in the JDK as `javax.sound.sampled`): sample
    * count derives from the text byte length and each 16-bit sample
    * from (doc_id, sample index), so the oracle can predict what a
    * correct decode must report — the asPngPayload determinism
    * contract applied to audio. Same split-width note: spread the
    * narrow frame before the synthesis kernel. */
  def asWavPayload(df: DataFrame, textCol: String, idCol: String,
                   sampleRate: Int = 8000, seedMod: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    byteLengths(df, textCol, idCol)
      .mapPartitions { it =>
        it.map { case (docId0, byteLen) =>
          // seedMod > 0 buckets the PCM seed (the asCellGridPayload
          // palette idea applied to audio) AND switches to a stepped-
          // amplitude signal — per-64th-chunk amplitude from the
          // palette, alternating sign — so chunk MEAN energy carries
          // the palette (a plain LCG sweep has uniform energy and
          // degenerates every fingerprint to one pattern)
          val docId = if (seedMod > 0) docId0 % seedMod else docId0
          val n = synthSampleCount(byteLen)
          val chunkOf: Array[Int] = if (seedMod > 0) {
            val idx = new Array[Int](n)
            var b = 0
            while (b < 64) {
              var p = b * n / 64
              val end = (b + 1) * n / 64
              while (p < end) { idx(p) = b; p += 1 }
              b += 1
            }
            idx
          } else null
          val dataBytes = n * 2
          val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
            .put("WAVE".getBytes("US-ASCII"))
          bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1)                                   // PCM
            .putShort(1)                                   // mono
            .putInt(sampleRate)
            .putInt(sampleRate * 2)                        // byte rate
            .putShort(2)                                   // block align
            .putShort(16)                                  // bits/sample
          bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
          var i = 0
          while (i < n) {
            val s =
              if (seedMod > 0) {
                val amp = ((docId * 977 + chunkOf(i) * 53L) % 256) * 128
                (if ((i & 1) == 1) -amp else amp).toShort
              } else synthSample(docId, i)
            bb.putShort(s)
            i += 1
          }
          MediaPayload(docId0, bb.array())
        }
      }.toDF()
  }

  /** Oracle-shared audio synthesis rules (Oracles.scala mm_audio_*). */
  private[graft] def synthSampleCount(byteLen: Long): Int =
    (256 + byteLen % 1024).toInt

  private[graft] def synthSample(docId: Long, i: Int): Short =
    (((docId * 31 + i.toLong * 17) % 65536) - 32768).toShort

  /** REAL audio decode via `javax.sound.sampled.AudioSystem`: the
    * JDK's WAV reader parses the RIFF header and streams the PCM
    * frames; channels/rate/bits/frame-count are what the container
    * actually says, not what the synth intended. Narrow map, no
    * payload bytes in the output. */
  def decodeAudio(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      it.map { p =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(p.payload))
        try {
          val f = in.getFormat
          val frames = in.getFrameLength
          AudioMeta(p.doc_id, f.getChannels.toLong,
            f.getSampleRate.toLong, f.getSampleSizeInBits.toLong, frames,
            frames * 1000L / f.getSampleRate.toLong)
        } finally in.close()
      }
    }.toDF()
  }

  /** 64-bit audio fingerprint over the REAL decoded PCM — the phash
    * idea on the time axis (Shazam-family fingerprints are the same
    * grid pipeline over a spectrogram; energy-per-chunk is the
    * codec-independent baseline): split the n samples into 64
    * integer-boundary chunks (i ∈ [b·n/64, (b+1)·n/64)), sum s² per
    * chunk, set bit b iff the chunk's MEAN energy ≥ the global mean —
    * exact integer cross-multiplication (e_b · n ≥ totalE · n_b), so
    * the oracle predicts every bit from the synthesis rule. Emitted
    * as 32-bit halves for [[graft.operators.Dedup.hammingPairs64]].
    * Narrow partition-local kernel; payloads never shuffle. */
  def audioFingerprint(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      it.map { p =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(p.payload))
        try {
          require(in.getFormat.getSampleSizeInBits == 16 &&
            in.getFormat.getChannels == 1, s"expected PCM16 mono for doc ${p.doc_id}")
          val n = in.getFrameLength.toInt
          val bytes = new Array[Byte](n * 2)
          readFully(in, bytes)
          val e = new Array[Long](64)
          val nb = new Array[Long](64)
          var b = 0
          while (b < 64) {
            val i0 = b * n / 64; val i1 = (b + 1) * n / 64
            var s = 0L
            var i = i0
            while (i < i1) {
              val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
              s += v * v
              i += 1
            }
            e(b) = s; nb(b) = (i1 - i0).toLong
            b += 1
          }
          val totalE = e.sum
          var hi = 0L; var lo = 0L
          b = 0
          while (b < 64) {
            if (e(b) * n >= totalE * nb(b)) {
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            b += 1
          }
          PHash(p.doc_id, hi, lo)
        } finally in.close()
      }
    }.toDF().withColumnRenamed("phash_hi", "fp_hi")
      .withColumnRenamed("phash_lo", "fp_lo")
  }

  /** REAL windowed audio features over decoded PCM: fixed
    * `windowSamples`-wide non-overlapping frames (trailing partial
    * window DROPPED by contract — a VAD/feature pipeline wants
    * constant-width frames), integer energy Σ s² and peak max|s| per
    * window — both exact in int64 (400 · 32768² < 2⁴⁰), so the oracle
    * predicts them to the bit. The pipeline shape is the mm rule:
    * decode partition-local, output narrow rows (one per window, no
    * payload), payloads never shuffle. */
  def audioWindows(payloads: DataFrame, windowSamples: Int = 400): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      val buf = new Array[Byte](windowSamples * 2)
      it.flatMap { p =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(p.payload))
        try {
          require(in.getFormat.getSampleSizeInBits == 16 &&
            in.getFormat.getChannels == 1, s"expected PCM16 mono for doc ${p.doc_id}")
          val out = Vector.newBuilder[AudioWindow]
          var winIdx = 0L
          var read = readFully(in, buf)
          while (read == buf.length) {           // full windows only
            var energy = 0L
            var peak = 0L
            var i = 0
            while (i < windowSamples) {
              // PCM16LE frame -> signed short
              val s = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort.toLong
              energy += s * s
              val a = math.abs(s)
              if (a > peak) peak = a
              i += 1
            }
            out += AudioWindow(p.doc_id, winIdx, energy, peak)
            winIdx += 1
            read = readFully(in, buf)
          }
          out.result()
        } finally in.close()
      }
    }.toDF()
  }

  private def readFully(in: java.io.InputStream, buf: Array[Byte]): Int = {
    var off = 0
    var n = in.read(buf, 0, buf.length)
    while (n > 0) {
      off += n
      if (off == buf.length) return off
      n = in.read(buf, off, buf.length - off)
    }
    off
  }

  /** REAL video-style frame sampling over animated-GIF payloads:
    * `javax.imageio`'s GIF reader counts the container's actual frames
    * (`getNumImages(true)`), decodes every `stride`-th frame's raster,
    * and checksums its real pixels; timestamps assume 25 fps. One
    * output row per sampled frame — the explode stays narrow (no
    * payload bytes in the output), which is the property that matters
    * at 100 TB; frames NOT sampled are never pixel-decoded (the reader
    * seeks by frame index), which is what makes stride sampling
    * cheaper than full decode on real footage too. */
  def sampleFrames(payloads: DataFrame, stride: Int = 4): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaPayload].mapPartitions { it =>
      // per-partition pixel buffer + bulk getRGB per FRAME (the
      // resizeImage / perceptualHash pattern — per-pixel getRGB pays
      // bounds check + ColorModel conversion per call)
      var px = Array.emptyIntArray
      it.flatMap { p =>
        val in = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(p.payload)) // MemoryCache: see decodeImage
        try {
          val readers = ImageIO.getImageReaders(in)
          require(readers.hasNext, s"undecodable payload for doc ${p.doc_id}")
          val reader = readers.next()
          try {
            reader.setInput(in)
            val nFrames = reader.getNumImages(true)
            (0 until nFrames by stride).map { f =>
              val img = reader.read(f) // real raster decode of THIS frame
              val w = img.getWidth; val h = img.getHeight
              if (w * h > px.length) px = new Array[Int](w * h)
              img.getRGB(0, 0, w, h, px, 0, w)
              var sum = 0L
              var i = 0
              val n = w * h
              while (i < n) {
                val rgb = px(i)
                sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                i += 1
              }
              FrameSample(p.doc_id, f.toLong, f * 40L, sum % 2147483647L)
            }.toVector
          } finally reader.dispose()
        } finally in.close()
      }
    }.toDF()
  }
}
