package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Multimodal-column operators: images/audio/video ride through the
  * engine as opaque `binary` payloads with typed metadata columns;
  * decode / feature-extract / resize / frame-sample run as batched
  * per-partition transforms.
  *
  * The codec step is REAL for the two dependency-free raster formats:
  * [[ImageDecoder]] parses uncompressed 24-bpp BMP
  * (BITMAPINFOHEADER, bottom-up or top-down, 4-byte row padding) and
  * binary PPM (P6, comment-tolerant header, maxval-scaled), emitting a
  * fixed 16-dim feature of shape + pixel statistics (dims, channel
  * means/stds, luma range, gradient energy). Payloads in any other
  * format fall back to a deterministic 16-bin byte histogram — the
  * honest "unknown codec" path. Everything around the codec — the
  * payload schema, the partition batching shape (decoder libraries
  * amortize per-batch setup), the fixed-dim feature contract, and the
  * frame sampling — is the same production plumbing: add a JNI/codec
  * dispatch case for JPEG/PNG/audio and nothing else changes.
  *
  * Scale: mapPartitions keeps decode zero-shuffle (features computed
  * where the bytes already live); payloads never pass through a wide
  * transform, so shuffle volume stays at metadata width. For skewed
  * payload sizes, `repartitionByBytes` rebalances on a size column
  * before the decode stage.
  */
object MultimodalOps {

  val FEATURE_DIM = 16

  case class MediaRow(id: Long, payload: Array[Byte])
  case class MediaFeatures(id: Long, n_bytes: Long, features: Array[Float])

  /** Decoded raster: interleaved RGB bytes scaled to 0-255. */
  private[operators] final case class Raster(
      format: Int, width: Int, height: Int, rgb: Array[Int])

  /** Dependency-free image decoder: BMP (24-bpp uncompressed) and
    * binary PPM (P6). Returns None for anything else.
    */
  object ImageDecoder {

    val FMT_BMP = 1
    val FMT_PPM = 2

    private def i32le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    private def u16le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    /** 24-bpp uncompressed BMP with a BITMAPINFOHEADER (or larger):
      * pixel rows are BGR, padded to 4 bytes, bottom-up unless the
      * height field is negative (top-down).
      */
    private def decodeBmp(b: Array[Byte]): Option[Raster] = {
      if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val dataOff = i32le(b, 10)
      val hdrSize = i32le(b, 14)
      val w = i32le(b, 18)
      val hRaw = i32le(b, 22)
      val bpp = u16le(b, 28)
      val compression = i32le(b, 30)
      val h = math.abs(hRaw)
      if (hdrSize < 40 || bpp != 24 || compression != 0 ||
        w <= 0 || h == 0) return None
      val stride = ((w * 3 + 3) / 4) * 4
      if (dataOff < 0 || dataOff.toLong + stride.toLong * h > b.length)
        return None
      val rgb = new Array[Int](w * h * 3)
      var y = 0
      while (y < h) {
        // bottom-up storage: image row y lives at file row (h-1-y)
        val fileRow = if (hRaw > 0) h - 1 - y else y
        var x = 0
        val ro = dataOff + fileRow * stride
        while (x < w) {
          val po = ro + x * 3
          val oo = (y * w + x) * 3
          rgb(oo) = b(po + 2) & 0xff     // R (file order is BGR)
          rgb(oo + 1) = b(po + 1) & 0xff // G
          rgb(oo + 2) = b(po) & 0xff     // B
          x += 1
        }
        y += 1
      }
      Some(Raster(FMT_BMP, w, h, rgb))
    }

    /** Binary PPM (P6): ASCII header of `P6 <w> <h> <maxval>` with
      * `#` comments and arbitrary whitespace, one whitespace byte,
      * then w*h interleaved RGB samples (maxval <= 255 → 1 byte each),
      * rescaled to 0-255.
      */
    private def decodePpm(b: Array[Byte]): Option[Raster] = {
      if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
      var pos = 2
      def nextInt(): Option[Int] = {
        // skip whitespace and # comments
        var inComment = false
        while (pos < b.length && {
          val c = b(pos).toChar
          if (inComment) { if (c == '\n') inComment = false; true }
          else if (c == '#') { inComment = true; true }
          else c == ' ' || c == '\t' || c == '\n' || c == '\r'
        }) pos += 1
        val start = pos
        while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') pos += 1
        if (pos == start) None
        else Some(new String(b, start, pos - start, "US-ASCII").toInt)
      }
      for {
        w <- nextInt(); h <- nextInt(); maxv <- nextInt()
        if w > 0 && h > 0 && maxv > 0 && maxv <= 255 &&
          pos + 1 + 3L * w * h <= b.length
      } yield {
        pos += 1 // single whitespace after maxval
        val rgb = new Array[Int](w * h * 3)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = (b(pos + i) & 0xff) * 255 / maxv
          i += 1
        }
        Raster(FMT_PPM, w, h, rgb)
      }
    }

    def decode(bytes: Array[Byte]): Option[Raster] =
      decodeBmp(bytes).orElse(decodePpm(bytes))
  }

  /** Batched codec: real BMP/PPM decode → 16-dim shape+stat feature;
    * unknown formats → deterministic normalized 16-bin byte histogram.
    */
  object StubDecoder {

    private def histogram(bytes: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](FEATURE_DIM)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xff) % FEATURE_DIM) += 1f
        i += 1
      }
      val n = math.max(1, bytes.length).toFloat
      hist.map(_ / n)
    }

    /** [format, w, h, channels, meanR, meanG, meanB, stdR, stdG, stdB,
      * lumaMin, lumaMax, aspect, lumaMean, gradEnergy, nPixels] —
      * channel values on a 0-1 scale, std population, gradient the
      * mean |Δluma| between horizontal neighbors.
      */
    private def imageFeatures(r: Raster): Array[Float] = {
      val n = r.width * r.height
      val sum = new Array[Double](3)
      val sumSq = new Array[Double](3)
      var lMin = Double.MaxValue
      var lMax = Double.MinValue
      var lSum = 0.0
      var grad = 0.0
      var i = 0
      while (i < n) {
        val o = i * 3
        var c = 0
        var luma = 0.0
        while (c < 3) {
          val v = r.rgb(o + c) / 255.0
          sum(c) += v; sumSq(c) += v * v
          c += 1
        }
        luma = (0.299 * r.rgb(o) + 0.587 * r.rgb(o + 1) +
          0.114 * r.rgb(o + 2)) / 255.0
        lSum += luma
        if (luma < lMin) lMin = luma
        if (luma > lMax) lMax = luma
        // horizontal neighbor (same row only)
        if ((i % r.width) + 1 < r.width) {
          val o2 = o + 3
          val luma2 = (0.299 * r.rgb(o2) + 0.587 * r.rgb(o2 + 1) +
            0.114 * r.rgb(o2 + 2)) / 255.0
          grad += math.abs(luma2 - luma)
        }
        i += 1
      }
      val nGrad = math.max(1, (r.width - 1) * r.height)
      val mean = sum.map(_ / n)
      val std = (0 to 2).map(c =>
        math.sqrt(math.max(0.0, sumSq(c) / n - mean(c) * mean(c))))
      Array(r.format.toFloat, r.width.toFloat, r.height.toFloat, 3f,
        mean(0).toFloat, mean(1).toFloat, mean(2).toFloat,
        std(0).toFloat, std(1).toFloat, std(2).toFloat,
        lMin.toFloat, lMax.toFloat,
        (r.width.toDouble / r.height).toFloat, (lSum / n).toFloat,
        (grad / nGrad).toFloat, n.toFloat)
    }

    def decode(batch: Seq[Array[Byte]]): Seq[Array[Float]] =
      batch.map { bytes =>
        ImageDecoder.decode(bytes) match {
          case Some(raster) => imageFeatures(raster)
          case None         => histogram(bytes)
        }
      }
  }

  /** Batched per-partition decode + feature extraction. `batchSize`
    * bounds decoder working-set memory (the Triton max_batch_size
    * analogue — online/utils/triton_caller.py:33-38).
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val inEnc = Encoders.product[MediaRow]
    df.select(col(idCol).as("id"), col(payloadCol).as("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = StubDecoder.decode(batch.map(_.payload))
          batch.iterator.zip(feats.iterator).map { case (r, f) =>
            MediaFeatures(r.id, r.payload.length.toLong, f)
          }
        }
      }
  }

  /** Frame sampling: treat the payload as fixed-size frames, keep every
    * `stride`-th frame (deterministic, no decode needed). Column-level
    * (codegen'd) — the payload is sliced, never exploded row-wise until
    * the caller asks.
    */
  def frameSample(df: DataFrame, payloadCol: String, frameBytes: Int,
                  stride: Int, outCol: String = "frames"): DataFrame =
    // Payloads shorter than one full frame yield [] — the guard matters
    // because sequence(0, -1) is the DESCENDING sequence [0, -1], which
    // would emit a partial frame and a negative-index read.
    df.withColumn(outCol,
      expr(s"""CASE WHEN octet_length($payloadCol) < $frameBytes
          THEN CAST(array() AS ARRAY<BINARY>)
          ELSE transform(
            filter(sequence(0, CAST(octet_length($payloadCol) / $frameBytes AS INT) - 1),
                   i -> i % $stride = 0),
            i -> substring($payloadCol, i * $frameBytes + 1, $frameBytes)) END"""))

  /** Aspect-preserving resize metadata (the shape arithmetic a real
    * resize kernel would receive).
    */
  def resizePlan(df: DataFrame, wCol: String, hCol: String,
                 maxSide: Int): DataFrame =
    df.withColumn("scale",
        when(greatest(col(wCol), col(hCol)) <= maxSide, lit(1.0))
          .otherwise(lit(maxSide.toDouble) / greatest(col(wCol), col(hCol))))
      .withColumn("out_w", floor(col(wCol) * col("scale")).cast("int"))
      .withColumn("out_h", floor(col(hCol) * col("scale")).cast("int"))

  /** Payload-skew rebalance before decode: hash-spread on the id so no
    * partition accumulates the large payloads that arrive clustered in
    * the source files (AQE's skew handling only fixes join/agg skew,
    * not mapPartitions input skew).
    */
  def rebalance(df: DataFrame, idCol: String, partitions: Int): DataFrame =
    df.repartition(partitions, col(idCol))

  // ---------------------------------------------------------------------
  // Declared image family (q454/q455): deterministic raster synthesis →
  // REAL codec decode in-plan → integer statistics / perceptual hash.
  //
  // The payloads are CONSTRUCTED from closed-form integer pixel math, so
  // a DuckDB oracle can mirror the decoded pixel values without a
  // decoder of its own — which is exactly what makes the real
  // BMP/PPM codec oracle-checkable: any decode defect (row order,
  // stride padding, maxval rescale, header parsing) shifts the decoded
  // integers away from the closed form and fails the hash gate.
  // Reference analogue: the modality-blind ES dense-vector index
  // (offline_to_online/recall/s2_item_to_es.py:36-41) — the reference
  // ships image-less embeddings; this family is the pixel-native
  // capability a multimodal training-data pipeline adds on top.
  // ---------------------------------------------------------------------

  /** Synthesis spec: everything the generator needs, one row per image.
    * `seed`/`pseed` are md5-derived (column-side, the cross-engine md5
    * recipe); `noise` > 0 inverts pixels where
    * (pseed + 31·i) % 64 < noise — the perturbation that turns cluster
    * siblings into NEAR-duplicates instead of exact ones.
    */
  case class SynthImageRow(id: Long, seed: Long, pseed: Long, noise: Int,
                           fmt: Int, w: Int, h: Int, maxv: Int,
                           topdown: Boolean)
  case class ImagePayload(id: Long, payload: Array[Byte])
  case class ImageStats(id: Long, fmt: Int, w: Int, h: Int, n_px: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long,
                        luma1k: Long, luma1k_xw: Long, luma1k_yw: Long)
  case class ImageHash(id: Long, h_lo: Long, h_hi: Long)

  /** Closed-form RAW channel values at image coordinates (x, y): the
    * first three bytes of md5("<seed>_<i>") with i = y·w + x — the
    * cross-engine md5 recipe, chosen over arithmetic ramps because any
    * algebraic structure shared across seeds (mod-2^k gcd artifacts,
    * affine half-planes) correlates the aHash bits of UNRELATED images
    * and blew the near-dup pair count superlinear in prototyping; md5
    * bytes are structure-free, so distinct-seed hashes sit at Hamming
    * ~32 and cross-seed "near-dups" vanish. All inputs non-negative,
    * so `%` agrees between Scala, Spark and DuckDB.
    */
  private def rawPixel(md: java.security.MessageDigest, seed: Long,
                       pseed: Long, noise: Int,
                       w: Int, x: Int, y: Int): (Int, Int, Int) = {
    val i = y * w + x
    md.reset()
    val d = md.digest(s"${seed}_$i".getBytes("US-ASCII"))
    var r = d(0) & 0xff
    var g = d(1) & 0xff
    var b = d(2) & 0xff
    if (noise > 0 && (pseed + 31L * i) % 64 < noise) {
      r = 255 - r; g = 255 - g; b = 255 - b
    }
    (r, g, b)
  }

  /** Serialize one 24-bpp uncompressed BMP: BITMAPFILEHEADER (14) +
    * BITMAPINFOHEADER (40), BGR pixel order, rows padded to 4 bytes,
    * bottom-up unless `topdown` (negative height field).
    */
  private[operators] def writeBmp(spec: SynthImageRow): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val stride = ((spec.w * 3 + 3) / 4) * 4
    val size = 54 + stride * spec.h
    val out = new Array[Byte](size)
    def p32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte
      out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    p32(2, size); p32(10, 54); p32(14, 40); p32(18, spec.w)
    p32(22, if (spec.topdown) -spec.h else spec.h)
    out(26) = 1 // planes
    out(28) = 24 // bpp
    p32(30, 0) // BI_RGB
    p32(34, stride * spec.h)
    var y = 0
    while (y < spec.h) {
      // file row r holds image row (h-1-r) when bottom-up
      val imgY = if (spec.topdown) y else spec.h - 1 - y
      var x = 0
      val ro = 54 + y * stride
      while (x < spec.w) {
        val (r, g, b) = rawPixel(md, spec.seed, spec.pseed, spec.noise,
          spec.w, x, imgY)
        out(ro + x * 3) = b.toByte // BGR on disk
        out(ro + x * 3 + 1) = g.toByte
        out(ro + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Serialize one binary PPM (P6) with a header comment (exercising
    * the comment-tolerant parser); stored sample = raw % (maxv+1), so
    * the decoder's maxval rescale (s·255/maxv, integer) is what the
    * oracle's closed form must reproduce.
    */
  private[operators] def writePpm(spec: SynthImageRow): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val header = s"P6\n# graft synth\n${spec.w} ${spec.h}\n${spec.maxv}\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * spec.w * spec.h)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    while (y < spec.h) {
      var x = 0
      while (x < spec.w) {
        val (r, g, b) = rawPixel(md, spec.seed, spec.pseed, spec.noise,
          spec.w, x, y)
        val o = header.length + (y * spec.w + x) * 3
        out(o) = (r % (spec.maxv + 1)).toByte
        out(o + 1) = (g % (spec.maxv + 1)).toByte
        out(o + 2) = (b % (spec.maxv + 1)).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Spec rows → real serialized payloads. Map-only (no shuffle): the
    * bytes are born where the spec rows live, exactly like a production
    * scan of an image-bearing parquet column.
    */
  def synthesizeImages(spec: Dataset[SynthImageRow]): Dataset[ImagePayload] = {
    implicit val enc = Encoders.product[ImagePayload]
    spec.map(s => ImagePayload(s.id,
      if (s.fmt == ImageDecoder.FMT_BMP) writeBmp(s) else writePpm(s)))
  }

  /** REAL-codec decode → integer raster statistics, batched per
    * partition like [[extractFeatures]]. Integer-only outputs (channel
    * sums + plain/x-weighted/y-weighted luma·1000 sums) make the result
    * hash-exact cross-engine; the coordinate-weighted sums are the
    * orientation canary — a bottom-up/top-down mix-up permutes rows,
    * which plain sums cannot see but the (y+1)-weighted sum does.
    * A payload the codec rejects yields NO row: at the gate that reads
    * as a row-count mismatch, the loud failure mode.
    */
  def decodeStats(payloads: Dataset[ImagePayload],
                  batchSize: Int = 64): Dataset[ImageStats] = {
    implicit val enc = Encoders.product[ImageStats]
    payloads.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { p =>
          ImageDecoder.decode(p.payload).map { r =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var l = 0L; var lx = 0L; var ly = 0L
            var i = 0
            val n = r.width * r.height
            while (i < n) {
              val o = i * 3
              val luma = 299L * r.rgb(o) + 587L * r.rgb(o + 1) +
                114L * r.rgb(o + 2)
              sr += r.rgb(o); sg += r.rgb(o + 1); sb += r.rgb(o + 2)
              l += luma
              lx += (i % r.width + 1) * luma
              ly += (i / r.width + 1) * luma
              i += 1
            }
            ImageStats(p.id, r.format, r.width, r.height, n.toLong,
              sr, sg, sb, l, lx, ly)
          }
        }
      }
    }
  }

  /** REAL-codec decode → 64-bit integer average-hash (aHash) as two
    * 32-bit halves: bit i = luma1k(i)·n > Σ luma1k (strict, integer —
    * no division, so no rounding divergence), packed little-endian
    * (pixel 0 = bit 0 of h_lo). Two halves instead of one BIGINT keep
    * the sign bit out of play in BOTH engines (DuckDB raises on
    * 1<<63). 8×8 rasters hash directly; larger ones aren't expected
    * here (the declared query synthesizes 8×8).
    */
  def decodeAHash(payloads: Dataset[ImagePayload],
                  batchSize: Int = 64): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    payloads.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { p =>
          ImageDecoder.decode(p.payload).map { r =>
            val n = r.width * r.height
            val luma = new Array[Long](n)
            var tot = 0L
            var i = 0
            while (i < n) {
              val o = i * 3
              luma(i) = 299L * r.rgb(o) + 587L * r.rgb(o + 1) +
                114L * r.rgb(o + 2)
              tot += luma(i)
              i += 1
            }
            var lo = 0L; var hi = 0L
            i = 0
            while (i < n && i < 64) {
              if (luma(i) * n > tot) {
                if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              }
              i += 1
            }
            ImageHash(p.id, lo, hi)
          }
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Declared audio family (q457): real RIFF/WAV PCM16 codec, same
  // contract as the image family — synthesized payloads with
  // closed-form integer samples, decoded IN-PLAN, oracle mirrors the
  // sample math without a decoder.
  // ---------------------------------------------------------------------

  /** Decoded clip: interleaved signed 16-bit samples. */
  private[operators] final case class AudioClip(
      channels: Int, sampleRate: Int, samples: Array[Int])

  /** Dependency-free RIFF/WAV decoder: walks the chunk list (even-byte
    * padded, unknown chunks skipped — the tolerance real WAV files
    * need for LIST/INFO metadata), requires PCM (format 1) 16-bit from
    * `fmt `, decodes `data` as interleaved signed 16-bit LE. Returns
    * None for anything else.
    */
  object AudioDecoder {
    private def i32le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def u16le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    def decode(b: Array[Byte]): Option[AudioClip] = {
      if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
        b(11) != 'E') return None
      var pos = 12
      var channels = 0; var rate = 0; var fmtOk = false
      var samples: Array[Int] = null
      while (pos + 8 <= b.length) {
        val id = new String(b, pos, 4, "US-ASCII")
        val size = i32le(b, pos + 4)
        val dataStart = pos + 8
        if (size < 0 || dataStart.toLong + size > b.length) return None
        id match {
          case "fmt " if size >= 16 =>
            val audioFormat = u16le(b, dataStart)
            channels = u16le(b, dataStart + 2)
            rate = i32le(b, dataStart + 4)
            val bits = u16le(b, dataStart + 14)
            fmtOk = audioFormat == 1 && bits == 16 && channels >= 1
          case "data" =>
            val n = size / 2
            samples = new Array[Int](n)
            var i = 0
            while (i < n) {
              // sign from the high byte (s16 LE)
              samples(i) = (b(dataStart + 2 * i + 1) << 8) |
                (b(dataStart + 2 * i) & 0xff)
              i += 1
            }
          case _ => () // skip LIST/INFO/etc.
        }
        pos = dataStart + size + (size & 1) // chunks pad to even
      }
      if (fmtOk && samples != null) Some(AudioClip(channels, rate, samples))
      else None
    }
  }

  /** Audio synthesis spec: interleaved sample i (i < nFrames·channels)
    * is the first 16 md5 bits of "<aseed>_<i>" minus 32768 — full
    * signed range, closed-form in both engines. `extraChunk` inserts
    * an odd-size LIST chunk before `data` (exercising the decoder's
    * chunk walk + even padding).
    */
  case class SynthAudioRow(id: Long, aseed: Long, channels: Int,
                           sampleRate: Int, nFrames: Int,
                           extraChunk: Boolean)
  case class AudioStats(id: Long, channels: Int, sample_rate: Int,
                        n_samples: Long, sum_abs: Long, max_abs: Long,
                        energy: Long, zero_crossings: Long)

  private[graft] def writeWav(spec: SynthAudioRow): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = spec.nFrames * spec.channels
    val junk = if (spec.extraChunk) 8 + 7 + 1 else 0 // odd size + pad
    val out = new Array[Byte](12 + 24 + junk + 8 + n * 2)
    def p32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte
      out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def p16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(o: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach(t => out(o + t._2) = t._1)
    tag(0, "RIFF"); p32(4, out.length - 8); tag(8, "WAVE")
    tag(12, "fmt "); p32(16, 16)
    p16(20, 1) // PCM
    p16(22, spec.channels)
    p32(24, spec.sampleRate)
    p32(28, spec.sampleRate * spec.channels * 2) // byte rate
    p16(32, spec.channels * 2) // block align
    p16(34, 16) // bits
    var o = 36
    if (spec.extraChunk) {
      tag(o, "LIST"); p32(o + 4, 7) // odd size → one pad byte
      var j = 0
      while (j < 7) { out(o + 8 + j) = 0x4a; j += 1 }
      o += junk
    }
    tag(o, "data"); p32(o + 4, n * 2)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(s"${spec.aseed}_$i".getBytes("US-ASCII"))
      // first 4 hex chars big-endian (= bytes 0,1) − 32768: full s16
      val v = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) - 32768
      p16(o + 8 + 2 * i, v & 0xffff)
      i += 1
    }
    out
  }

  /** Spec rows → real serialized WAV payloads (map-only). */
  def synthesizeWavs(spec: Dataset[SynthAudioRow]): Dataset[ImagePayload] = {
    implicit val enc = Encoders.product[ImagePayload]
    spec.map(s => ImagePayload(s.id, writeWav(s)))
  }

  /** REAL-codec WAV decode → integer clip statistics, batched per
    * partition. Zero crossings count strict sign changes
    * (vᵢ·vᵢ₋₁ < 0 over the interleaved stream) — no division, no
    * floats, hash-exact cross-engine. A rejected payload yields no row
    * (row-count mismatch at the gate, the loud failure).
    */
  def decodeAudioStats(payloads: Dataset[ImagePayload],
                       batchSize: Int = 64): Dataset[AudioStats] = {
    implicit val enc = Encoders.product[AudioStats]
    payloads.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { p =>
          AudioDecoder.decode(p.payload).map { c =>
            var sumAbs = 0L; var maxAbs = 0L; var energy = 0L
            var zc = 0L
            var i = 0
            while (i < c.samples.length) {
              val v = c.samples(i).toLong
              val a = math.abs(v)
              sumAbs += a
              if (a > maxAbs) maxAbs = a
              energy += v * v
              if (i > 0 && v * c.samples(i - 1).toLong < 0) zc += 1
              i += 1
            }
            AudioStats(p.id, c.channels, c.sampleRate,
              c.samples.length.toLong, sumAbs, maxAbs, energy, zc)
          }
        }
      }
    }
  }

  /** Declared q457 plan: per doc an md5-seeded WAV — mono for even
    * ids, stereo for odd; 8 or 16 kHz by seed; half the payloads carry
    * an odd-size LIST chunk before `data` (the chunk-walk + padding
    * tolerance a real WAV corpus needs) — decoded by the REAL RIFF
    * codec in-plan and reduced to integer clip statistics. Same shape
    * as [[imageDecodeStats]]: fused map-only synthesis+decode over the
    * doc scan, zero shuffle, closed-form oracle.
    */
  def audioDecodeStats(docs: DataFrame, idCol: String): DataFrame = {
    implicit val specEnc = Encoders.product[SynthAudioRow]
    implicit val seedEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val seeded = docs.select(
        col(idCol).cast("long").as("id"),
        (Md5Int(concat(lit("a"),
            col(idCol).cast("string")), 1, 8) % 100000).as("aseed"))
      .as[(Long, Long)]
    val spec = seeded.map { case (id, aseed) =>
      SynthAudioRow(id, aseed,
        channels = 1 + (id % 2).toInt,
        sampleRate = if (aseed % 2 == 0) 8000 else 16000,
        nFrames = 48 + (aseed % 17).toInt,
        extraChunk = id % 4 < 2)
    }
    decodeAudioStats(synthesizeWavs(spec)).toDF()
      .withColumnRenamed("id", "doc_id")
  }

  /** Declared q454 plan: per doc, an md5-seeded BMP or PPM payload —
    * BMP for even ids (half of them top-down, exercising both row
    * orders and the 4-byte stride padding at w ∈ {5, 6, 7}), PPM for
    * odd ids (header comment; maxval 63 on a third of them, exercising
    * the integer rescale) — serialized, decoded by the REAL codec
    * in-plan, reduced to integer raster statistics. Map-only until the
    * final sort: synthesis and decode are one fused mapPartitions
    * chain over the doc scan, zero shuffle, so the plan is the
    * embarrassingly-parallel shape a 100 TB image-stats pass needs.
    * The oracle recomputes the DECODED pixel values closed-form
    * (ppm-integer discipline throughout), so every decode defect is a
    * hash mismatch.
    */
  def imageDecodeStats(docs: DataFrame, idCol: String): DataFrame = {
    implicit val specEnc = Encoders.product[SynthImageRow]
    implicit val seedEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val seeded = docs.select(
        col(idCol).cast("long").as("id"),
        (Md5Int(col(idCol).cast("string"), 1, 8) % 100000).as("seed"))
      .as[(Long, Long)]
    val spec = seeded.map { case (id, seed) =>
      val bmp = id % 2 == 0
      SynthImageRow(id, seed, pseed = 0L, noise = 0,
        fmt = if (bmp) ImageDecoder.FMT_BMP else ImageDecoder.FMT_PPM,
        w = 4 + (seed % 5).toInt, h = 4 + ((seed / 7) % 5).toInt,
        maxv = if (bmp || seed % 3 != 0) 255 else 63,
        topdown = bmp && id % 4 == 2)
    }
    decodeStats(synthesizeImages(spec)).toDF()
      .withColumnRenamed("id", "doc_id")
  }

  /** Declared q455 plan: perceptual-hash image near-dup. Docs cluster
    * by `id % max(1, n/docsPerCluster)` — cluster count scales with the
    * corpus, so expected candidate pairs stay LINEAR in n (the LSH
    * family's adaptive-width discipline). Cluster siblings share an
    * md5 base seed and differ by a per-doc pixel inversion
    * (`noise = (id / nClusters) % 9` inverted pixels-ish), so their
    * 8×8 BMPs decode to near-identical rasters; the REAL codec decodes
    * each payload in-plan, the integer aHash packs 64 mean-threshold
    * bits into two 32-bit halves (no sign-bit hazard in either
    * engine), and near-dups surface through a banded 16-bit
    * Hamming-bucket EQUI-join (4 bands — any unperturbed band
    * collides) with a bit_count(xor) verify at `maxHamming`. Never
    * all-pairs: candidates are band-bucket joins, the q27/q69 shape.
    * The hash table is lazily localCheckpoint'd — it is read four
    * times (both band sides + both verify sides), and at scale the
    * decode must run once, not four times.
    */
  def imagePhashNearDup(docs: DataFrame, idCol: String,
                        docsPerCluster: Int = 16,
                        maxHamming: Int = 6): DataFrame = {
    implicit val specEnc = Encoders.product[SynthImageRow]
    implicit val seedEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val nClusters = math.max(1L, docs.count() / docsPerCluster)
    val seeded = docs.select(
        col(idCol).cast("long").as("id"),
        (Md5Int(concat(lit("c"),
            (col(idCol).cast("long") % nClusters).cast("string")), 1, 8)
          % 100000).as("cseed"),
        (Md5Int(concat(lit("d"),
            col(idCol).cast("string")), 1, 8) % 100000).as("pseed"))
      .as[(Long, Long, Long)]
    val spec = seeded.map { case (id, cseed, pseed) =>
      SynthImageRow(id, cseed, pseed,
        noise = ((id / nClusters) % 9).toInt,
        fmt = ImageDecoder.FMT_BMP, w = 8, h = 8, maxv = 255,
        topdown = false)
    }
    val hashes = decodeAHash(synthesizeImages(spec)).toDF()
      .localCheckpoint(false)
    val bands = hashes.select(col("id"),
        explode(array(
          struct(lit(0).as("bi"), col("h_lo").bitwiseAND(lit(65535L)).as("bv")),
          struct(lit(1).as("bi"), shiftright(col("h_lo"), 16).as("bv")),
          struct(lit(2).as("bi"), col("h_hi").bitwiseAND(lit(65535L)).as("bv")),
          struct(lit(3).as("bi"), shiftright(col("h_hi"), 16).as("bv"))))
          .as("b"))
      .select(col("id"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    cand
      .join(hashes.select(col("id").as("doc_a"), col("h_lo").as("lo_a"),
        col("h_hi").as("hi_a")), "doc_a")
      .join(hashes.select(col("id").as("doc_b"), col("h_lo").as("lo_b"),
        col("h_hi").as("hi_b")), "doc_b")
      .withColumn("hamming",
        expr("CAST(bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
