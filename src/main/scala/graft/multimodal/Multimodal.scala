package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns at pipeline scale (SURVEY §7.5): media as opaque
  * `binary` columns + typed metadata structs, with decode / resize /
  * frame-sample / feature-extract as partition-parallel operators.
  *
  * Codec status: IMAGE decode/resize/embed are REAL via the JDK's
  * built-in codecs (`javax.imageio` PNG/JPEG/BMP/GIF + `Graphics2D`
  * resampling — headless-safe, no external libraries); AUDIO metadata
  * is REAL for WAV/AIFF/AU via `javax.sound.sampled`. Payloads no JDK
  * codec can parse (and all VIDEO, which the JDK cannot decode) fall
  * back to deterministic fakes (clearly marked below) so the pipeline
  * stays total and testable; swapping in a full codec stack (javacv,
  * ffmpeg via pipe) only replaces those fallback bodies. Schema
  * contract, mapPartitions batch shape, partition sizing, and
  * null/error routing are identical on both paths.
  */
object Multimodal {

  /** Decoded-media metadata contract (all media kinds share it; unused
    * fields null).
    */
  final case class MediaMeta(
      width: Int,
      height: Int,
      channels: Int,
      durationMs: Long,
      format: String
  )

  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      bytes: Array[Byte]
  )

  final case class DecodedRow(
      media_id: Long,
      kind: String,
      bytes: Array[Byte],
      meta: MediaMeta
  )

  // ---- REAL JDK CODEC KERNELS ------------------------------------------

  /** Magic-byte gate before any ImageIO call: only formats whose
    * signature matches are attempted. This is not just a fast path —
    * the JDK's WBMP reader has NO magic number and will happily
    * interpret junk bytes as a multi-gigapixel image, turning a
    * malformed payload into an executor-killing allocation (an Error,
    * not an Exception) instead of a clean fallback.
    */
  private def looksLikeImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && {
      val b = bytes
      // PNG \x89PNG | JPEG FFD8 | GIF87a/GIF89a | BMP "BM"
      ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M')
    }

  /** REAL image decode: JDK ImageIO (PNG/JPEG/BMP/GIF), gated on the
    * signature. Returns None when the bytes aren't a supported image.
    */
  private def tryDecodeImage(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    if (!looksLikeImage(bytes)) None
    else
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

  /** REAL image metadata: HEADER-only read (reader.getWidth/getHeight
    * decode no pixel data) — the metadata pass over a corpus costs
    * O(header), not O(pixels), per row.
    */
  private def tryImageMeta(bytes: Array[Byte]): Option[MediaMeta] =
    if (!looksLikeImage(bytes)) None
    else
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val channels =
                try {
                  val types = r.getImageTypes(0)
                  if (types.hasNext)
                    types.next().getColorModel.getNumComponents
                  else 3
                } catch { case _: Exception => 3 }
              Some(MediaMeta(r.getWidth(0), r.getHeight(0), channels, 0L,
                "image/decoded"))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case _: Exception => None }

  /** REAL audio metadata: `javax.sound.sampled` header parse (WAV/
    * AIFF/AU). Duration from frame count / frame rate.
    */
  private def tryAudioMeta(bytes: Array[Byte]): Option[MediaMeta] =
    try {
      val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val af = fmt.getFormat
      val frames = fmt.getFrameLength
      // Double arithmetic + round: a Float quotient truncated to Long
      // loses tens of ms on long clips (24-bit mantissa)
      val durMs =
        if (frames > 0 && af.getFrameRate > 0)
          math.round(frames * 1000.0 / af.getFrameRate)
        else 0L
      Some(MediaMeta(0, 0, af.getChannels, durMs,
        "audio/" + fmt.getType.getExtension))
    } catch { case _: Exception => None }

  /** REAL image resample: Graphics2D bilinear draw into the target box,
    * re-encoded as PNG (headless-safe, JDK-only). None when the input
    * doesn't decode.
    */
  private def tryResizeImage(bytes: Array[Byte], w: Int, hgt: Int)
      : Option[Array[Byte]] =
    tryDecodeImage(bytes).map { img =>
      val out = new java.awt.image.BufferedImage(w, hgt,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, hgt, null)
      g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", baos)
      baos.toByteArray
    }

  /** REAL pixel embedding: average-pool the decoded image onto a
    * luminance grid — a deterministic, model-free feature vector with
    * real spatial meaning (the slot a vision model fills). The grid is
    * ⌈√dim⌉² cells folded into `dim` slots by modulo, so EVERY slot
    * receives pixels for any `dim` (a ⌊√dim⌋ grid would leave the
    * trailing dim−⌊√dim⌋² slots permanently zero).
    */
  private def tryEmbedImage(bytes: Array[Byte], dim: Int)
      : Option[Array[Float]] =
    tryDecodeImage(bytes).map { img =>
      val grid = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
      val out = new Array[Float](dim)
      val counts = new Array[Int](dim)
      val w = img.getWidth
      val h = img.getHeight
      var y = 0
      while (y < h) {
        val gy = y * grid / h
        var x = 0
        while (x < w) {
          val gx = x * grid / w
          val slot = (gy * grid + gx) % dim
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 +
            ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          out(slot) += lum / 255.0f
          counts(slot) += 1
          x += 1
        }
        y += 1
      }
      var i = 0
      while (i < dim) {
        if (counts(i) > 0) out(i) /= counts(i)
        i += 1
      }
      out
    }

  // ---- FALLBACK (STUB) KERNELS -----------------------------------------
  // Used when no JDK codec parses the payload (and for video, which the
  // JDK cannot decode). Pure functions of the bytes so the pipeline
  // stays deterministic and testable without external codec libraries.

  /** FALLBACK: header parse for non-decodable payloads. */
  private def fakeDecodeMeta(kind: String, bytes: Array[Byte]): MediaMeta = {
    val h = java.util.Arrays.hashCode(bytes)
    val w = 64 + math.abs(h % 512)
    kind match {
      case "image" => MediaMeta(w, 64 + math.abs((h >> 4) % 512), 3, 0L, "fake/raw")
      case "audio" => MediaMeta(0, 0, math.abs(h % 2) + 1,
        1000L + math.abs(h % 600000), "fake/pcm")
      case _ => MediaMeta(w, 64 + math.abs((h >> 4) % 512), 3,
        1000L + math.abs(h % 600000), "fake/v1")
    }
  }

  /** FALLBACK: pixel resample for non-decodable payloads. */
  private def fakeResize(bytes: Array[Byte], w: Int, hgt: Int): Array[Byte] =
    java.util.Arrays.copyOf(bytes, math.min(bytes.length, w * hgt / 64 + 16))

  /** FALLBACK: embedding for non-decodable payloads (a vision/audio
    * model fills this slot for real media). Deterministic projection of
    * byte chunks into `dim` floats.
    */
  private def fakeEmbed(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      out(i % dim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }
  // ---- END STUBS -------------------------------------------------------

  /** Decode metadata for each media row. mapPartitions so a real codec
    * amortizes per-partition init (model load, ffmpeg process); the
    * iterator shape is the same one a JNI/pipe client needs.
    */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // heavier codecs initialize per-partition state HERE (once, not
      // per row); ImageIO/AudioSystem are static JDK registries
      rows.map { r =>
        val meta = r.kind match {
          case "image" => tryImageMeta(r.bytes)
              .getOrElse(fakeDecodeMeta(r.kind, r.bytes))
          case "audio" => tryAudioMeta(r.bytes)
              .getOrElse(fakeDecodeMeta(r.kind, r.bytes))
          case _ => fakeDecodeMeta(r.kind, r.bytes) // video: no JDK codec
        }
        DecodedRow(r.media_id, r.kind, r.bytes, meta)
      }
    }
  }

  /** Resize images to a bounding box; non-images pass through. */
  def resize(decoded: Dataset[DecodedRow], maxW: Int, maxH: Int)
      : Dataset[DecodedRow] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind != "image") r
        else {
          val scale = math.min(1.0,
            math.min(maxW.toDouble / r.meta.width,
              maxH.toDouble / r.meta.height))
          val nw = math.max(1, (r.meta.width * scale).toInt)
          val nh = math.max(1, (r.meta.height * scale).toInt)
          if (nw == r.meta.width && nh == r.meta.height) r // already inside
          else {
            val resized = tryResizeImage(r.bytes, nw, nh)
              .getOrElse(fakeResize(r.bytes, nw, nh))
            val fmt =
              if (r.meta.format == "image/decoded") "image/png"
              else r.meta.format
            r.copy(bytes = resized,
              meta = r.meta.copy(width = nw, height = nh, format = fmt))
          }
        }
      }
    }
  }

  /** Frame sampling: one output row per sampled frame of each video
    * (every `everyMs` of duration) — the explode-shaped fan-out a
    * video pipeline needs; ids stay joinable back to the source row.
    */
  def sampleFrames(decoded: Dataset[DecodedRow], everyMs: Long): DataFrame = {
    val df = decoded.toDF()
    df.filter(col("kind") === "video")
      .select(
        col("media_id"),
        explode(sequence(lit(0L), col("meta.durationMs"), lit(everyMs)))
          .as("frame_ms")
      )
  }

  /** Feature extraction: embedding column (`array<float>`) per media
    * row, ready for [[graft.operators.Similarity]] ANN search.
    */
  def embed(decoded: Dataset[DecodedRow], dim: Int = 64): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { rows =>
      // real models batch rows here (e.g. groups of 32 through a session)
      rows.grouped(32).flatMap { batch =>
        batch.map { r =>
          val v =
            if (r.kind == "image")
              tryEmbedImage(r.bytes, dim).getOrElse(fakeEmbed(r.bytes, dim))
            else fakeEmbed(r.bytes, dim)
          (r.media_id, v)
        }
      }
    }.toDF("media_id", "embedding")
  }

  /** 64-bit average hash (aHash, the classic perceptual image hash):
    * 8×8 mean-luminance grid, bit i set iff cell i ≥ the grid's own
    * mean. Real images pool real pixels (the same pooling kernel as
    * [[embed]] at dim=64, an exact 8×8 grid); payloads no codec parses
    * hash their fallback embedding the same way, so the operator stays
    * total and deterministic. Brightness/contrast shifts move every
    * cell AND the mean together, which is why near-identical images
    * collide — the property near-dup mining wants.
    */
  private[graft] def aHashBits(cells: Array[Float]): Long = {
    var s = 0.0f
    var i = 0
    while (i < cells.length) { s += cells(i); i += 1 }
    val mean = s / cells.length
    var bits = 0L
    i = 0
    while (i < cells.length && i < 64) {
      if (cells(i) >= mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  def perceptualHash(decoded: Dataset[DecodedRow]): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { rows =>
      rows.map { r =>
        val cells =
          if (r.kind == "image")
            tryEmbedImage(r.bytes, 64).getOrElse(fakeEmbed(r.bytes, 64))
          else fakeEmbed(r.bytes, 64)
        (r.media_id, aHashBits(cells))
      }
    }.toDF("media_id", "phash")
  }

  /** Near-duplicate image pairs within `maxHamming` of each other, via
    * 4×16-bit block banding: two 64-bit hashes ≤3 bits apart must share
    * at least one exact 16-bit block (pigeonhole), so candidates join
    * keyed on (block index, block value) — never all-pairs — and the
    * exact hamming check (`bit_count(xor)`, codegen'd) prunes the rest.
    * The same banded self-join shape as SimHash text near-dup (q26).
    */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding only guarantees recall for hamming <= 3, got $maxHamming")
    val blocks = hashes.select(col("media_id"), col("phash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("bi"),
          shiftrightunsigned(col("phash"), i * 16)
            .bitwiseAND(lit(0xFFFFL)).as("bv"))): _*)).as("b"))
      .select(col("media_id"), col("phash"),
        col("b.bi").as("bi"), col("b.bv").as("bv"))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Deterministic WAV synthesizer (16-bit PCM mono 8 kHz, 0.25 s),
    * written by the JDK's own WAV encoder: tone frequency = 200 +
    * (id mod 8)·100 Hz, amplitude = 0.2 + ((id div 8) mod 5)·0.15.
    * Ingest-side test/bench helper: ids in the same frequency class
    * produce the SAME tone at five different amplitudes, which is
    * exactly the equivalence [[spectralFingerprint]] must collapse
    * (amplitude-invariant) while separating classes — and it makes
    * audio dedup ORACLE-CHECKABLE, since the expected grouping is pure
    * integer arithmetic on the id.
    */
  def synthWav(id: Long): Array[Byte] = {
    val rate = 8000
    val n = rate / 4
    val freq = 200.0 + (math.floorMod(id, 8)) * 100.0
    val amp = (0.2 + math.floorMod(id / 8, 5) * 0.15) * 32767.0
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = math.round(amp *
        math.sin(2.0 * math.Pi * freq * i / rate)).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Deterministic PNG synthesizer (64×64, grayscale-in-RGB), written
    * by the JDK's own PNG encoder — the [[synthWav]] trick for images:
    * pattern class = id mod 8 brightens one 8-pixel-wide column of the
    * 8×8 aHash grid; brightness class = (id div 8) mod 4 adds a flat
    * +10·class offset to EVERY pixel. [[aHashBits]] thresholds each
    * grid cell against the grid's own mean, so the flat offset moves
    * cells and mean together: the four brightness variants of a
    * pattern class encode to different PNG bytes but identical
    * phashes, while distinct pattern classes differ in 16 of 64 bits.
    * The expected dedup grouping is therefore pure integer arithmetic
    * on the id — what makes image dedup oracle-checkable end-to-end
    * through the real encode/decode codecs.
    */
  def synthPng(id: Long): Array[Byte] = {
    val cls = math.floorMod(id, 8).toInt
    val off = math.floorMod(id / 8, 4).toInt * 10
    val bright = 200 + off
    val dark = 40 + off
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val v = if (x / 8 == cls) bright else dark
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** REAL PCM decode: mono float samples in [-1, 1] via
    * `javax.sound.sampled` (16-bit signed and 8-bit WAV/AIFF/AU);
    * None when no JDK codec parses the payload.
    */
  private def tryAudioSamples(
      bytes: Array[Byte]): Option[(Array[Float], Float)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val rate = f.getSampleRate
        val data = ais.readAllBytes()
        val ch = f.getChannels
        f.getSampleSizeInBits match {
          case 16 =>
            val n = data.length / 2 / ch
            val out = new Array[Float](n)
            val be = f.isBigEndian
            var i = 0
            while (i < n) {
              // average channels to mono
              var acc = 0f
              var c = 0
              while (c < ch) {
                val o = (i * ch + c) * 2
                val v =
                  if (be) ((data(o) << 8) | (data(o + 1) & 0xff)).toShort
                  else ((data(o + 1) << 8) | (data(o) & 0xff)).toShort
                acc += v / 32768f
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some((out, rate))
          case 8 =>
            val n = data.length / ch
            val signed = f.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            val out = new Array[Float](n)
            var i = 0
            while (i < n) {
              var acc = 0f
              var c = 0
              while (c < ch) {
                val b = data(i * ch + c)
                acc += (if (signed) b / 128f else ((b & 0xff) - 128) / 128f)
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some((out, rate))
          case _ => None
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** 64-bit spectral audio fingerprint: Goertzel tone energies at 64
    * probe frequencies (50 + 60·i Hz, i &lt; 64 — inside the 4 kHz
    * Nyquist band of common 8 kHz speech audio), bit i set iff
    * E(fᵢ) > mean(E). Uniform gain scales every energy AND the mean
    * together, so the fingerprint is amplitude-invariant — re-encoded
    * or volume-normalized copies collide, which is the property audio
    * near-dup mining needs (the audio twin of [[perceptualHash]]).
    * Payloads no codec parses fall back to the first 8 md5 bytes, so
    * the operator stays total and deterministic; exact-duplicate
    * payloads still collide there.
    */
  private[graft] def spectralBits(samples: Array[Float], rate: Float): Long = {
    val energies = new Array[Double](64)
    var b = 0
    while (b < 64) {
      val f = 50.0 + 60.0 * b
      val w = 2.0 * math.Pi * f / rate
      val coeff = 2.0 * math.cos(w)
      var s1 = 0.0
      var s2 = 0.0
      var i = 0
      while (i < samples.length) {
        val s0 = samples(i) + coeff * s1 - s2
        s2 = s1
        s1 = s0
        i += 1
      }
      energies(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
      b += 1
    }
    var sum = 0.0
    var i = 0
    while (i < 64) { sum += energies(i); i += 1 }
    val mean = sum / 64
    var bits = 0L
    i = 0
    while (i < 64) {
      if (energies(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  def spectralFingerprint(decoded: Dataset[DecodedRow]): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val fp = (if (r.kind == "audio") tryAudioSamples(r.bytes) else None)
          .map { case (samples, rate) => spectralBits(samples, rate) }
          .getOrElse(
            graft.functions.TextFunctions.md5Bits(md.digest(r.bytes), 64))
        (r.media_id, fp)
      }
    }.toDF("media_id", "fingerprint")
  }

  /** Build a media table from any (id, text) corpus — test/bench helper
    * that treats UTF-8 text bytes as the opaque payload.
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")
        ).as("kind"),
        encode(col("text"), "UTF-8").as("bytes")
      )
      .as[MediaRow]
  }
}
