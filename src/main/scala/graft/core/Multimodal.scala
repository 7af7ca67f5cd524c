package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * as opaque BINARY payloads + a typed metadata struct, with
  * decode / feature-extraction / resize / frame-sampling operators.
  *
  * The IMAGE path decodes for real: [[ImageIoCodec]] wraps the JDK's
  * `javax.imageio` (PNG/BMP/GIF/JPEG — pure-JVM, headless, no external
  * libs), sniffed by magic bytes; payloads that aren't decodable
  * images (and the audio/video kinds, whose codecs the container
  * doesn't ship) fall back to the clearly-marked deterministic STUB
  * (`StubCodec`) — a fake header parse + byte-chunk features.
  * Everything around the codec seam is the real plumbing this
  * pipeline needs at 100 TB:
  *
  *  - schema: payload stays an opaque `BinaryType` column; metadata is
  *    a typed struct; operators never round-trip through strings.
  *  - batch shape: heavy per-row decode runs through `mapPartitions`
  *    (the JVM analogue of a vectorized batch UDF) so a real codec
  *    amortizes init (decoder handles, GPU context) once per
  *    partition, not once per row.
  *  - partitioning: payload tables are processed embarrassingly
  *    parallel; feature output is a flat (id, dim, value) or
  *    fixed-width array column that feeds Similarity.* directly.
  *  - frame sampling: explode-with-stride — one row per sampled frame,
  *    distributed, no driver loop.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("sample_rate", IntegerType))))))

  /** STUB codec — stands in for a real image/audio decoder.
    * "Header": byte 0 -> width/16, byte 1 -> height/16, byte 2 ->
    * frame count; "features": k chunked polynomial byte-hashes scaled
    * to [0,1). Deterministic in the payload alone, so tests and
    * oracles can reproduce it; swap this object for a real codec and
    * nothing else changes.
    */
  object StubCodec {
    def width(payload: Array[Byte]): Int = 16 * ((payload(0) & 0xff) % 64 + 1)
    def height(payload: Array[Byte]): Int = 16 * ((payload(1) & 0xff) % 64 + 1)
    def nFrames(payload: Array[Byte]): Int = (payload(2) & 0xff) % 30 + 1

    /** k features: chunk the payload into k spans, polynomial-hash each
      * span mod 1e9+7, scale into [0,1).
      */
    def features(payload: Array[Byte], k: Int): Array[Float] =
      frameFeatures(payload, 0, k)

    /** Vectorized-call shape: one codec invocation per BATCH of
      * payloads — a real decoder (or a GPU feature extractor) takes
      * the whole batch in one native/device call; the stub just maps.
      * Deterministically identical to per-row [[features]].
      */
    def featuresBatch(payloads: Array[Array[Byte]], k: Int): Array[Array[Float]] =
      payloads.map(features(_, k))

    /** Per-frame variant: the "decode frame f" stub reads the payload
      * rotated by the frame index, so distinct frames of one video get
      * distinct (but deterministic) vectors.
      */
    def frameFeatures(payload: Array[Byte], frame: Int, k: Int): Array[Float] = {
      val out = new Array[Float](k)
      val n = payload.length
      val span = math.max(1, n / k)
      var i = 0
      while (i < k) {
        var h = 0L
        var j = 0
        while (j < span) {
          val idx = (i * span + j + frame) % n
          h = (h * 31 + (payload(idx) & 0xff)) % 1000000007L
          j += 1
        }
        out(i) = (h.toDouble / 1000000007.0).toFloat
        i += 1
      }
      out
    }
  }

  /** REAL image codec over the JDK's `javax.imageio` — public,
    * bundled, headless-safe. PNG/BMP/GIF/JPEG are sniffed by magic
    * bytes before attempting a decode, so non-image payloads never pay
    * for a reader probe and deterministic stub behavior is preserved
    * for them bit-for-bit.
    */
  object ImageIoCodec {

    // ImageIO wraps every stream read/write in an ImageInputStream /
    // ImageOutputStream; with the default useCache=true that is a
    // FileCache*Stream — a TEMP FILE created and deleted PER IMAGE.
    // Payloads here are in-memory byte arrays of a few KB, so the disk
    // cache is pure overhead, and under concurrent tasks the temp-file
    // churn serializes the whole codec family (measured: q139 ran 3.9x
    // SLOWER when its encode/decode went 32-way parallel, tracing to
    // this). Memory-cached streams remove the files entirely.
    javax.imageio.ImageIO.setUseCache(false)

    /** Magic-byte sniff for the formats the JDK decodes natively. */
    def looksLikeImage(p: Array[Byte]): Boolean =
      p.length >= 8 && (
        // PNG: 89 50 4E 47 0D 0A 1A 0A
        ((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        // BMP: "BM"
        (p(0) == 'B' && p(1) == 'M') ||
        // GIF: "GIF8"
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        // JPEG: FF D8 FF
        ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff))

    /** Decode to a BufferedImage; None when the payload isn't a
      * decodable image (sniff fails or the reader rejects it).
      */
    def decode(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!looksLikeImage(p)) None
      else Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))

    /** k mean-luminance features over vertical strips of REAL pixels:
      * strip i covers columns [i*w/k, (i+1)*w/k) × all rows; the
      * feature is sum(r+g+b) / (3 * 255 * nPixels) ∈ [0,1]. Integer
      * sums are exact, so the single double division is reproducible
      * by any engine from the pixel values (the q84 oracle replays it
      * relationally from the generator arithmetic).
      */
    def gridFeatures(img: java.awt.image.BufferedImage, k: Int): Array[Double] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Double](k)
      var i = 0
      while (i < k) {
        val x0 = i * w / k
        val x1 = (i + 1) * w / k
        var sum = 0L
        var x = x0
        while (x < x1) {
          var y = 0
          while (y < h) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            y += 1
          }
          x += 1
        }
        val n = (x1 - x0).toLong * h
        out(i) = if (n == 0) 0.0 else sum.toDouble / (3.0 * 255.0 * n)
        i += 1
      }
      out
    }

    /** Encode a deterministic grayscale gradient PNG for id:
      * w = 4 + id%5, h = 3 + id%4, pixel(x,y) = (id*31 + 7x + 13y) % 256
      * — the shared generator both the engine-side q84 query and its
      * DuckDB oracle derive pixels from (PNG is lossless, so decode
      * returns exactly these values).
      */
    def gradientPng(id: Long): Array[Byte] = {
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val v = (((id * 31 + 7L * x + 13L * y) % 256 + 256) % 256).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          y += 1
        }
        x += 1
      }
      encode(img, "png")
    }

    /** Deterministic nearest-neighbor resample: target pixel (x, y)
      * copies source pixel ((x·w) div w2, (y·h) div h2) — pure integer
      * index arithmetic, no interpolation, no float, so an external
      * engine reproduces every output pixel from the source pixels
      * alone (the q116 oracle replays the index map relationally).
      * Graphics2D scaling is deliberately NOT used: its filtering is
      * implementation-defined.
      */
    def resizeNearest(img: java.awt.image.BufferedImage,
                      w2: Int, h2: Int): java.awt.image.BufferedImage = {
      require(w2 > 0 && h2 > 0, "target dims must be positive")
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new java.awt.image.BufferedImage(
        w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) {
          out.setRGB(x, y, img.getRGB(x * w / w2, y * h / h2))
          x += 1
        }
        y += 1
      }
      out
    }

    /** Perceptual difference hash (dHash, 64-bit): resize to 9×8 with
      * [[resizeNearest]] (pure integer index map — no filtering, so an
      * external oracle can replay it), integer luminance
      * (r·299 + g·587 + b·114) div 1000 per pixel, then bit y·8+x is
      * set iff lum(x+1, y) > lum(x, y). Deterministic and
      * codec-roundtrip-stable (PNG is lossless), which is what lets
      * image near-dup detection run on the HASH — 8 bytes per image —
      * instead of on payloads.
      */
    def dHash64(img: java.awt.image.BufferedImage): Long = {
      val small = resizeNearest(img, 9, 8)
      def lum(x: Int, y: Int): Int = {
        val rgb = small.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        (r * 299 + g * 587 + b * 114) / 1000
      }
      var hash = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (lum(x + 1, y) > lum(x, y)) hash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      hash
    }

    /** Horizontal mirror: out(x, y) = src(w−1−x, y) — a pure integer
      * index map (same determinism argument as [[resizeNearest]]).
      */
    def flipHorizontal(img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(w - 1 - x, y))
          x += 1
        }
        y += 1
      }
      out
    }

    /** Center crop to (cw, ch): out(x, y) = src((w−cw) div 2 + x,
      * (h−ch) div 2 + y) — integer offsets, exact.
      */
    def cropCenter(img: java.awt.image.BufferedImage,
                   cw: Int, ch: Int): java.awt.image.BufferedImage = {
      val (w, h) = (img.getWidth, img.getHeight)
      require(cw >= 1 && ch >= 1 && cw <= w && ch <= h,
        s"crop ${cw}x$ch exceeds image ${w}x$h")
      val (x0, y0) = ((w - cw) / 2, (h - ch) / 2)
      val out = new java.awt.image.BufferedImage(
        cw, ch, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < ch) {
        var x = 0
        while (x < cw) {
          out.setRGB(x, y, img.getRGB(x0 + x, y0 + y))
          x += 1
        }
        y += 1
      }
      out
    }

    /** Encode any BufferedImage via an ImageIO writer ("png", "bmp"…). */
    def encode(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, baos),
        s"no ImageIO writer for format $format")
      baos.toByteArray
    }

    /** Encode a frame sequence as a genuine multi-frame (animated) GIF
      * through the JDK's sequence writer — the one VIDEO container the
      * JDK both writes and reads natively, which makes the video
      * frame-sampling path REAL end-to-end (no stub): payloads are
      * standard GIF89a files any player opens. Grayscale frames use
      * ≤256 distinct colors, so the GIF palette encodes them
      * losslessly and decode returns exact pixel values.
      */
    def encodeAnimatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      try {
        writer.setOutput(ios)
        // the JDK writer defaults to INTERLACED output, which the
        // reader mis-deinterlaces for small frame heights (rows land
        // shuffled/zeroed) — force progressive off so the roundtrip
        // is row-exact
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        frames.foreach { f =>
          // null image metadata: the writer then builds its default
          // metadata DIRECTLY (field writes), where a caller-passed
          // metadata object — even this writer's own default — takes
          // the convertImageMetadata path: getAsTree → a ~256-node DOM
          // palette tree built and re-parsed PER FRAME (executor
          // thread samples on q90: getNativeTree +
          // IIOMetadataNode.setAttribute owned the runnable samples).
          // Identical default fields either way; pixel bytes untouched.
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), param)
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      baos.toByteArray
    }

    /** Encode a frame sequence as a multi-page TIFF (JDK-native since
      * 9, uncompressed by default → lossless) — the SECOND real
      * multi-frame container, proving the codec-seam claim: decode,
      * stride sampling and features are untouched; supporting it is a
      * sniff line in [[looksLikeMultiFrame]], not a new operator.
      */
    def encodeMultipageTiff(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frames.foreach { f =>
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      baos.toByteArray
    }

    /** Multi-frame container sniff: GIF8 or TIFF (II*\0 / MM\0*) —
      * the two frame-sequence containers the JDK reads natively.
      */
    def looksLikeMultiFrame(p: Array[Byte]): Boolean =
      p.length >= 4 && (
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        (p(0) == 0x49 && p(1) == 0x49 && p(2) == 0x2a && p(3) == 0x00) ||
        (p(0) == 0x4d && p(1) == 0x4d && p(2) == 0x00 && p(3) == 0x2a))

    /** Decode ALL frames of a multi-frame payload (1 for a still):
      * GIF or multi-page TIFF — the same reader loop handles both,
      * which is the point of the codec seam (a further container is a
      * sniff line, not a new operator). None when the payload isn't a
      * readable multi-frame container. The reader counts frames from
      * the stream (`getNumImages(true)`), so n_frames metadata is
      * real, not a header guess.
      */
    def decodeFrames(p: Array[Byte]): Option[Array[java.awt.image.BufferedImage]] =
      if (!looksLikeMultiFrame(p)) None
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) { iis.close(); None }
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false)
            val n = reader.getNumImages(true)
            Some(Array.tabulate(n)(reader.read))
          } finally {
            reader.dispose()
            iis.close()
          }
        }
      } catch { case _: Exception => None }

    /** Full 256-entry grayscale palette: every frame carries the same
      * complete gray color table, so the GIF writer never quantizes —
      * without this, frames after the first get snapped to the FIRST
      * frame's palette and the roundtrip silently stops being
      * lossless.
      */
    private lazy val grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate[Byte](256)(i => i.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    /** Deterministic grayscale gradient frames for id — the q90 video
      * twin of [[gradientPng]]: n_frames = 2 + id%4, w = 4 + id%5,
      * h = 3 + id%4, pixel(x,y,f) = (id*31 + 7x + 13y + 19f) % 256.
      * Shared generator for the engine query and its DuckDB oracle.
      */
    def gradientGifFrames(id: Long): Seq[java.awt.image.BufferedImage] = {
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val nf = (2 + id % 4).toInt
      (0 until nf).map { f =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        var x = 0
        while (x < w) {
          var y = 0
          while (y < h) {
            val v = (((id * 31 + 7L * x + 13L * y + 19L * f) % 256 + 256) % 256).toInt
            img.getRaster.setSample(x, y, 0, v)
            y += 1
          }
          x += 1
        }
        img
      }
    }
  }

  /** REAL audio codec over the JDK's `javax.sound.sampled` — public,
    * bundled, headless-safe. PCM WAV (RIFF) is sniffed by magic bytes
    * before attempting a decode; non-WAV payloads fall back to the
    * stub exactly like the image path.
    */
  object AudioIoCodec {

    // `AudioSystem.getAudioInputStream`/`.write` resolve their SPI
    // providers through com.sun.media.sound.JSSecurityManager PER
    // CALL, under one lock, re-walking the classpath jars each time —
    // measured by thread sampling on q129: 36.6k of 36.6k blocked
    // executor samples sat in JSSecurityManager.getProviders once the
    // codec went 32-way parallel (a lock convoy; serial it "only"
    // costs the rescan). Resolve the public javax.sound.sampled.spi
    // providers ONCE and dispatch directly — same providers, same
    // try-each-reader semantics, no per-call registry walk.
    private lazy val audioReaders
        : Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toSeq
        // the JDK's MIDI-as-audio reader probes by calling back into
        // MidiSystem — the SAME per-call JDK13Services registry lock
        // the cache here exists to avoid (a second sampling round: the
        // convoy moved from AudioSystem to the MIDI probe). Every
        // sampled-audio reader rejects by header sniff; order them
        // first. At most one reader accepts a given payload, so order
        // never changes the result.
        .sortBy(r => if (r.getClass.getName.toLowerCase.contains("midi")) 1
                     else 0)
    }
    private lazy val audioWriters
        : Seq[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.toSeq
    }

    /** AudioSystem.getAudioInputStream via the cached providers:
      * first reader that accepts the stream wins (AudioSystem's own
      * contract).
      */
    private def audioInputStream(p: Array[Byte])
        : javax.sound.sampled.AudioInputStream = {
      val it = audioReaders.iterator
      while (it.hasNext) {
        try return it.next()
          .getAudioInputStream(new java.io.ByteArrayInputStream(p))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no cached provider accepts the payload")
    }

    /** RIFF....WAVE magic. */
    def looksLikeWav(p: Array[Byte]): Boolean =
      p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

    /** Decode 16-bit PCM WAV to (sampleRate, samples) — mono: channel
      * 0 only. None when the payload isn't decodable WAV.
      */
    def decode(p: Array[Byte]): Option[(Int, Array[Short])] =
      if (!looksLikeWav(p)) None
      else try {
        val in = audioInputStream(p)
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16) None
          else {
            val bytes = in.readAllBytes()
            val ch = fmt.getChannels
            val n = bytes.length / (2 * ch)
            val out = new Array[Short](n)
            val bo = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
                     else java.nio.ByteOrder.LITTLE_ENDIAN
            val bb = java.nio.ByteBuffer.wrap(bytes).order(bo)
            var i = 0
            while (i < n) { out(i) = bb.getShort(i * 2 * ch); i += 1 }
            Some((fmt.getSampleRate.toInt, out))
          }
        } finally in.close()
      } catch { case _: Exception => None }

    /** k mean-|amplitude| features over contiguous sample windows:
      * window i covers samples [i*n/k, (i+1)*n/k); the feature is
      * sum(|s|) / (32768 * count) ∈ [0,1). Integer sums are exact, so
      * the single double division is engine-reproducible (the q86
      * oracle replays it from the generator arithmetic).
      */
    def windowFeatures(samples: Array[Short], k: Int): Array[Double] = {
      val n = samples.length
      val out = new Array[Double](k)
      var i = 0
      while (i < k) {
        val x0 = i * n / k
        val x1 = (i + 1) * n / k
        var sum = 0L
        var x = x0
        while (x < x1) { sum += math.abs(samples(x).toLong); x += 1 }
        out(i) = if (x1 == x0) 0.0 else sum.toDouble / (32768.0 * (x1 - x0))
        i += 1
      }
      out
    }

    /** Deterministic test tone for id, encoded as a genuine 16-bit PCM
      * mono WAV through `AudioSystem.write`: n = 400 + id%100 samples
      * at 8 kHz, sample(t) = (id*31 + t*17) % 4093 − 2046 — the shared
      * generator both the engine-side q86 query and its DuckDB oracle
      * derive samples from (PCM is lossless).
      */
    def toneWav(id: Long): Array[Byte] = {
      val n = (400 + id % 100).toInt
      val samples = new Array[Short](n)
      var t = 0
      while (t < n) {
        samples(t) =
          (((id * 31 + t.toLong * 17) % 4093 + 4093) % 4093 - 2046).toShort
        t += 1
      }
      encodeWav(8000, samples)
    }

    /** Encode mono 16-bit PCM samples as a genuine WAV through
      * `AudioSystem.write` — the write half of [[decode]] (PCM is
      * lossless, so decode∘encodeWav is the identity on samples).
      */
    def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      val bb = java.nio.ByteBuffer.wrap(data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var t = 0
      while (t < samples.length) { bb.putShort(t * 2, samples(t)); t += 1 }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val stream = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
      // cached-provider dispatch (see audioReaders): pick the writer
      // that supports WAVE for THIS stream — isFileTypeSupported
      // instead of AudioSystem.write's try-and-catch over all writers
      // (the float-WAV writer throws on PCM input, a per-call
      // exception the sampler also measured)
      audioWriters
        .find(w => w.isFileTypeSupported(wave, stream))
        .getOrElse(throw new IllegalStateException(
          "no cached WAVE writer for PCM"))
        .write(stream, wave, baos)
      baos.toByteArray
    }
  }

  /** Codec dispatch: decodable image payloads take the REAL
    * `javax.imageio` path, decodable PCM-WAV audio payloads the REAL
    * `javax.sound.sampled` path; everything else (video kinds, opaque
    * test payloads) keeps the deterministic stub. One seam, used by
    * every operator below, so swapping in further real codecs (video)
    * touches nothing downstream.
    */
  object MediaCodec {
    /** (width, height, n_frames, sample_rate) */
    def meta(kind: String, payload: Array[Byte]): (Int, Int, Int, Int) =
      (if (kind == "image") ImageIoCodec.decode(payload) else None) match {
        case Some(img) => (img.getWidth, img.getHeight, 1, 16000)
        case None =>
          (if (kind == "video") ImageIoCodec.decodeFrames(payload) else None) match {
            case Some(frames) if frames.nonEmpty =>
              (frames(0).getWidth, frames(0).getHeight, frames.length, 16000)
            case _ =>
              (if (kind == "audio") AudioIoCodec.decode(payload) else None) match {
                case Some((rate, samples)) => (0, 0, samples.length, rate)
                case None => (StubCodec.width(payload), StubCodec.height(payload),
                  StubCodec.nFrames(payload), 16000)
              }
          }
      }

    def features(kind: String, payload: Array[Byte], k: Int): Array[Float] =
      (if (kind == "image") ImageIoCodec.decode(payload) else None) match {
        case Some(img) => ImageIoCodec.gridFeatures(img, k).map(_.toFloat)
        case None =>
          (if (kind == "audio") AudioIoCodec.decode(payload) else None) match {
            case Some((_, samples)) =>
              AudioIoCodec.windowFeatures(samples, k).map(_.toFloat)
            case None => StubCodec.features(payload, k)
          }
      }

    /** Batch-call shape (see [[extractFeaturesBatch]]); identical
      * output to per-row [[features]].
      */
    def featuresBatch(kinds: Array[String], payloads: Array[Array[Byte]],
                      k: Int): Array[Array[Float]] = {
      val out = new Array[Array[Float]](payloads.length)
      var i = 0
      while (i < payloads.length) {
        out(i) = features(kinds(i), payloads(i), k)
        i += 1
      }
      out
    }
  }

  /** Decode metadata from the payload (real `javax.imageio` parse for
    * image payloads, stub header parse otherwise). Batch-shaped:
    * one `mapPartitions` pass, schema-preserving + meta overwrite.
    */
  def decodeMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(mediaSchema)
    val out: Dataset[Row] = media.select("media_id", "kind", "payload", "meta")
      .mapPartitions { rows =>
        // per-partition init happens HERE in a real codec
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, nf, sr) = MediaCodec.meta(r.getString(1), payload)
          Row(r.getLong(0), r.getString(1), payload, Row(w, h, nf, sr))
        }
      }(enc)
    out
  }

  /** Fixed-dimension feature vector per payload (real pixels for
    * decodable images, stub features otherwise), per-row UDF shape —
    * kept as the semantic oracle for [[extractFeaturesBatch]].
    */
  def extractFeatures(media: DataFrame, k: Int = 8): DataFrame = {
    val featUdf = udf((kind: String, payload: Array[Byte]) =>
      MediaCodec.features(kind, payload, k))
    media.withColumn("features", featUdf(col("kind"), col("payload")))
  }

  /** Columnar-batch feature extraction: the JVM analogue of
    * `mapInArrow` — one `mapPartitions` pass that (a) does
    * per-PARTITION codec init (decoder handles, GPU context) and then
    * (b) hands the codec `batchSize` payloads per CALL
    * ([[StubCodec.featuresBatch]]), so per-call overhead (JNI
    * crossing, device transfer) amortizes over the batch instead of
    * being paid per row. Output is bit-identical to
    * [[extractFeatures]]; schema = input + `features`.
    */
  def extractFeaturesBatch(media: DataFrame, k: Int = 8,
                           batchSize: Int = 64): DataFrame = {
    val inSchema = media.schema
    val outSchema = inSchema.add(StructField("features", ArrayType(FloatType), nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val payloadIdx = inSchema.fieldIndex("payload")
    val kindIdx = inSchema.fieldIndex("kind")
    media.mapPartitions { rows =>
      // per-partition init happens HERE in a real codec
      rows.grouped(batchSize).flatMap { batch =>
        val feats = MediaCodec.featuresBatch(
          batch.iterator.map(_.getString(kindIdx)).toArray,
          batch.iterator.map(_.getAs[Array[Byte]](payloadIdx)).toArray, k)
        batch.iterator.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ feats(i).toSeq)
        }
      }
    }(enc)
  }

  /** Deterministic REAL-image table: one gradient PNG per id in `ids`
    * ([[ImageIoCodec.gradientPng]]), encoded on the executors — the
    * payload column holds genuine PNG bytes that any image tool can
    * open. Input for codec tests and the q84 gate.
    */
  def synthesizeGradientPngs(ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // Fanout: the encode (and everything the caller chains before its
    // first exchange) is per-row codec work — a single-row-group id
    // scan would serialize the whole family on one core (guide §2.5)
    Fanout.ensure(ids.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions(_.map(id => (id, "image", ImageIoCodec.gradientPng(id))))
      .toDF("media_id", "kind", "payload")
  }

  /** Real-pixel strip features in long form (media_id, dim, feature):
    * decode every payload with the REAL codec and emit k
    * mean-luminance features per image ([[ImageIoCodec.gridFeatures]]).
    * Rows whose payload isn't a decodable image are dropped (they have
    * no pixels to feature). One mapPartitions pass — decoder init
    * amortizes per partition, payloads never leave the executor.
    */
  def imageGridFeatures(media: DataFrame, k: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point for a real batched decoder
        it.flatMap { case (id, payload) =>
          ImageIoCodec.decode(payload) match {
            case Some(img) =>
              ImageIoCodec.gridFeatures(img, k).iterator.zipWithIndex
                .map { case (f, d) => (id, d.toLong, f) }
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "dim", "feature")
  }

  /** Deterministic REAL-audio table: one tone WAV per id in `ids`
    * ([[AudioIoCodec.toneWav]]), encoded on the executors — genuine
    * RIFF/WAVE payloads any audio tool can play. Input for codec tests
    * and the q86 gate.
    */
  def synthesizeToneWavs(ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // Fanout rationale: see synthesizeGradientPngs
    Fanout.ensure(ids.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions(_.map(id => (id, "audio", AudioIoCodec.toneWav(id))))
      .toDF("media_id", "kind", "payload")
  }

  /** Real-sample window features in long form (media_id, dim, feature):
    * decode every payload with the REAL WAV codec and emit k
    * mean-|amplitude| features ([[AudioIoCodec.windowFeatures]]).
    * Non-decodable payloads are dropped. One mapPartitions pass.
    */
  def audioWindowFeatures(media: DataFrame, k: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          AudioIoCodec.decode(payload) match {
            case Some((_, samples)) =>
              AudioIoCodec.windowFeatures(samples, k).iterator.zipWithIndex
                .map { case (f, d) => (id, d.toLong, f) }
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "dim", "feature")
  }

  /** Frame-energy rows for VAD-style segmentation
    * (media_id, frame, energy): decode every PCM-WAV payload with the
    * REAL codec and emit one row per full non-overlapping
    * `frameSize`-sample frame, energy = Σ|s(t)| over the frame —
    * integer-exact, so downstream gates compare equal across engines.
    * Tail samples beyond the last full frame are dropped (documented
    * convention); non-decodable payloads contribute no rows. One
    * mapPartitions pass; payloads never leave their executor — only
    * (long, long, long) rows shuffle afterwards.
    */
  def audioFrameEnergies(media: DataFrame, frameSize: Int = 50): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          AudioIoCodec.decode(payload) match {
            case Some((_, samples)) =>
              val nFrames = samples.length / frameSize
              Iterator.tabulate(nFrames) { f =>
                var e = 0L
                var t = f * frameSize
                val end = t + frameSize
                while (t < end) { e += math.abs(samples(t).toLong); t += 1 }
                (id, f.toLong, e)
              }
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "frame", "energy")
  }

  /** Voice-activity segmentation over [[audioFrameEnergies]] output:
    * frames with energy > `threshold` are "active"; consecutive active
    * frames merge into one segment (gaps-and-islands:
    * frame − row_number is constant per island). Returns one row per
    * segment (media_id, seg_start, seg_end, n_frames, seg_energy) —
    * all BIGINT, exactly reproducible. The window partitions by
    * media_id (bounded per-doc frame counts), never globally, so the
    * plan is one exchange on media_id + one grouped aggregate — safe
    * at any corpus size.
    */
  def vadSegments(energies: DataFrame, threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame"))
    energies.filter(col("energy") > threshold)
      .withColumn("grp", col("frame") - row_number().over(w))
      .groupBy(col("media_id"), col("grp"))
      .agg(
        min(col("frame")).as("seg_start"),
        max(col("frame")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("seg_energy"))
      .drop("grp")
  }

  /** Chromaprint-style audio fingerprints (media_id, fingerprint):
    * decode every PCM-WAV payload, compute [[audioFrameEnergies]]'
    * integer frame energies at `frameSize`, then bit f (0..63) is set
    * iff energy(f+1) > energy(f) — the energy-DELTA signature, robust
    * to global gain exactly like dHash is to brightness. Payloads
    * with fewer than 65 full frames (or undecodable) are dropped.
    * One mapPartitions pass; audio dedup then runs on 8-byte
    * fingerprints via [[dhashNearDupPairs]] — pixels' and samples'
    * near-dup machinery is the SAME banded-Hamming join.
    */
  def audioFingerprint64(media: DataFrame, frameSize: Int = 6): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          AudioIoCodec.decode(payload) match {
            case Some((_, samples)) if samples.length / frameSize >= 65 =>
              val e = new Array[Long](65)
              var f = 0
              while (f < 65) {
                var s = 0L
                var t = f * frameSize
                val end = t + frameSize
                while (t < end) { s += math.abs(samples(t).toLong); t += 1 }
                e(f) = s
                f += 1
              }
              var h = 0L
              var b = 0
              while (b < 64) {
                if (e(b + 1) > e(b)) h |= 1L << b
                b += 1
              }
              Iterator.single((id, h))
            case _ => Iterator.empty
          }
        }
      }.toDF("media_id", "fingerprint")
  }

  /** Perceptual image hashes (media_id, dhash): decode every payload
    * with the REAL codec and emit its [[ImageIoCodec.dHash64]].
    * Non-decodable payloads are dropped. One mapPartitions pass —
    * after this, image dedup shuffles 8-byte hashes, never pixels.
    */
  def imageDHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          ImageIoCodec.decode(payload)
            .map(img => (id, ImageIoCodec.dHash64(img)))
        }
      }.toDF("media_id", "dhash")
  }

  /** Image near-dup pairs by banded Hamming LSH over dHashes: the
    * 64-bit hash splits into 4 × 16-bit bands; docs sharing any band
    * value become candidates (one equi-join on (band_idx, band_key) —
    * the [[Dedup.lshCandidates]] shape, hashes-only shuffle), then the
    * EXACT Hamming distance `bit_count(a ^ b)` keeps pairs ≤ maxDist.
    * For maxDist ≤ 3 the banding is LOSSLESS by pigeonhole: ≤ 3
    * differing bits cannot touch all 4 bands, so at least one band
    * matches exactly and the pair is guaranteed generated — the
    * default output is the exact near-dup set, not an approximation.
    * `maxBandSize` caps a band bucket's fan-out at web scale
    * (d docs → d²/2 pairs; same subset-only contract as
    * [[Dedup.lshCandidates]] maxBandSize — pairs only ever drop out;
    * under a cap the pair must additionally survive in its FIRST
    * matching band, since later-band duplicates are pruned by the
    * first-match filter below rather than a distinct()).
    * Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    */
  def dhashNearDupPairs(hashes: DataFrame, maxDist: Int = 3,
                        maxBandSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist <= 3,
      "maxDist > 3 loses the 4-band pigeonhole guarantee; raise bands instead")
    val banded = hashes.select(col("media_id").as("doc"), col("dhash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("dhash"), 16 * b)
            .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band_idx", "band_key")))
    val pruned =
      if (maxBandSize == Int.MaxValue) banded
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))
        banded.withColumn("__d", count(lit(1)).over(w))
          .filter(col("__d") > 1 && col("__d") <= maxBandSize)
          .drop("__d")
      }
    // each surviving pair is emitted ONCE, from its FIRST matching
    // band: rows from later bands are dropped by a narrow filter
    // (both hashes are in the row), so no distinct() — identical-hash
    // groups would otherwise 4x-duplicate every pair and force a
    // second full shuffle just to dedup them
    val firstMatchOnly = (0 until 3).map { j =>
      val key = (h: Column) =>
        shiftrightunsigned(h, 16 * j).bitwiseAND(lit(0xffffL))
      when(col("band_idx") > j, key(col("h_a")) =!= key(col("h_b")))
        .otherwise(lit(true))
    }.reduce(_ && _)
    pruned.as("a").join(pruned.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.dhash").as("h_a"), col("b.dhash").as("h_b"),
        col("a.band_idx").as("band_idx"))
      .filter(firstMatchOnly)
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Deterministic REAL-video table: one multi-frame animated GIF per
    * id ([[ImageIoCodec.gradientGifFrames]] +
    * [[ImageIoCodec.encodeAnimatedGif]]), encoded on the executors —
    * genuine GIF89a payloads any player opens. Input for codec tests
    * and the q90 gate.
    */
  def synthesizeGradientGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // Fanout rationale: see synthesizeGradientPngs
    Fanout.ensure(ids.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions(_.map(id => (id, "video",
        ImageIoCodec.encodeAnimatedGif(ImageIoCodec.gradientGifFrames(id)))))
      .toDF("media_id", "kind", "payload")
  }

  /** REAL frame-sampled video features in long form
    * (media_id, frame_idx, dim, feature): decode every GIF payload's
    * frames with the real codec, keep every `every`-th frame (stride
    * sampling happens AFTER a real decode — the decoder must touch all
    * frames to count them, exactly like a real video container), and
    * emit k mean-luminance strip features per sampled frame. One
    * mapPartitions pass, payloads never leave their executor;
    * non-decodable payloads are dropped.
    */
  def videoFrameFeatures(media: DataFrame, every: Int = 2, k: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point for a real batched decoder
        it.flatMap { case (id, payload) =>
          ImageIoCodec.decodeFrames(payload) match {
            case Some(frames) =>
              frames.iterator.zipWithIndex
                .filter { case (_, f) => f % every == 0 }
                .flatMap { case (img, f) =>
                  ImageIoCodec.gridFeatures(img, k).iterator.zipWithIndex
                    .map { case (v, d) => (id, f.toLong, d.toLong, v) }
                }
            case None => Iterator.empty
          }
        }
      }.toDF("media_id", "frame_idx", "dim", "feature")
  }

  /** REAL pixel resize for decodable image payloads: decode with the
    * real codec, nearest-neighbor resample
    * ([[ImageIoCodec.resizeNearest]] — deterministic integer index
    * map), re-encode as lossless PNG. Payloads the codec can't decode
    * pass through untouched (the [[MediaCodec]] dispatch discipline),
    * so the op is schema-stable over a mixed-modality table. One
    * mapPartitions pass, zero exchanges — payloads never leave their
    * executor; at 100 TB this is embarrassingly parallel compute, the
    * q84/q90 class.
    */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          ImageIoCodec.decode(payload) match {
            case Some(img) => (id, kind,
              ImageIoCodec.encode(
                ImageIoCodec.resizeNearest(img, width, height), "png"))
            case None => (id, kind, payload)
          }
        }
      }.toDF("media_id", "kind", "payload")
  }

  /** ViT-style patch extraction: every decodable image becomes its
    * grid of p×p patches — (media_id, patch_row, patch_col, px_sum)
    * with px_sum the EXACT BIGINT sum of the patch's gray values
    * (one channel; the gradient corpus is gray by construction), so
    * the gate oracle replays the generator arithmetic through the
    * patch index map with zero float surface. Ragged edges are
    * DROPPED (the standard ViT convention: width/height floor-divide
    * by the patch size); undecodable payloads contribute no rows.
    * One mapPartitions flatMap, zero exchanges — patches of a 100 TB
    * image corpus stream straight to the sink.
    */
  def patchifyImages(media: DataFrame, p: Int): DataFrame = {
    require(p >= 1, "patch size must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          ImageIoCodec.decode(payload) match {
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              for {
                pr <- 0 until h / p
                pc <- 0 until w / p
              } yield {
                var sum = 0L
                var dy = 0
                while (dy < p) {
                  var dx = 0
                  while (dx < p) {
                    sum += (img.getRGB(pc * p + dx, pr * p + dy) & 0xFF)
                    dx += 1
                  }
                  dy += 1
                }
                (id, pr.toLong, pc.toLong, sum)
              }
            case None => Seq.empty
          }
        }
      }.toDF("media_id", "patch_row", "patch_col", "px_sum")
  }

  /** Audio augmentation: time-reverse every decodable PCM-WAV payload
    * through the REAL codec (decode → reverse samples → re-encode —
    * PCM is lossless, so the transform is sample-exact and the q129
    * oracle composes the tone-generator arithmetic through the index
    * reversal). Non-WAV payloads pass through untouched; one
    * mapPartitions pass, zero exchanges — the audio sibling of
    * [[augmentImages]].
    */
  def reverseAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          AudioIoCodec.decode(payload) match {
            case Some((rate, samples)) =>
              (id, kind, AudioIoCodec.encodeWav(rate, samples.reverse))
            case None => (id, kind, payload)
          }
        }
      }.toDF("media_id", "kind", "payload")
  }

  /** Training-time image augmentation: horizontal flip then center
    * crop, decoded and re-encoded with the real codec — the standard
    * vision-pretraining transform pair, both pure integer index maps
    * ([[ImageIoCodec.flipHorizontal]], [[ImageIoCodec.cropCenter]])
    * so every output pixel is reproducible from the source alone (the
    * q128 oracle composes the generator arithmetic through both
    * maps). Undecodable payloads pass through untouched
    * (schema-stable over mixed media); one mapPartitions pass, zero
    * exchanges.
    */
  def augmentImages(media: DataFrame, cropW: Int, cropH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          ImageIoCodec.decode(payload) match {
            case Some(img) if img.getWidth >= cropW && img.getHeight >= cropH =>
              (id, kind, ImageIoCodec.encode(
                ImageIoCodec.cropCenter(
                  ImageIoCodec.flipHorizontal(img), cropW, cropH), "png"))
            case _ => (id, kind, payload)
          }
        }
      }.toDF("media_id", "kind", "payload")
  }

  /** "Resize": metadata-level transform (a real impl re-encodes the
    * payload — [[resizeImages]]; the stub scales the header dims).
    * Shows the schema-stable transform shape.
    */
  def resize(media: DataFrame, maxSide: Int): DataFrame =
    media.withColumn("meta", struct(
      least(col("meta.width"), lit(maxSide)).as("width"),
      least(col("meta.height"), lit(maxSide)).as("height"),
      col("meta.n_frames").as("n_frames"),
      col("meta.sample_rate").as("sample_rate")))

  /** Frame sampling for video rows: one output row per sampled frame
    * index (stride `every`), distributed via sequence+explode — the
    * W2 calendar-densification idiom applied to frames.
    */
  def sampleFrames(media: DataFrame, every: Int): DataFrame =
    media
      .filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(every))))

  /** Frame-level feature table for video search: sample frames, then
    * one feature vector per (media, frame) — rows keyed
    * (media_id, frame_idx) feed Similarity.* directly, e.g. "find the
    * video frame most similar to this one" via cosineTopK. Decodable
    * GIF payloads take the REAL codec (strip features of the actual
    * frame's pixels); opaque payloads keep the stub — the same
    * dispatch discipline as [[MediaCodec]]. Per-row UDF shape
    * (re-decodes per sampled frame); for the decode-once long form
    * use [[videoFrameFeatures]].
    */
  def frameFeatureTable(media: DataFrame, every: Int, k: Int = 8): DataFrame = {
    val featUdf = udf((payload: Array[Byte], frame: Int) =>
      ImageIoCodec.decodeFrames(payload) match {
        case Some(frames) if frame < frames.length =>
          ImageIoCodec.gridFeatures(frames(frame), k).map(_.toFloat)
        case _ => StubCodec.frameFeatures(payload, frame, k)
      })
    sampleFrames(media, every)
      .select(col("media_id"), col("frame_idx"),
        featUdf(col("payload"), col("frame_idx")).as("embedding"))
  }

  /** Ingest a directory/glob of raw media FILES into the multimodal
    * schema via Spark's `binaryFile` source — the 100 TB entry point:
    * the scan is split across executors, payloads never touch the
    * driver, and `pathGlobFilter`/length pushdown prune at the source.
    * `media_id` is a deterministic hash of the file path (stable across
    * re-ingests); `kind` derives from the extension; the original path
    * and byte length are kept for lineage.
    */
  def ingestFiles(spark: org.apache.spark.sql.SparkSession, glob: String,
                  globFilter: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val ext = lower(regexp_extract(col("path"), "\\.([^./\\\\]+)$", 1))
    globFilter.fold(reader)(g => reader.option("pathGlobFilter", g))
      .load(glob)
      .select(
        xxhash64(col("path")).as("media_id"),
        when(ext.isin("jpg", "jpeg", "png", "gif", "bmp", "tif", "tiff"), "image")
          .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
          .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
          .otherwise("binary").as("kind"),
        col("content").as("payload"),
        lit(null).cast(mediaSchema("meta").dataType).as("meta"),
        col("path").as("source_path"),
        col("length").as("n_bytes"))
  }

  /** Deterministic synthetic media table (test/bench input): payload
    * bytes are a keyed xorshift stream — no external data needed.
    */
  def synthesize(spark: org.apache.spark.sql.SparkSession, n: Int,
                 bytesPerRow: Int = 256): DataFrame = {
    import spark.implicits._
    val kinds = Seq("image", "audio", "video")
    spark.range(n).map { id =>
      val rnd = new java.util.Random(id * 2654435761L + 7)
      val payload = new Array[Byte](bytesPerRow)
      rnd.nextBytes(payload)
      (id, kinds((id % 3).toInt), payload)
    }.toDF("media_id", "kind", "payload")
      .withColumn("meta", lit(null).cast(mediaSchema("meta").dataType))
  }
}
