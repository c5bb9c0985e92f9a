package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal columns: images/audio/video ride through the engine as
  * opaque `binary` payloads with typed metadata; per-record decode /
  * feature-extraction / frame-sampling runs as imperative per-partition
  * batch logic (`Dataset.mapPartitions` — the JVM analogue of a
  * batch-iterating Python `mapInPandas` UDF: one iterator per partition,
  * records streamed, no per-row task overhead).
  *
  * ── CODEC BOUNDARY (no stub remains) ────────────────────────────────
  * Compressed video decode is REAL on both axes: [[AviMjpegCodec]]
  * parses the public RIFF/AVI container and decodes MJPEG ('00dc'
  * JPEG-per-frame) clips with the JDK's own ImageIO reader
  * (qm_avi_stats), and [[graft.operators.Mpeg1]] implements a pure-JVM
  * MPEG-1 video elementary-stream codec (ISO/IEC 11172-2): the full
  * intra path (bitstream parse, VLC tables, dequant, IDCT —
  * qm_mpeg1_stats is bit-exact against a closed-form oracle) plus
  * motion-compensated P-pictures (qm_mpeg1_p_stats) and bidirectional
  * B-pictures with temporal reordering (qm_mpeg1_b_stats). Only D
  * pictures remain outside the subset; streams containing them
  * quarantine loudly (Mpeg1Codec.decode → None) rather than decode
  * wrong. [[StubCodec]]'s "GRFT" envelope is no longer a
  * codec stand-in — it survives only as the opaque-byte fixture of
  * qm_binary_stats (whose point is byte-plumbing, not decoding) and of
  * the generic media-pipeline shape tests.
  *
  * Everything else is REAL:
  *  - [[PpmCodec]]: binary NetPBM P6, complete pure-JVM byte work
  *    (qm_image_stats verifies decoded pixel sums per record against an
  *    independent closed-form oracle).
  *  - [[ImageIoCodec]]: COMPRESSED images (PNG/JPEG/BMP/GIF/TIFF) via
  *    the JDK's `javax.imageio` readers/writers — qm_png_stats decodes
  *    real PNG payloads and hash-matches closed-form pixel sums (PNG is
  *    lossless, so the oracle never needs to see the bytes).
  *  - [[WavCodec]]: PCM audio via `javax.sound.sampled` (WAVE/AU/AIFF
  *    readers ship with the JDK) — qm_audio_stats decodes real RIFF/WAVE
  *    payloads and hash-matches closed-form sample sums.
  *  - [[Y4mCodec]]: UNCOMPRESSED video via the public YUV4MPEG2 (.y4m)
  *    stream format (what ffmpeg/mjpegtools pipe raw video through) —
  *    pure-JVM parse of the stream header + per-frame planar YUV bodies
  *    (4:4:4 and 4:2:0), per-plane pixel sums, and real frame sampling
  *    (every k-th frame extracted as a genuine grayscale P6 payload).
  *    qm_video_stats / qm_frame_sample hash-match closed-form oracles.
  * ─────────────────────────────────────────────────────────────────────
  */
object Multimodal {

  case class MediaRecord(media_id: Long, media_type: String, payload: Array[Byte])
  case class DecodedMedia(media_id: Long, media_type: String,
                          width: Int, height: Int, n_frames: Int)
  case class MediaFeatures(media_id: Long, features: Array[Float])

  /** Fake codec for the synthetic "GRFT" container format:
    * bytes 0-3 magic "GRFT", 4-5 width (BE int16), 6-7 height, 8 frame
    * count, 9+ payload. Deterministic stand-in for a real decoder. */
  object StubCodec {
    val Magic: Array[Byte] = "GRFT".getBytes("US-ASCII")
    val HeaderLen = 9

    def encode(id: Long, mediaType: String, w: Int, h: Int, frames: Int): Array[Byte] = {
      val body = new Array[Byte](w * h min 256)
      var i = 0
      while (i < body.length) { body(i) = ((id * 31 + i * 7) % 251).toByte; i += 1 }
      Magic ++ Array[Byte](
        ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
        ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
        (frames & 0xFF).toByte) ++ body
    }

    def decode(payload: Array[Byte]): Option[(Int, Int, Int)] =
      if (payload.length < HeaderLen || !payload.take(4).sameElements(Magic)) None
      else Some((
        ((payload(4) & 0xFF) << 8) | (payload(5) & 0xFF),
        ((payload(6) & 0xFF) << 8) | (payload(7) & 0xFF),
        payload(8) & 0xFF))

    /** Fake feature vector: 16-bin byte histogram of the body, L1
      * normalized — stands in for a real embedding model. */
    def features(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](16)
      var i = HeaderLen
      while (i < payload.length) { hist((payload(i) & 0xFF) >> 4) += 1f; i += 1 }
      val total = math.max(1f, (payload.length - HeaderLen).toFloat)
      hist.map(_ / total)
    }
  }

  /** REAL image codec: binary NetPBM (P6 / PPM), parsed and emitted as
    * raw bytes with no library dependency. Covers the uncompressed-image
    * leg of the multimodal surface for real — header parse, exact
    * per-channel pixel sums (the feature-extract primitive), and
    * nearest-neighbor resize (a genuine pixel transform). Our encoder
    * never writes `#` comments, so the parser doesn't accept them —
    * payloads from elsewhere should be normalized first. */
  object PpmCodec {
    /** `pixel(i)` supplies byte i of the interleaved RGB body. */
    def encode(w: Int, h: Int, pixel: Int => Int): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val body = new Array[Byte](3 * w * h)
      var i = 0
      while (i < body.length) { body(i) = (pixel(i) & 0xFF).toByte; i += 1 }
      header ++ body
    }

    /** (width, height, body offset), or None when not a well-formed P6
      * with maxval 255 and a complete body. */
    def decodeHeader(p: Array[Byte]): Option[(Int, Int, Int)] = {
      if (p.length < 2 || p(0) != 'P' || p(1) != '6') return None
      var i = 2
      def skipWs(): Unit =
        while (i < p.length &&
          (p(i) == '\n' || p(i) == ' ' || p(i) == '\t' || p(i) == '\r')) i += 1
      def int(): Int = {
        // accumulate in Long and clamp: a huge digit string ("12884901889")
        // must fail the dimension cap below, not wrap Int into a small
        // "valid" value (the clamp keeps the parse position correct)
        var v = 0L; val s = i
        while (i < p.length && p(i) >= '0' && p(i) <= '9') {
          v = v * 10 + (p(i) - '0'); if (v > Int.MaxValue) v = Int.MaxValue
          i += 1
        }
        if (i == s) -1 else v.toInt
      }
      skipWs(); val w = int(); skipWs(); val h = int(); skipWs(); val mx = int()
      // dimension cap (64k per axis) + long arithmetic: an adversarial
      // header like "P6 99999999 99999999" must not overflow 3*w*h into
      // a "valid" negative body length
      if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF || mx != 255 || i >= p.length ||
        !(p(i) == '\n' || p(i) == '\r' || p(i) == ' ' || p(i) == '\t')) None
      else {
        i += 1 // exactly one whitespace byte separates maxval from the body
        if ((p.length - i).toLong < 3L * w * h) None else Some((w, h, i))
      }
    }

    /** Integer-exact per-channel sums over the decoded pixels. */
    def channelSums(p: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
      decodeHeader(p).map { case (w, h, off) =>
        var r = 0L; var g = 0L; var b = 0L
        var i = off
        val end = off + 3 * w * h
        while (i < end) { r += p(i) & 0xFF; g += p(i + 1) & 0xFF; b += p(i + 2) & 0xFF; i += 3 }
        (w, h, r, g, b)
      }

    /** Nearest-neighbor resize to (nw, nh); returns a new P6 payload. */
    def resize(p: Array[Byte], nw: Int, nh: Int): Option[Array[Byte]] =
      decodeHeader(p).map { case (w, h, off) =>
        encode(nw, nh, { i =>
          val pix = i / 3; val c = i % 3
          val x = ((pix % nw).toLong * w / nw).toInt
          val y = ((pix / nw).toLong * h / nh).toInt
          p(off + 3 * (y * w + x) + c) & 0xFF
        })
      }
  }

  /** REAL compressed-image codec backed by the JDK's `javax.imageio`
    * (`java.desktop` module — PNG/JPEG/BMP/GIF/TIFF/WBMP readers and
    * writers ship with this JVM; verified via
    * `ImageIO.getReaderFormatNames()`). Decode is pure in-memory byte
    * work per record — [[init]] disables ImageIO's temp-file cache so
    * executors never touch local disk on the decode path. */
  object ImageIoCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    /** Idempotent per-JVM setup (driver and each executor JVM): decode
      * fully in memory — the default ImageIO disk cache would add a
      * temp-file write per record, a silent I/O tax at 100 TB. */
    private lazy val init: Unit = ImageIO.setUseCache(false)

    /** Encode interleaved-RGB pixels (`pixel(i)` = byte i, the same
      * convention as [[PpmCodec.encode]]) to `format` — "png" (lossless),
      * "jpg", "bmp", "gif", "tiff". */
    def encode(w: Int, h: Int, format: String, pixel: Int => Int): Array[Byte] = {
      init
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var p = 0
      while (p < w * h) {
        img.setRGB(p % w, p / w,
          ((pixel(3 * p) & 0xFF) << 16) | ((pixel(3 * p + 1) & 0xFF) << 8) | (pixel(3 * p + 2) & 0xFF))
        p += 1
      }
      val out = new ByteArrayOutputStream()
      require(ImageIO.write(img, format, out), s"no ImageIO writer for '$format'")
      out.toByteArray
    }

    /** Decode any ImageIO-supported payload; None on corrupt/unknown
      * bytes (ImageIO returns null for unrecognized formats and throws on
      * truncated streams — both map to a dropped record, never a crash). */
    def decode(payload: Array[Byte]): Option[BufferedImage] = {
      init
      try Option(ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Integer-exact per-channel sums over the decoded pixels — the same
      * feature-extract primitive as [[PpmCodec.channelSums]], but over
      * real compressed payloads. */
    def channelSums(payload: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
      decode(payload).map { img =>
        val w = img.getWidth; val h = img.getHeight
        var r = 0L; var g = 0L; var b = 0L
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val px = row(x)
            r += (px >> 16) & 0xFF; g += (px >> 8) & 0xFF; b += px & 0xFF
            x += 1
          }
          y += 1
        }
        (w, h, r, g, b)
      }

    /** Transcode a NetPBM P6 payload to the given ImageIO format
      * (PNG keeps it lossless — the round-trip is byte-exact). */
    def fromPpm(ppm: Array[Byte], format: String): Option[Array[Byte]] =
      PpmCodec.decodeHeader(ppm).map { case (w, h, off) =>
        encode(w, h, format, i => ppm(off + i) & 0xFF)
      }

    /** Transcode any ImageIO-decodable payload to NetPBM P6. */
    def toPpm(payload: Array[Byte]): Option[Array[Byte]] =
      decode(payload).map { img =>
        val w = img.getWidth
        PpmCodec.encode(w, img.getHeight, { i =>
          val pix = i / 3
          val px = img.getRGB(pix % w, pix / w)
          (px >> (16 - 8 * (i % 3))) & 0xFF
        })
      }
  }

  /** REAL audio codec backed by the JDK's `javax.sound.sampled`
    * (WAVE/AU/AIFF readers ship with this JVM; verified via
    * `AudioSystem.getAudioFileTypes`). Encodes/decodes 16-bit signed PCM
    * RIFF/WAVE; stats are integer-exact so they oracle-match closed-form. */
  object WavCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}

    /** The SPI readers, resolved ONCE per JVM. `AudioSystem
      * .getAudioInputStream` re-consults the provider registry under a
      * shared lock on EVERY call — the round-6 10× smoke measured the
      * decode at 28× super-linear (PERF.md, "Round-6 10× scale
      * smoke"), and the isolated decode showed why: 32 threads
      * through that lock run 0.6× the speed of ONE thread (a
      * lock convoy, ~53× per-record CPU inflation). Calling the
      * stateless readers directly restores linear thread scaling.
      * WAVE-first ordering: the other readers reject foreign bytes by
      * THROWING, so probing them first would pay two exception
      * constructions per record. */
    private lazy val fileReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toArray
        .sortBy(r => if (r.getClass.getSimpleName.startsWith("Wave")) 0 else 1)
    }

    /** Writers have the same per-call registry cost on the encode path
      * (`AudioSystem.write` — re-measured 18 s of the 10× smoke's
      * residue after the reader fix); resolved once, WAVE writer only. */
    private lazy val waveWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
    }

    /** Open a payload with the first reader that accepts it — the same
      * resolution `AudioSystem` performs, minus the per-call registry
      * lock. Falls back to `AudioSystem` if the service loader sees no
      * providers (an exotic classloader setup). */
    private def openStream(payload: Array[Byte]): Option[AudioInputStream] = {
      if (fileReaders.isEmpty)
        return Some(AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload)))
      var i = 0
      while (i < fileReaders.length) {
        try return Some(fileReaders(i).getAudioInputStream(new ByteArrayInputStream(payload)))
        catch { case _: UnsupportedAudioFileException => () }
        i += 1
      }
      None
    }

    /** Encode `nFrames` frames of 16-bit signed little-endian PCM;
      * `sample(i)` supplies interleaved channel sample i
      * (i = frame * channels + channel), truncated to 16 bits. */
    def encode(sampleRate: Int, channels: Int, nFrames: Int, sample: Int => Int): Array[Byte] = {
      val n = nFrames * channels
      val data = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(i)
        data(2 * i) = (s & 0xFF).toByte
        data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, nFrames.toLong)
      val out = new ByteArrayOutputStream()
      waveWriter match {
        case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, out)
        case None    => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      }
      out.toByteArray
    }

    /** Decode a 16-bit PCM payload → (sample_rate, channels, interleaved
      * samples). None on corrupt/unsupported bytes — the feature-extract
      * twin of [[decodeStats]], materializing the samples instead of
      * folding them. */
    def decodeSamples(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      try {
        val ais = openStream(payload) match {
          case Some(s) => s
          case None => return None
        }
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 ||
              f.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            val out = new Array[Int](n)
            var i = 0
            if (f.isBigEndian)
              while (i < n) { out(i) = (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF); i += 1 }
            else
              while (i < n) { out(i) = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF); i += 1 }
            Some((f.getSampleRate.toInt, f.getChannels, out))
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Decode a 16-bit PCM payload (any format `AudioSystem` can parse —
      * WAVE/AU/AIFF, either endianness) → (sample_rate, channels,
      * n_frames, sum of all samples). None on corrupt/unsupported bytes. */
    def decodeStats(payload: Array[Byte]): Option[(Int, Int, Long, Long)] = {
      try {
        val ais = openStream(payload) match {
          case Some(s) => s
          case None => return None
        }
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 ||
              f.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            var sum = 0L
            var i = 0
            if (f.isBigEndian)
              while (i < n) { sum += (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF); i += 1 }
            else
              while (i < n) { sum += (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF); i += 1 }
            Some((f.getSampleRate.toInt, f.getChannels, (n / f.getChannels).toLong, sum))
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** REAL uncompressed-video codec: YUV4MPEG2 (.y4m), the public
    * raw-video stream format ffmpeg/mjpegtools exchange (stream header
    * `YUV4MPEG2 W.. H.. F..:.. C444\n`, then `FRAME\n` + planar YUV
    * bytes per frame). Pure-JVM byte work, same hardening discipline as
    * [[PpmCodec]]: dimension caps, Long body arithmetic, strict frame
    * accounting (a truncated or over-long stream is corrupt, not
    * "close enough"). 4:4:4 and 4:2:0 chroma are supported — we emit
    * 4:4:4 so per-plane sums stay integer-exact and closed-form. */
  object Y4mCodec {
    private val Magic = "YUV4MPEG2".getBytes("US-ASCII")
    private val FrameMagic = "FRAME".getBytes("US-ASCII")

    /** `sample(f, i)` supplies byte i of frame f's planar body
      * (i in [0, 3wh): Y plane, then U, then V — C444). */
    def encode(w: Int, h: Int, frames: Int, sample: (Int, Int) => Int): Array[Byte] = {
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
      val fb = 3 * w * h
      val out = new java.io.ByteArrayOutputStream(header.length + frames * (6 + fb))
      out.write(header)
      var f = 0
      while (f < frames) {
        out.write(FrameMagic); out.write('\n')
        var i = 0
        while (i < fb) { out.write(sample(f, i) & 0xFF); i += 1 }
        f += 1
      }
      out.toByteArray
    }

    /** Parsed stream geometry: luma is always w*h per frame; chroma
      * plane size depends on subsampling (w*h for C444, (w/2)*(h/2)
      * for C420 and friends). `off` = first byte after the header. */
    case class Geometry(w: Int, h: Int, chromaPlane: Int, off: Int) {
      def frameBytes: Int = w * h + 2 * chromaPlane
    }

    /** Parse the stream header. None unless magic, sane dimensions
      * (0 < w,h ≤ 64k; C420 requires even dims), and a known chroma tag
      * (absent = C420, the spec default). Unknown parameter tags (X
      * metadata, interlacing, aspect) are ignored, per the format. */
    def decodeHeader(p: Array[Byte]): Option[Geometry] = {
      if (p.length < Magic.length || !p.take(Magic.length).sameElements(Magic)) return None
      var end = Magic.length
      while (end < p.length && p(end) != '\n') end += 1
      if (end >= p.length || end > 512) return None // header line unterminated or absurd
      // all-digit parse, clamped: "12884901889" must fail the dimension
      // cap below, not wrap Int into a small "valid" value (same
      // hardening as PpmCodec.int)
      def num(s: String): Long = {
        if (s.isEmpty) return -1L
        var v = 0L; var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c < '0' || c > '9') return -1L
          v = v * 10 + (c - '0'); if (v > Int.MaxValue) v = Int.MaxValue
          i += 1
        }
        v
      }
      val params = new String(p, Magic.length, end - Magic.length, "US-ASCII")
        .split(' ').filter(_.nonEmpty)
      var w = -1L; var h = -1L; var chroma = "420"
      params.foreach { t =>
        t.charAt(0) match {
          case 'W' => w = num(t.drop(1))
          case 'H' => h = num(t.drop(1))
          case 'C' => chroma = t.drop(1)
          case _   => () // F/I/A/X: irrelevant to the byte layout we read
        }
      }
      // dimension cap + Long arithmetic: 64k×64k×3 overflows Int, and an
      // overflowed frameBytes would under-demand body bytes below
      if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF ||
          3L * w * h > Int.MaxValue) return None
      val chromaPlane =
        if (chroma == "444") w * h
        else if (chroma.startsWith("420"))
          if (w % 2 == 0 && h % 2 == 0) (w / 2) * (h / 2) else return None
        else return None // 422/mono/alpha variants: unsupported, not misread
      Some(Geometry(w.toInt, h.toInt, chromaPlane.toInt, end + 1))
    }

    /** Offsets of each frame's planar body. None if any FRAME marker is
      * malformed, a body is truncated, or trailing bytes remain — a
      * 100 TB ingest must count a half-written stream as corrupt. */
    def frameOffsets(p: Array[Byte], g: Geometry): Option[Array[Int]] = {
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = g.off
      while (i < p.length) {
        if (i + FrameMagic.length > p.length ||
            !java.util.Arrays.equals(p, i, i + FrameMagic.length,
              FrameMagic, 0, FrameMagic.length)) return None
        i += FrameMagic.length
        while (i < p.length && p(i) != '\n') i += 1 // frame params: ignored
        if (i >= p.length) return None
        i += 1
        if (p.length - i < g.frameBytes) return None
        offs += i
        i += g.frameBytes
      }
      Some(offs.toArray)
    }

    /** (w, h, n_frames, y_sum, u_sum, v_sum) — integer-exact per-plane
      * sums over every frame; the video feature-extract primitive. */
    def planeSums(p: Array[Byte]): Option[(Int, Int, Int, Long, Long, Long)] =
      decodeHeader(p).flatMap { g =>
        frameOffsets(p, g).map { offs =>
          var y = 0L; var u = 0L; var v = 0L
          val luma = g.w * g.h
          offs.foreach { o =>
            var i = 0
            while (i < luma) { y += p(o + i) & 0xFF; i += 1 }
            while (i < luma + g.chromaPlane) { u += p(o + i) & 0xFF; i += 1 }
            while (i < luma + 2 * g.chromaPlane) { v += p(o + i) & 0xFF; i += 1 }
          }
          (g.w, g.h, offs.length, y, u, v)
        }
      }

    /** Extract frame `f`'s luma plane as a genuine grayscale P6 payload
      * (R=G=B=Y) — the keyframe-thumbnail step of a video ingest
      * pipeline, feeding the image operators unchanged. */
    def frameToPpm(p: Array[Byte], g: Geometry, frameOff: Int): Array[Byte] =
      PpmCodec.encode(g.w, g.h, i => p(frameOff + i / 3) & 0xFF)
  }

  /** REAL compressed video: MJPEG-in-AVI. The container is the public
    * RIFF/AVI format — pure-JVM byte work, the same parse class as
    * [[Y4mCodec]] — and every '00dc' chunk in the 'movi' list is a
    * complete baseline JPEG, decoded by the JDK's own ImageIO reader
    * ([[ImageIoCodec]]). That closes the compressed-video leg for the
    * one compressed format a stock JVM can decode end to end; MP4/H.264
    * is now demuxed for real at the container + parameter-set level by
    * [[Mp4]] (box walk, sample tables, SPS, keyframe extraction) — only
    * H.264 SLICE pixel decode remains excluded (no JDK codec, no
    * ffmpeg/javacv jars on the box).
    *
    * Decode is quarantine-strict like the other codecs: any malformed
    * or truncated structure — bad magic, a chunk overrunning its
    * parent, a frame ImageIO rejects, a frame whose dimensions disagree
    * with the stream header — answers None for the whole record. */
  object AviMjpegCodec {
    import java.io.ByteArrayOutputStream

    private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    }
    private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
      le16(out, v & 0xFFFF); le16(out, (v >>> 16) & 0xFFFF)
    }
    private def fcc(out: ByteArrayOutputStream, s: String): Unit =
      out.write(s.getBytes("US-ASCII"), 0, 4)

    private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(9 + body.length)
      fcc(out, id); le32(out, body.length); out.write(body, 0, body.length)
      if (body.length % 2 == 1) out.write(0) // RIFF chunks pad to even
      out.toByteArray
    }
    private def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(12 + body.length)
      fcc(out, "LIST"); le32(out, body.length + 4); fcc(out, kind)
      out.write(body, 0, body.length)
      out.toByteArray
    }

    private def avih(w: Int, h: Int, n: Int, maxFrame: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream(56)
      le32(out, 40000) // µs/frame: 25 fps
      le32(out, 0); le32(out, 0); le32(out, 0) // maxBytesPerSec, padding, flags
      le32(out, n); le32(out, 0); le32(out, 1) // totalFrames, initial, 1 stream
      le32(out, maxFrame); le32(out, w); le32(out, h)
      var i = 0; while (i < 4) { le32(out, 0); i += 1 } // dwReserved[4]
      out.toByteArray
    }
    private def strh(w: Int, h: Int, n: Int, maxFrame: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream(56)
      fcc(out, "vids"); fcc(out, "MJPG")
      le32(out, 0); le16(out, 0); le16(out, 0); le32(out, 0) // flags, prio, lang, initial
      le32(out, 1); le32(out, 25) // scale/rate: 25 fps
      le32(out, 0); le32(out, n) // start, length (frames)
      le32(out, maxFrame); le32(out, -1); le32(out, 0) // bufSize, quality, sampleSize
      le16(out, 0); le16(out, 0); le16(out, w); le16(out, h) // rcFrame
      out.toByteArray
    }
    private def strf(w: Int, h: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream(40) // BITMAPINFOHEADER
      le32(out, 40); le32(out, w); le32(out, h)
      le16(out, 1); le16(out, 24) // planes, bit count
      fcc(out, "MJPG"); le32(out, 3 * w * h)
      le32(out, 0); le32(out, 0); le32(out, 0); le32(out, 0)
      out.toByteArray
    }

    /** Wrap pre-encoded JPEG frames (all w×h) into a playable
      * single-stream MJPEG AVI. */
    def encode(w: Int, h: Int, jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
      require(jpegFrames.nonEmpty, "an AVI needs at least one frame")
      val maxFrame = jpegFrames.iterator.map(_.length).max
      val hdrl = list("hdrl",
        chunk("avih", avih(w, h, jpegFrames.size, maxFrame)) ++
          list("strl",
            chunk("strh", strh(w, h, jpegFrames.size, maxFrame)) ++
              chunk("strf", strf(w, h))))
      val movi = list("movi", jpegFrames.iterator.map(chunk("00dc", _))
        .foldLeft(Array.emptyByteArray)(_ ++ _))
      val body = hdrl ++ movi
      val out = new ByteArrayOutputStream(12 + body.length)
      fcc(out, "RIFF"); le32(out, body.length + 4); fcc(out, "AVI ")
      out.write(body, 0, body.length)
      out.toByteArray
    }

    private def rd32(p: Array[Byte], i: Int): Long =
      (p(i) & 0xFFL) | ((p(i + 1) & 0xFFL) << 8) |
        ((p(i + 2) & 0xFFL) << 16) | ((p(i + 3) & 0xFFL) << 24)
    private def isFcc(p: Array[Byte], i: Int, s: String): Boolean =
      i + 4 <= p.length && {
        val b = s.getBytes("US-ASCII")
        p(i) == b(0) && p(i + 1) == b(1) && p(i + 2) == b(2) && p(i + 3) == b(3)
      }

    /** Parse the container: (width, height, per-frame JPEG payloads).
      * Every size field is bounds-checked against its PARENT's extent —
      * a hostile length can never read outside the payload. */
    def decode(p: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] = {
      if (p.length < 12 || !isFcc(p, 0, "RIFF") || !isFcc(p, 8, "AVI ")) return None
      val riffSize = rd32(p, 4)
      if (riffSize < 4 || 8 + riffSize > p.length) return None
      val end = (8 + riffSize).toInt
      var w = -1L; var h = -1L
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var i = 12
      while (i + 8 <= end) {
        val size = rd32(p, i + 4)
        if (size < 0 || i + 8 + size > end) return None
        if (isFcc(p, i, "LIST")) {
          if (size < 4) return None
          if (isFcc(p, i + 8, "hdrl")) {
            // avih must lead the header list (per the AVI spec)
            val j = i + 12
            if (!isFcc(p, j, "avih")) return None
            val asz = rd32(p, j + 4)
            if (asz < 40 || j + 8 + asz > end) return None
            w = rd32(p, j + 8 + 32); h = rd32(p, j + 8 + 36)
          } else if (isFcc(p, i + 8, "movi")) {
            var j = i + 12
            val mEnd = i + 8 + size.toInt
            while (j + 8 <= mEnd) {
              val csz = rd32(p, j + 4)
              if (csz < 0 || j + 8 + csz > mEnd) return None
              if (isFcc(p, j, "00dc") || isFcc(p, j, "00db"))
                frames += java.util.Arrays.copyOfRange(p, j + 8, (j + 8 + csz).toInt)
              j += 8 + csz.toInt + (csz.toInt & 1)
            }
          }
        }
        i += 8 + size.toInt + (size.toInt & 1)
      }
      if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF || frames.isEmpty) None
      else Some((w.toInt, h.toInt, frames.toSeq))
    }

    /** (w, h, n_frames, r_sum, g_sum, b_sum): container parse + per-frame
      * ImageIO JPEG decode, integer-exact channel sums over every pixel
      * of every frame. None if the container OR any frame is corrupt —
      * a clip with an undecodable frame is quarantined whole, never
      * partially summed. */
    def frameStats(p: Array[Byte]): Option[(Int, Int, Int, Long, Long, Long)] =
      decode(p).flatMap { case (w, h, frames) =>
        frames.foldLeft(Option((0L, 0L, 0L))) {
          case (Some((r, g, b)), f) =>
            ImageIoCodec.channelSums(f) match {
              case Some((fw, fh, fr, fg, fb)) if fw == w && fh == h =>
                Some((r + fr, g + fg, b + fb))
              case _ => None
            }
          case (none, _) => none
        }.map { case (r, g, b) => (w, h, frames.size, r, g, b) }
      }
  }

  case class ImageRecord(media_id: Long, payload: Array[Byte])
  case class ImageStats(media_id: Long, width: Long, height: Long,
                        r_sum: Long, g_sum: Long, b_sum: Long)
  case class AudioRecord(media_id: Long, payload: Array[Byte])
  case class AudioStats(media_id: Long, sample_rate: Long, channels: Long,
                        n_frames: Long, amp_sum: Long)
  case class VideoRecord(media_id: Long, payload: Array[Byte])
  case class VideoStats(media_id: Long, width: Long, height: Long,
                        n_frames: Long, y_sum: Long, u_sum: Long, v_sum: Long)

  /** Synthetic PPM images derived deterministically from `documents`:
    * dimensions from doc stats, pixel bytes from the same LCG-ish formula
    * the oracle reproduces closed-form. Real P6 payloads — any PPM tool
    * could open them. */
  def syntheticPpm(spark: SparkSession, d: String): Dataset[ImageRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val w = (8 + id % 13).toInt; val h = (6 + id % 9).toInt
        ImageRecord(id, PpmCodec.encode(w, h, i => ((id * 31 + i * 7) % 251).toInt))
      }
  }

  /** Batch-iterating decode of real P6 payloads → per-record stats; the
    * feature-extract step of an image ingest pipeline (corrupt payloads
    * are dropped). */
  def imageStats(images: Dataset[ImageRecord]): Dataset[ImageStats] = {
    import images.sparkSession.implicits._
    images.mapPartitions(_.flatMap { r =>
      PpmCodec.channelSums(r.payload).map { case (w, h, rs, gs, bs) =>
        ImageStats(r.media_id, w.toLong, h.toLong, rs, gs, bs)
      }
    })
  }

  /** Resize every image (the thumbnail/normalize step); payloads stay
    * real P6 end to end. */
  def resizeImages(images: Dataset[ImageRecord], nw: Int, nh: Int): Dataset[ImageRecord] = {
    import images.sparkSession.implicits._
    images.mapPartitions(_.flatMap { r =>
      PpmCodec.resize(r.payload, nw, nh).map(p => ImageRecord(r.media_id, p))
    })
  }

  /** [[syntheticPpm]] with PLANTED perceptual near-duplicates: every
    * media_id ≡ 5 (mod 17) image re-renders the id−3 donor's pixels
    * with a +4 brightness shift (the formula's 251-modulus caps values
    * at 254, so the shift can never clamp). Brightness shifts preserve
    * every pairwise pixel comparison — the invariance class perceptual
    * hashing is FOR — so the clone dHashes identically while byte-level
    * exact dedup would miss it. */
  def syntheticPpmShifted(spark: SparkSession, d: String): Dataset[ImageRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val clone = id % 17 == 5 && id >= 3
        val src = if (clone) id - 3 else id
        val dlt = if (clone) 4 else 0
        val w = (8 + src % 13).toInt; val h = (6 + src % 9).toInt
        ImageRecord(id, PpmCodec.encode(w, h,
          i => ((src * 31 + i * 7) % 251 + dlt).toInt))
      }
  }

  /** 64-bit difference hash (dHash — the classic perceptual image
    * fingerprint, public knowledge): nearest-neighbor resize to 9×8,
    * integer-mean grayscale, one bit per horizontal gradient sign
    * (`gray[y][x+1] > gray[y][x]`), rows packed low-bit-first into two
    * hex chars each. Robust to brightness/contrast shifts (monotone
    * per-pixel maps preserve every comparison) — the image-modality twin
    * of [[graft.operators.Dedup]]'s text fingerprints. Corrupt payloads
    * are dropped, same contract as [[imageStats]]. */
  def imageDHash(images: Dataset[ImageRecord]): DataFrame = {
    import images.sparkSession.implicits._
    images.mapPartitions(_.flatMap { r =>
      PpmCodec.resize(r.payload, 9, 8).flatMap { rp =>
        PpmCodec.decodeHeader(rp).map { case (_, _, off) =>
          def gray(y: Int, x: Int): Int = {
            val i = off + 3 * (y * 9 + x)
            ((rp(i) & 0xFF) + (rp(i + 1) & 0xFF) + (rp(i + 2) & 0xFF)) / 3
          }
          val hex = (0 until 8).map { y =>
            var b = 0
            var x = 0
            while (x < 8) { if (gray(y, x + 1) > gray(y, x)) b |= 1 << x; x += 1 }
            f"$b%02x"
          }.mkString
          (r.media_id, hex)
        }
      }
    }).toDF("media_id", "dhash")
  }

  /** QM10 — perceptual dedup across the image corpus: dHash every
    * image, keep the min-id representative of each hash group. The
    * planted brightness-shifted clones ([[syntheticPpmShifted]]) must
    * collapse onto their donors; the oracle recomputes the ENTIRE
    * pipeline closed-form (pixel formula → resize coordinate map →
    * integer-mean gray → gradient bits → hex), so a hash match proves
    * decode, resize, grayscale, bit packing, and the dedup grouping all
    * at once — and any natural hash collision between distinct images
    * agrees cross-engine by construction. */
  def qmDhashDedup(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    imageDHash(syntheticPpmShifted(spark, d))
      .withColumn("kept",
        min(col("media_id")).over(Window.partitionBy("dhash")) === col("media_id"))
      .select("media_id", "dhash", "kept")
      .orderBy("media_id")
  }

  /** Synthetic COMPRESSED images derived deterministically from
    * `documents`: real PNG payloads written by the JDK's ImageIO encoder
    * (any image tool could open them). PNG is lossless, so the pixel
    * formula survives the encode → decode round trip exactly and the
    * oracle can recompute sums closed-form without seeing a byte. */
  def syntheticPng(spark: SparkSession, d: String): Dataset[ImageRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val w = (6 + id % 11).toInt; val h = (4 + id % 7).toInt
        ImageRecord(id, ImageIoCodec.encode(w, h, "png", i => ((id * 37 + i * 11) % 253).toInt))
      }
  }

  /** Batch-iterating decode of compressed payloads (PNG/JPEG/BMP/…) via
    * the real ImageIO readers → per-record stats; corrupt payloads are
    * dropped. Same plumbing shape as [[imageStats]], different codec. */
  def imageStatsCompressed(images: Dataset[ImageRecord]): Dataset[ImageStats] = {
    import images.sparkSession.implicits._
    images.mapPartitions(_.flatMap { r =>
      ImageIoCodec.channelSums(r.payload).map { case (w, h, rs, gs, bs) =>
        ImageStats(r.media_id, w.toLong, h.toLong, rs, gs, bs)
      }
    })
  }

  /** Synthetic audio derived deterministically from `documents`: real
    * 16-bit PCM RIFF/WAVE payloads written by `javax.sound.sampled` (any
    * audio tool could play them). Sample values are integers, so stats
    * are exact and the oracle recomputes them closed-form. */
  def syntheticWav(spark: SparkSession, d: String): Dataset[AudioRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val rate = (8000 * (1 + id % 3)).toInt
        val ch = (1 + id % 2).toInt
        val frames = (120 + id % 77).toInt
        AudioRecord(id, WavCodec.encode(rate, ch, frames,
          i => ((id * 131 + i * 17) % 4001 - 2000).toInt))
      }
  }

  /** Windowed audio FEATURE EXTRACTION over decoded PCM — the
    * per-segment signal descriptors an audio-data pipeline computes
    * before filtering or embedding (speech/music/silence triage):
    * per 64-frame window of channel 0, the ENERGY (sum of squared
    * samples — integer-exact, so the oracle recomputes it closed-form;
    * RMS is `sqrt(energy/n)` for anyone who wants the float) and the
    * ZERO-CROSSING count (adjacent-sample sign products < 0, pairs
    * window-local). Real `AudioSystem` decode, same quarantine contract
    * as [[audioStats]]; the tail window is partial, never padded. */
  def audioFeatures(audio: Dataset[AudioRecord], window: Int = 64): DataFrame = {
    import audio.sparkSession.implicits._
    audio.mapPartitions(_.flatMap { r =>
      WavCodec.decodeSamples(r.payload).toSeq.flatMap { case (_, ch, samples) =>
        val frames = samples.length / ch
        (0 until (frames + window - 1) / window).map { w =>
          val lo = w * window
          val hi = math.min(frames, lo + window)
          var energy = 0L
          var zc = 0L
          var f = lo
          while (f < hi) {
            val s = samples(f * ch).toLong
            energy += s * s
            if (f + 1 < hi &&
              s * samples((f + 1) * ch).toLong < 0) zc += 1
            f += 1
          }
          (r.media_id, w.toLong, (hi - lo).toLong, energy, zc)
        }
      }
    }).toDF("media_id", "win", "n_frames", "energy", "crossings")
  }

  /** QM11 — [[audioFeatures]] over the synthetic WAV corpus; oracle
    * recomputes every window's energy and crossing count closed-form
    * from the sample formula, so a hash match proves the real
    * AudioSystem decode + windowing + integer feature math end to
    * end. */
  def qmAudioFeatures(spark: SparkSession, d: String): DataFrame =
    audioFeatures(syntheticWav(spark, d))
      .orderBy("media_id", "win")

  /** Batch-iterating decode of PCM audio payloads via the real
    * `AudioSystem` parser → per-record stats; corrupt payloads dropped. */
  def audioStats(audio: Dataset[AudioRecord]): Dataset[AudioStats] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions(_.flatMap { r =>
      WavCodec.decodeStats(r.payload).map { case (rate, ch, frames, sum) =>
        AudioStats(r.media_id, rate.toLong, ch.toLong, frames, sum)
      }
    })
  }

  /** Synthetic video derived deterministically from `documents`: real
    * YUV4MPEG2 streams (4:4:4, a few small frames each) — ffmpeg could
    * play them. Frame bytes are integers from a closed-form formula, so
    * per-plane sums oracle exactly. */
  def syntheticY4m(spark: SparkSession, d: String): Dataset[VideoRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
        val frames = (2 + id % 4).toInt
        VideoRecord(id, Y4mCodec.encode(w, h, frames,
          (f, i) => ((id * 29 + f * 101 + i * 13) % 250).toInt))
      }
  }

  /** Batch-iterating decode of real .y4m payloads → per-video stats
    * (per-plane pixel sums over all frames); corrupt payloads dropped. */
  def videoStats(videos: Dataset[VideoRecord]): Dataset[VideoStats] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.flatMap { r =>
      Y4mCodec.planeSums(r.payload).map { case (w, h, n, y, u, v) =>
        VideoStats(r.media_id, w.toLong, h.toLong, n.toLong, y, u, v)
      }
    })
  }

  /** REAL frame sampling: every `stride`-th frame of each video becomes
    * one output row carrying the frame's luma plane as a genuine
    * grayscale P6 payload — the keyframe-extraction step of a video
    * ingest pipeline, exploded so frames shuffle/partition independently
    * of their source video and feed the image operators unchanged. */
  def sampleVideoFrames(videos: Dataset[VideoRecord], stride: Int): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.flatMap { r =>
      (for {
        g    <- Y4mCodec.decodeHeader(r.payload)
        offs <- Y4mCodec.frameOffsets(r.payload, g)
      } yield (0 until offs.length by stride).map { f =>
        (r.media_id, f.toLong, Y4mCodec.frameToPpm(r.payload, g, offs(f)))
      }).getOrElse(Seq.empty)
    }).toDF("media_id", "frame_idx", "frame")
  }

  /** Scene-change (keyframe) detection over real .y4m streams: the
    * luma-plane SAD (sum of absolute differences) between each frame
    * and its predecessor — the standard shot-boundary signal — with
    * frames whose SAD exceeds `threshold` flagged as cuts. This is the
    * selection step before [[sampleVideoFrames]]-style extraction: a
    * stride keeps every k-th frame regardless of content; SAD keeps the
    * frames where the content actually changed.
    *
    * Per-record byte work inside one `mapPartitions` pass (no shuffle
    * at all — the diff needs only adjacent frames of the SAME payload);
    * corrupt streams are dropped, mirroring [[videoStats]]. */
  def sceneChangeStats(videos: Dataset[VideoRecord], threshold: Long): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.flatMap { r =>
      (for {
        g    <- Y4mCodec.decodeHeader(r.payload)
        offs <- Y4mCodec.frameOffsets(r.payload, g)
      } yield {
        val n = g.w * g.h
        val p = r.payload
        (1 until offs.length).map { f =>
          val o0 = offs(f - 1); val o1 = offs(f)
          var s = 0L; var i = 0
          while (i < n) {
            s += math.abs((p(o1 + i) & 0xFF) - (p(o0 + i) & 0xFF))
            i += 1
          }
          (r.media_id, f.toLong, s)
        }
      }).getOrElse(Seq.empty)
    }).toDF("media_id", "frame_idx", "diff_sum")
      .withColumn("is_cut", col("diff_sum") > threshold)
  }

  /** QM9 — [[sceneChangeStats]] over the synthetic .y4m corpus. The
    * frame bytes are integer formulas, so the oracle recomputes every
    * per-frame SAD closed-form — a hash match proves the y4m parse +
    * adjacent-frame differencing byte-exact, including the flag. */
  def qmSceneChange(spark: SparkSession, d: String): DataFrame =
    sceneChangeStats(syntheticY4m(spark, d), threshold = 2000L)
      .orderBy("media_id", "frame_idx")

  /** Decode metadata from the payload header — batch-iterating per
    * partition; corrupt records are dropped (count them upstream with a
    * filter on [[StubCodec.decode]] if needed). */
  def decodeMeta(media: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      StubCodec.decode(r.payload).map { case (w, h, f) =>
        DecodedMedia(r.media_id, r.media_type, w, h, f)
      }
    })
  }

  /** Per-record feature extraction (the embed step of an ingest
    * pipeline). Output pairs with [[Similarity.annTopK]] for dedup. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r => MediaFeatures(r.media_id, StubCodec.features(r.payload))))
  }

  /** Frame sampling for video-typed records: every `stride`-th body byte
    * run becomes a "frame" (stub — a real impl slices keyframes). Output
    * is one row per sampled frame, exploded — the shape that lets frames
    * shuffle/partition independently of their source video. */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      StubCodec.decode(r.payload).toSeq.flatMap { case (_, _, frames) =>
        (0 until frames by stride).map { f =>
          val body = r.payload.drop(StubCodec.HeaderLen)
          val chunk = if (body.isEmpty) Array.emptyByteArray
                      else body.slice(f % body.length, math.min((f % body.length) + 16, body.length))
          (r.media_id, f, chunk)
        }
      }
    }).toDF("media_id", "frame_idx", "frame")
  }

  /** Synthetic media table derived deterministically from `documents`
    * (no media files ship with the testdata): doc text bytes become the
    * payload body, doc stats become dimensions. */
  def syntheticMedia(spark: SparkSession, d: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .as[(Long, String, Long)])
      .map { case (id, lang, n) =>
        val mediaType = if (id % 3 == 0) "video" else if (id % 3 == 1) "image" else "audio"
        val w = (64 + (n % 128)).toInt; val h = (48 + (id % 96)).toInt
        val frames = if (mediaType == "video") (8 + id % 24).toInt else 1
        MediaRecord(id, mediaType, StubCodec.encode(id, mediaType, w, h, frames))
      }
  }

  /** QM1 — binary-column aggregate over the synthetic media: payload
    * byte sizes per media type. The oracle reproduces the payload length
    * arithmetic (header + min(w*h, 256)) from the same doc columns —
    * checking that the binary plumbing preserves every byte. */
  def qmBinaryStats(spark: SparkSession, d: String): DataFrame =
    syntheticMedia(spark, d).toDF()
      .select(col("media_type"), length(col("payload")).cast("long").as("bytes"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"))
      .orderBy("media_type")

  /** QM2 — REAL image decode, verified per record: encode documents as
    * genuine P6 payloads, decode them back with [[PpmCodec]], and emit
    * exact per-channel pixel sums. The oracle never sees the bytes — it
    * recomputes every sum closed-form from the generator formula — so a
    * hash match proves the encode → binary column → decode → pixel-sum
    * path is byte-exact end to end. */
  def qmImageStats(spark: SparkSession, d: String): DataFrame =
    imageStats(syntheticPpm(spark, d)).toDF()
      .orderBy("media_id")

  /** QM3 — REAL compressed-image decode: encode documents as genuine PNG
    * payloads with the JDK ImageIO writer, decode them back with the
    * ImageIO reader, emit exact per-channel pixel sums. PNG is lossless,
    * so the closed-form oracle (which never sees the bytes) still works —
    * a hash match proves the compress → binary column → decompress →
    * pixel-sum path is byte-exact end to end with a real codec. */
  def qmPngStats(spark: SparkSession, d: String): DataFrame =
    imageStatsCompressed(syntheticPng(spark, d)).toDF()
      .orderBy("media_id")

  /** QM4 — REAL audio decode: encode documents as genuine 16-bit PCM
    * RIFF/WAVE payloads, decode them back through `AudioSystem`, emit
    * format metadata + the exact sum of all samples. Integer samples ⇒
    * the oracle recomputes everything closed-form. */
  def qmAudioStats(spark: SparkSession, d: String): DataFrame =
    audioStats(syntheticWav(spark, d)).toDF()
      .orderBy("media_id")

  case class ImageDecodeStatus(media_id: Long, status: String, width: Long,
                               height: Long, r_sum: Long, g_sum: Long, b_sum: Long)

  /** Decode with QUARANTINE instead of silent drop: every input record
    * emits exactly one row, corrupt payloads carrying status "corrupt"
    * (zeroed stats) — at 100 TB a decoder that silently drops rows hides
    * data loss; a real ingest counts, reports, and re-queues its
    * failures. Same batch-iterating shape as [[imageStats]]. */
  def imageStatsQuarantined(images: Dataset[ImageRecord]): Dataset[ImageDecodeStatus] = {
    import images.sparkSession.implicits._
    images.mapPartitions(_.map { r =>
      PpmCodec.channelSums(r.payload) match {
        case Some((w, h, rs, gs, bs)) =>
          ImageDecodeStatus(r.media_id, "ok", w.toLong, h.toLong, rs, gs, bs)
        case None =>
          ImageDecodeStatus(r.media_id, "corrupt", 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  /** The [[syntheticPpm]] corpus with DETERMINISTIC corruption injected:
    * every doc_id divisible by 7 ships only the first half of its
    * payload (always shorter than the declared body ⇒ always rejected).
    * The oracle reproduces the same arithmetic split closed-form. */
  def syntheticPpmCorrupted(spark: SparkSession, d: String): Dataset[ImageRecord] = {
    import spark.implicits._
    syntheticPpm(spark, d).map { r =>
      if (r.media_id % 7 == 0) ImageRecord(r.media_id, r.payload.take(r.payload.length / 2))
      else r
    }
  }

  /** QM7 — the quarantine contract, verified: inject corruption into a
    * known fraction of real payloads, decode with [[imageStatsQuarantined]],
    * and report per-status counts + pixel mass. The oracle recomputes
    * both branches closed-form — a hash match proves no record is lost
    * OR misclassified in either direction. */
  def qmQuarantine(spark: SparkSession, d: String): DataFrame =
    imageStatsQuarantined(syntheticPpmCorrupted(spark, d)).toDF()
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        coalesce(sum("r_sum"), lit(0L)).as("r_total"),
        coalesce(sum("g_sum"), lit(0L)).as("g_total"))
      .orderBy("status")

  /** QM8 — the resize transform, verified per pixel: synthesize real P6
    * payloads, nearest-neighbor-resize every one to 4×3, decode the
    * resized payloads back and emit channel sums. Floor-mapped source
    * coordinates are pure integer arithmetic, so the oracle recomputes
    * every resized pixel closed-form — a hash match proves the resize
    * touches exactly the pixels it should and nothing else. */
  def qmResizeStats(spark: SparkSession, d: String): DataFrame =
    imageStats(resizeImages(syntheticPpm(spark, d), 4, 3)).toDF()
      .orderBy("media_id")

  /** QM5 — REAL video decode: encode documents as genuine YUV4MPEG2
    * streams, decode them back with [[Y4mCodec]], emit per-plane pixel
    * sums over every frame. Integer frame bytes ⇒ the oracle recomputes
    * all three plane sums closed-form (nested over frames × plane
    * bytes) without seeing a byte. */
  def qmVideoStats(spark: SparkSession, d: String): DataFrame =
    videoStats(syntheticY4m(spark, d)).toDF()
      .orderBy("media_id")

  /** QM6 — REAL frame sampling, verified per frame: every 2nd frame of
    * each .y4m stream is extracted as a genuine grayscale P6 payload,
    * then decoded back through [[PpmCodec]] — a hash match on the luma
    * sums proves the y4m parse → frame slice → P6 encode → P6 decode
    * chain is byte-exact end to end. */
  def qmFrameSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    sampleVideoFrames(syntheticY4m(spark, d), stride = 2)
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, f, ppm) =>
        PpmCodec.channelSums(ppm).map { case (_, _, ys, _, _) => (id, f, ys) }
      })
      .toDF("media_id", "frame_idx", "y_sum")
      .orderBy("media_id", "frame_idx")
  }

  /** Synthetic MJPEG-in-AVI clips derived deterministically from
    * `documents` — real ImageIO JPEG frames inside a real RIFF/AVI
    * container; any MJPEG-capable player could open them. */
  def syntheticAvi(spark: SparkSession, d: String): Dataset[VideoRecord] = {
    import spark.implicits._
    Tables.fanOut(Tables.documents(spark, d)
      .select(col("doc_id"))
      .as[Long])
      .map { id =>
        val w = (8 + id % 13).toInt; val h = (6 + id % 9).toInt
        val frames = (1 + id % 4).toInt
        val jpegs = (0 until frames).map(f =>
          ImageIoCodec.encode(w, h, "jpg",
            i => ((id * 31 + f * 101 + i * 7) % 251).toInt))
        VideoRecord(id, AviMjpegCodec.encode(w, h, jpegs))
      }
  }

  /** Batch-iterating decode of MJPEG/AVI payloads → per-clip stats
    * (channel sums over all decoded frames); corrupt clips dropped. */
  def aviStats(videos: Dataset[VideoRecord]): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.flatMap { r =>
      AviMjpegCodec.frameStats(r.payload).map { case (w, h, n, rs, gs, bs) =>
        (r.media_id, w.toLong, h.toLong, n.toLong, rs, gs, bs)
      }
    }).toDF("media_id", "width", "height", "n_frames", "r_sum", "g_sum", "b_sum")
  }

  /** QM9 — COMPRESSED video decode (MJPEG-in-AVI), SELF-CERTIFYING:
    * real JPEG frames in a real RIFF/AVI container, parsed and decoded
    * per record. JPEG's lossy DCT means the pixel sums can't be
    * closed-form in SQL, but everything else can: the row emits the
    * container geometry (width/height/frame count — the oracle
    * recomputes them from the synthesis formulas) plus two per-record
    * certifications computed in the decode itself: the container
    * round-trips BYTE-EXACT (re-encoding the extracted frames
    * reproduces the original payload bit for bit — parse ↔ write are
    * inverses) and every frame ImageIO-decodes at the declared
    * dimensions with positive pixel mass. The hash check pins all of
    * it; MultimodalSpec carries the pixel-sum differential against the
    * single-image JPEG path. */
  def qmAviStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    syntheticAvi(spark, d)
      .mapPartitions(_.map { r =>
        val decoded = AviMjpegCodec.decode(r.payload)
        val roundtrip = decoded.exists { case (w, h, frames) =>
          java.util.Arrays.equals(AviMjpegCodec.encode(w, h, frames), r.payload)
        }
        val stats = AviMjpegCodec.frameStats(r.payload)
        val decodeOk = decoded.isDefined && stats.exists { case (w, h, n, rs, gs, bs) =>
          decoded.exists { case (dw, dh, fr) => dw == w && dh == h && fr.size == n } &&
            rs > 0 && gs > 0 && bs > 0
        }
        (r.media_id,
          decoded.map(_._1.toLong).getOrElse(-1L),
          decoded.map(_._2.toLong).getOrElse(-1L),
          decoded.map(_._3.size.toLong).getOrElse(-1L),
          roundtrip, decodeOk)
      })
      .toDF("media_id", "width", "height", "n_frames",
        "container_roundtrip_exact", "frame_decode_ok")
      .orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qm_binary_stats" -> qmBinaryStats _,
    "qm_image_stats" -> qmImageStats _,
    "qm_png_stats" -> qmPngStats _,
    "qm_audio_stats" -> qmAudioStats _,
    "qm_video_stats" -> qmVideoStats _,
    "qm_frame_sample" -> qmFrameSample _,
    "qm_quarantine" -> qmQuarantine _,
    "qm_resize_stats" -> qmResizeStats _,
    "qm_avi_stats" -> qmAviStats _,
    "qm_dhash_dedup" -> qmDhashDedup _,
    "qm_audio_features" -> qmAudioFeatures _,
    "qm_scene_change" -> qmSceneChange _)

  val oracles: Map[String, String] = Map(
    // per-frame luma SAD recomputed closed-form from the sample
    // formula; the cut flag applies the same threshold to the same
    // integer sum on both engines
    "qm_scene_change" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS width, " +
        "3 + doc_id % 4 AS height, 2 + doc_id % 4 AS n_frames FROM documents), " +
        "fr AS (SELECT media_id, width, height, " +
        "unnest(range(1, n_frames)) AS frame_idx FROM dims), " +
        "sad AS (SELECT media_id, frame_idx, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "i -> abs((media_id*29 + frame_idx*101 + i*13) % 250 - " +
        "(media_id*29 + (frame_idx-1)*101 + i*13) % 250))) AS BIGINT) AS diff_sum " +
        "FROM fr) " +
        "SELECT media_id, frame_idx, diff_sum, diff_sum > 2000 AS is_cut " +
        "FROM sad ORDER BY media_id, frame_idx"),
    // every window's energy and crossing count recomputed closed-form
    // from the sample formula (integer-exact; empty pair list on a
    // 1-frame tail window coalesces to 0)
    "qm_audio_features" ->
      ("WITH d AS (SELECT doc_id AS id FROM documents), " +
        "a AS (SELECT id, 1 + id%2 AS ch, 120 + id%77 AS frames FROM d), " +
        "w AS (SELECT id, ch, frames, " +
        "unnest(range((frames + 63)//64))::BIGINT AS win FROM a) " +
        "SELECT id AS media_id, win, least(64, frames - win*64) AS n_frames, " +
        "CAST(list_sum(list_transform(range(win*64, least(frames, win*64+64)), " +
        "f -> ((id*131 + f*ch*17) % 4001 - 2000) * ((id*131 + f*ch*17) % 4001 - 2000))) AS BIGINT) AS energy, " +
        "CAST(COALESCE(list_sum(list_transform(range(win*64, least(frames, win*64+64) - 1), " +
        "f -> CASE WHEN ((id*131 + f*ch*17) % 4001 - 2000) * ((id*131 + (f+1)*ch*17) % 4001 - 2000) < 0 " +
        "THEN 1 ELSE 0 END)), 0) AS BIGINT) AS crossings " +
        "FROM w ORDER BY media_id, win"),
    // the full perceptual pipeline recomputed closed-form: pixel formula
    // (+4 on planted clones — never clamps under the 251 modulus),
    // nearest-neighbor 9×8 coordinate map, integer-mean gray, gradient
    // bits packed low-bit-first, two hex chars per row, min-id keeper
    "qm_dhash_dedup" ->
      ("WITH d AS (SELECT doc_id AS id FROM documents), " +
        "s AS (SELECT id, CASE WHEN id%17=5 AND id>=3 THEN id-3 ELSE id END AS src, " +
        "CASE WHEN id%17=5 AND id>=3 THEN 4 ELSE 0 END AS dlt FROM d), " +
        "m AS (SELECT id, src, dlt, 8 + src%13 AS w, 6 + src%9 AS h FROM s), " +
        "g AS (SELECT id, list_transform(range(8), y -> list_transform(range(9), x -> " +
        "( (src*31 + (3*(((y*h)//8)*w + ((x*w)//9)) + 0)*7) % 251 + dlt " +
        "+ (src*31 + (3*(((y*h)//8)*w + ((x*w)//9)) + 1)*7) % 251 + dlt " +
        "+ (src*31 + (3*(((y*h)//8)*w + ((x*w)//9)) + 2)*7) % 251 + dlt ) // 3 " +
        ")) AS grid FROM m), " +
        "r AS (SELECT id, array_to_string(list_transform(range(8), y -> " +
        "printf('%02x', CAST(list_sum(list_transform(range(8), x -> " +
        "CASE WHEN grid[y+1][x+2] > grid[y+1][x+1] THEN 1<<x ELSE 0 END)) AS INT))), '') AS dhash " +
        "FROM g) " +
        "SELECT id AS media_id, dhash, " +
        "MIN(id) OVER (PARTITION BY dhash) = id AS kept FROM r ORDER BY media_id"),
    "qm_image_stats" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 8 + doc_id % 13 AS width, " +
        "6 + doc_id % 9 AS height FROM documents) " +
        "SELECT media_id, width, height, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*31 + (3*p)*7) % 251)) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*31 + (3*p+1)*7) % 251)) AS BIGINT) AS g_sum, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*31 + (3*p+2)*7) % 251)) AS BIGINT) AS b_sum " +
        "FROM dims ORDER BY media_id"),
    "qm_binary_stats" ->
      ("SELECT CASE WHEN doc_id % 3 = 0 THEN 'video' WHEN doc_id % 3 = 1 THEN 'image' " +
        "ELSE 'audio' END AS media_type, COUNT(*) AS n, " +
        "CAST(SUM(9 + LEAST((64 + n_chars % 128) * (48 + doc_id % 96), 256)) AS BIGINT) AS total_bytes " +
        "FROM documents GROUP BY 1 ORDER BY media_type"),
    "qm_png_stats" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 6 + doc_id % 11 AS width, " +
        "4 + doc_id % 7 AS height FROM documents) " +
        "SELECT media_id, width, height, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*37 + (3*p)*11) % 253)) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*37 + (3*p+1)*11) % 253)) AS BIGINT) AS g_sum, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "p -> (media_id*37 + (3*p+2)*11) % 253)) AS BIGINT) AS b_sum " +
        "FROM dims ORDER BY media_id"),
    "qm_audio_stats" ->
      ("SELECT doc_id AS media_id, " +
        "CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate, " +
        "CAST(1 + doc_id % 2 AS BIGINT) AS channels, " +
        "CAST(120 + doc_id % 77 AS BIGINT) AS n_frames, " +
        "CAST(list_sum(list_transform(range(0, (120 + doc_id % 77) * (1 + doc_id % 2)), " +
        "i -> (doc_id*131 + i*17) % 4001 - 2000)) AS BIGINT) AS amp_sum " +
        "FROM documents ORDER BY media_id"),
    "qm_video_stats" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS width, " +
        "3 + doc_id % 4 AS height, 2 + doc_id % 4 AS n_frames FROM documents) " +
        "SELECT media_id, width, height, n_frames, " +
        "CAST(list_sum(list_transform(range(0, n_frames), f -> " +
        "list_sum(list_transform(range(0, width*height), " +
        "i -> (media_id*29 + f*101 + i*13) % 250)))) AS BIGINT) AS y_sum, " +
        "CAST(list_sum(list_transform(range(0, n_frames), f -> " +
        "list_sum(list_transform(range(0, width*height), " +
        "i -> (media_id*29 + f*101 + (i + width*height)*13) % 250)))) AS BIGINT) AS u_sum, " +
        "CAST(list_sum(list_transform(range(0, n_frames), f -> " +
        "list_sum(list_transform(range(0, width*height), " +
        "i -> (media_id*29 + f*101 + (i + 2*width*height)*13) % 250)))) AS BIGINT) AS v_sum " +
        "FROM dims ORDER BY media_id"),
    "qm_resize_stats" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 8 + doc_id % 13 AS w, " +
        "6 + doc_id % 9 AS h FROM documents) " +
        "SELECT media_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height, " +
        "CAST(list_sum(list_transform(range(0, 12), p -> " +
        "(media_id*31 + (3*(((p//4)*h//3)*w + ((p%4)*w//4)))*7) % 251)) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, 12), p -> " +
        "(media_id*31 + (3*(((p//4)*h//3)*w + ((p%4)*w//4)) + 1)*7) % 251)) AS BIGINT) AS g_sum, " +
        "CAST(list_sum(list_transform(range(0, 12), p -> " +
        "(media_id*31 + (3*(((p//4)*h//3)*w + ((p%4)*w//4)) + 2)*7) % 251)) AS BIGINT) AS b_sum " +
        "FROM dims ORDER BY media_id"),
    "qm_quarantine" ->
      ("WITH dims AS (SELECT doc_id AS id, 8 + doc_id % 13 AS w, 6 + doc_id % 9 AS h " +
        "FROM documents), " +
        "ok AS (SELECT id, " +
        "CAST(list_sum(list_transform(range(0, w*h), p -> (id*31 + (3*p)*7) % 251)) AS BIGINT) AS r_sum, " +
        "CAST(list_sum(list_transform(range(0, w*h), p -> (id*31 + (3*p+1)*7) % 251)) AS BIGINT) AS g_sum " +
        "FROM dims WHERE id % 7 <> 0) " +
        "SELECT 'corrupt' AS status, COUNT(*) AS n, CAST(0 AS BIGINT) AS r_total, " +
        "CAST(0 AS BIGINT) AS g_total FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL SELECT 'ok', COUNT(*), CAST(SUM(r_sum) AS BIGINT), " +
        "CAST(SUM(g_sum) AS BIGINT) FROM ok ORDER BY status"),
    "qm_frame_sample" ->
      ("WITH dims AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS width, " +
        "3 + doc_id % 4 AS height, 2 + doc_id % 4 AS n_frames FROM documents), " +
        "fr AS (SELECT media_id, width, height, " +
        "unnest(range(0, n_frames, 2)) AS frame_idx FROM dims) " +
        "SELECT media_id, frame_idx, " +
        "CAST(list_sum(list_transform(range(0, width*height), " +
        "i -> (media_id*29 + frame_idx*101 + i*13) % 250)) AS BIGINT) AS y_sum " +
        "FROM fr ORDER BY media_id, frame_idx"),
    // self-certification: geometry is closed-form from the synthesis
    // formulas; the booleans assert the parse↔write bijection and the
    // per-frame ImageIO decode the Spark side computed in-plan
    "qm_avi_stats" ->
      ("SELECT doc_id AS media_id, 8 + doc_id % 13 AS width, " +
        "6 + doc_id % 9 AS height, 1 + doc_id % 4 AS n_frames, " +
        "true AS container_roundtrip_exact, true AS frame_decode_ok " +
        "FROM documents ORDER BY media_id"))
}
