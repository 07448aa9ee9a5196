package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * IMAGES are decoded for real via `javax.imageio` (JDK built-in — no
  * external codec needed): [[ImageCodec]] encodes deterministic PNG
  * fixtures and [[imageStats]] decodes them back to pixel statistics.
  * AUDIO is decoded for real by a hand-rolled RIFF/WAVE PCM16 codec
  * ([[AudioCodec]] — javax.sound's per-call provider-registry scan
  * serialized concurrent executors; see encodePcm): it encodes
  * deterministic 16-bit PCM WAV fixtures and [[audioStats]] decodes
  * them back to sample statistics.
  * VIDEO is decoded for real for AVI containers whose frames ImageIO
  * can read — MJPG (motion-JPEG) and MPNG (motion-PNG): [[VideoCodec]]
  * is a pure-JDK RIFF/AVI writer + parser (the container is plain
  * chunked RIFF; each '00dc' frame chunk is a complete JPEG/PNG that
  * `javax.imageio` decodes), so frame extraction + per-frame pixel
  * statistics (q118) are real decode, not byte stats. Codecs the JDK
  * cannot decode (H.264 etc.) remain out of scope — the container
  * still parses, the frame decode yields no rows. `FakeDecoder`
  * survives only as the byte-statistics contract behind q38/q47, whose
  * oracles check container-blob byte stats by design.
  *
  * Scale notes: media blobs are large, so the operators (a) never widen
  * the row (features replace the blob via select, keeping the shuffle
  * narrow), (b) process per-partition with an iterator (no
  * whole-partition materialization, one [[perPartition]] step each),
  * and (c) leave blob-size skew to the query: a decode heavy enough to
  * pay for an exchange spreads its scan at the query site
  * (`Shape.spread`, q165).
  */
object Multimodal {

  /** Typed media row: blob + metadata, the canonical multimodal schema. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte],
                      width: Int, height: Int)

  /** Extracted feature row: the blob is GONE after extraction — only the
    * fixed-width feature survives downstream.
    */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           byte_mean: Double, histogram: Array[Long])

  /** Every media operator's one map step: codec setup once per
    * partition (ImageIO's temp-file cache off — no file I/O per
    * encode/decode), then `f` per row, streamed through the iterator.
    */
  private def perPartition[A, B: Encoder](ds: Dataset[A])(
      f: A => IterableOnce[B]): Dataset[B] =
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap(f)
    }

  /** Deterministic standin for a real media decoder. */
  object FakeDecoder {
    /** "Decode" = byte statistics + a 16-bin byte histogram. A real
      * implementation would decode pixels/samples here.
      */
    def decode(r: MediaRow): MediaFeatures = {
      val hist = new Array[Long](16)
      var sum = 0L
      var i = 0
      while (i < r.content.length) {
        val b = r.content(i) & 0xff
        hist(b >> 4) += 1
        sum += b
        i += 1
      }
      val mean = if (r.content.length == 0) 0.0 else sum.toDouble / r.content.length
      MediaFeatures(r.media_id, r.kind, r.content.length.toLong,
        math.round(mean * 10000).toDouble / 10000, hist)
    }
  }

  /** The near-dup fixtures' group pattern: bit k of a group is bit
    * (k mod 60) of `hash`, the 60-bit md5 hash of the group key
    * (`TextFunctions.tokenHash64Jvm`). md5 bits, NOT a linear
    * formula: bits 3-5 of (gid*A + k*B) depend only on the addends mod
    * 64 (carries into bit 3 come from bits 0-2 alone), so gids equal
    * mod 64 shared one pattern and made 7.3M spurious cross-group
    * Hamming-2 audio pairs at sf1, and a (cx*13 + cy*29 + gid*97) mod
    * 257 image pattern had only 257 distinct pictures (~49-member
    * identical-image groups at sf1's 12.5K images, pair output growing
    * 26x per decade). The hash pattern is unique per group at any
    * corpus size, so pair output scales with the group count.
    */
  private def groupBit(hash: Long, k: Int): Boolean = ((hash >> (k % 60)) & 1L) == 1L

  /** The window each member of a near-dup group flips: distinct across
    * the ten ids of a group, so same-group pairs sit at Hamming exactly 2.
    */
  def dupFlipWindow(id: Long): Int = (((id % 10) * 11) % 64).toInt

  /** REAL image codec over `javax.imageio`. Fixture images are
    * deterministic RGB patterns — pixel (x, y) of image `id` has
    * channels ((x·7 + y·11 + id·3) mod 256, (x·13 + y·5 + id·7) mod 256,
    * (x·3 + y·17 + id·11) mod 256) — so, PNG being lossless, the decoded
    * pixel sums are computable ANALYTICALLY with integer arithmetic: the
    * DuckDB oracle derives the expected stats from the formula without
    * ever seeing a PNG, and a hash match proves the whole
    * encode→decode→aggregate roundtrip bit-exact.
    */
  object ImageCodec {
    def channels(id: Long, x: Int, y: Int): (Int, Int, Int) = (
      ((x * 7L + y * 11L + id * 3L) % 256L).toInt,
      ((x * 13L + y * 5L + id * 7L) % 256L).toInt,
      ((x * 3L + y * 17L + id * 11L) % 256L).toInt)

    /** Fixture image size of media id (both image fixtures). */
    def dims(id: Long): (Int, Int) = ((id % 16).toInt + 8, (id % 12).toInt + 8)

    /** ImageIO decode; None when no reader accepts the bytes. */
    def read(bytes: Array[Byte]): Option[BufferedImage] =
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))

    /** The one RGB PNG encoder: `rgb` holds w·h packed 0xRRGGBB pixels,
      * row-major, written through a lossless TYPE_INT_RGB raster.
      */
    def png(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, rgb, 0, w)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Deterministic PNG fixture for media id (the [[channels]] pattern). */
    def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
      val rgb = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val (r, g, b) = channels(id, x, y)
          rgb(y * w + x) = (r << 16) | (g << 8) | b
          x += 1
        }
        y += 1
      }
      png(w, h, rgb)
    }

    /** Duplicate-image fixture for perceptual-hash dedup: the pixel
      * pattern is keyed by gid = id div 10 over the 8x8 CELL grid (every
      * pixel of cell (cx, cy) is gray 220 or 30 by [[groupBit]]
      * cy*8+cx of gid — two levels far from any mean, so the threshold
      * bits are size-invariant), while width/height still vary per id —
      * so the ~5 even ids sharing a gid are the SAME picture rendered
      * at different sizes, exactly the rescaled-duplicate mode a
      * perceptual hash exists to catch (and byte-level exact dedup
      * cannot). Cell-constant gray also makes the aHash analytically
      * derivable, so the DuckDB oracle recomputes it from the formula
      * without decoding a PNG.
      */
    def encodeDup(id: Long): Array[Byte] = {
      val (w, h) = dims(id)
      val hp = graft.functions.TextFunctions.tokenHash64Jvm((id / 10).toString)
      val rgb = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val v = if (groupBit(hp, cy * 8 + x * 8 / w)) 220 else 30
          rgb(y * w + x) = (v << 16) | (v << 8) | v
          x += 1
        }
        y += 1
      }
      png(w, h, rgb)
    }

    /** Decode PNG/JPEG bytes to (width, height, Σr, Σg, Σb) — the one RGB
      * pixel-sum loop (images and video frames). Undecodable bytes yield
      * None, never a fake zero row.
      */
    def decodeSums(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
      read(bytes).map { img =>
        val w = img.getWidth; val h = img.getHeight
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        (w, h, sr, sg, sb)
      }
  }

  /** Hand-rolled minimal PNG codec for the video-fingerprint hot path —
    * the javax.imageio reader costs ~40-60 µs of setup PER CALL, which
    * at millions of tiny frames (25K videos × ~100 frames at sf0.1)
    * dominates the q134 stage; Inflater on a 100-byte stream is a few
    * µs. Scope is deliberately narrow: 8-bit non-interlaced grayscale
    * (colortype 0) and truecolor (colortype 2) per the public PNG spec
    * (RFC 2083) — exactly what [[javax.imageio]] emits for
    * TYPE_BYTE_GRAY/TYPE_INT_RGB — with all five scanline filters.
    * Anything else returns None and the caller falls back to ImageIO,
    * so MJPG frames and exotic PNGs still decode correctly.
    */
  object PngCodec {
    private val Sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    /** Encode a uniform-gray image as 8-bit TRUECOLOR PNG with r=g=b=v
      * (filter 0 rows; one deflate stream). Truecolor, not colortype 0:
      * ImageIO routes grayscale PNGs through a gray→sRGB ColorConvertOp
      * (gray 220 reads back as 239 via getRGB), while truecolor samples
      * pass through untouched — so this encoding decodes to exactly
      * (v,v,v) under BOTH ImageIO and [[decodeGraySum]].
      */
    def encodeGray(w: Int, h: Int, v: Int): Array[Byte] = {
      val stride = 3 * w
      val raw = new Array[Byte](h * (1 + stride))
      var y = 0
      while (y < h) {
        val base = y * (1 + stride)
        raw(base) = 0 // filter: None
        java.util.Arrays.fill(raw, base + 1, base + 1 + stride, v.toByte)
        y += 1
      }
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val comp = new Array[Byte](raw.length + 64)
      val n = def_.deflate(comp)
      def_.end()
      val ihdr = new Array[Byte](13)
      wrBe32(ihdr, 0, w); wrBe32(ihdr, 4, h)
      ihdr(8) = 8 // bit depth
      ihdr(9) = 2 // colortype: truecolor (see scaladoc)
      // compression 0, filter 0, interlace 0 already zeroed
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Sig, 0, Sig.length)
      writeChunk(bos, "IHDR", ihdr, 13)
      writeChunk(bos, "IDAT", comp, n)
      writeChunk(bos, "IEND", Array.emptyByteArray, 0)
      bos.toByteArray
    }

    private def wrBe32(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
      b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
    }

    private def writeChunk(bos: java.io.ByteArrayOutputStream, typ: String,
                           body: Array[Byte], n: Int): Unit = {
      val len = new Array[Byte](4); wrBe32(len, 0, n)
      bos.write(len, 0, 4)
      val t = typ.getBytes("US-ASCII")
      bos.write(t, 0, 4)
      bos.write(body, 0, n)
      val crc = new java.util.zip.CRC32()
      crc.update(t, 0, 4); crc.update(body, 0, n)
      val c = new Array[Byte](4); wrBe32(c, 0, crc.getValue.toInt)
      bos.write(c, 0, 4)
    }

    private def rdBe32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    /** Decode to (width, height, sum of per-pixel gray) where gray =
      * (r+g+b)/3 for truecolor and the sample itself for grayscale —
      * the same per-pixel value [[grayCells]] derives from getRGB. None
      * when the bytes are not a PNG this narrow decoder covers (caller
      * falls back to ImageIO).
      */
    def decodeGraySum(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
      if (bytes.length < 33) return None
      var i = 0
      while (i < 8) { if (bytes(i) != Sig(i)) return None; i += 1 }
      if (rdBe32(bytes, 8) != 13 ||
          new String(bytes, 12, 4, "US-ASCII") != "IHDR") return None
      val w = rdBe32(bytes, 16); val h = rdBe32(bytes, 20)
      val depth = bytes(24); val ctype = bytes(25)
      val interlace = bytes(28)
      if (w <= 0 || h <= 0 || depth != 8 || interlace != 0 ||
          (ctype != 0 && ctype != 2)) return None
      val bpp = if (ctype == 0) 1 else 3
      // concatenate IDAT payloads
      val idat = new java.io.ByteArrayOutputStream()
      var p = 33
      var ok = true
      while (ok && p + 8 <= bytes.length) {
        val sz = rdBe32(bytes, p)
        val typ = new String(bytes, p + 4, 4, "US-ASCII")
        if (sz < 0 || p + 8 + sz > bytes.length) ok = false
        else {
          if (typ == "IDAT") idat.write(bytes, p + 8, sz)
          if (typ == "IEND") ok = false
          p += 12 + sz
        }
      }
      val comp = idat.toByteArray
      if (comp.isEmpty) return None
      val stride = w * bpp
      val raw = new Array[Byte](h * (1 + stride))
      val inf = new java.util.zip.Inflater()
      inf.setInput(comp)
      try {
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          if (n == 0 && inf.needsInput()) return None // truncated
          off += n
        }
        if (off != raw.length) return None
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      // unfilter in place (per the PNG spec's five row filters), summing
      // gray as rows complete; prior row kept unfiltered for Up/Avg/Paeth
      val prev = new Array[Int](stride)
      val cur = new Array[Int](stride)
      var sum = 0L
      var y = 0
      while (y < h) {
        val base = y * (1 + stride)
        val ft = raw(base) & 0xff
        var x = 0
        while (x < stride) {
          val rv = raw(base + 1 + x) & 0xff
          val a = if (x >= bpp) cur(x - bpp) else 0
          val b = prev(x)
          val c = if (x >= bpp) prev(x - bpp) else 0
          val v = ft match {
            case 0 => rv
            case 1 => rv + a
            case 2 => rv + b
            case 3 => rv + ((a + b) >> 1)
            case 4 =>
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            case _ => return None
          }
          cur(x) = v & 0xff
          x += 1
        }
        if (bpp == 1) { x = 0; while (x < w) { sum += cur(x); x += 1 } }
        else {
          x = 0
          while (x < w) {
            sum += (cur(3 * x) + cur(3 * x + 1) + cur(3 * x + 2)) / 3
            x += 1
          }
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      Some((w, h, sum))
    }
  }

  /** Little-endian RIFF plumbing shared by the WAV and AVI codecs: the
    * one byte writer and the one chunk walk.
    */
  private object Riff {
    def le(v: Int, nBytes: Int): Array[Byte] = {
      val b = new Array[Byte](nBytes)
      var i = 0
      while (i < nBytes) { b(i) = (v >> (8 * i)).toByte; i += 1 }
      b
    }
    def le16(v: Int): Array[Byte] = le(v, 2)
    def le32(v: Int): Array[Byte] = le(v, 4)
    def cc(s: String): Array[Byte] = {
      require(s.length == 4, s"fourcc must be 4 chars: '$s'")
      s.getBytes("US-ASCII")
    }
    /** `ckid size data [pad]` — chunk data pads to an even boundary. */
    def chunk(ckid: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(ckid) ++ le32(body.length) ++ body ++ pad
    }
    /** `LIST size type children` — size covers type + children. */
    def list(listType: String, children: Array[Byte]): Array[Byte] =
      cc("LIST") ++ le32(4 + children.length) ++ cc(listType) ++ children
    /** The outer `RIFF size form chunks` file. */
    def form(formType: String, chunks: Array[Byte]): Array[Byte] =
      cc("RIFF") ++ le32(4 + chunks.length) ++ cc(formType) ++ chunks

    def rd16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def rd32(b: Array[Byte], o: Int): Int = rd16(b, o) | (rd16(b, o + 2) << 16)
    def fourcc(b: Array[Byte], o: Int): String = new String(b, o, 4, "US-ASCII")

    /** End of a `RIFF <formType>` file's chunk list (its chunks start at
      * byte 12), or None for anything else. RIFF declares an unsigned
      * 32-bit payload size; it is read as such and clamped in Long, so a
      * huge or garbage size degrades to the buffer length instead of
      * wrapping negative.
      */
    def formEnd(bytes: Array[Byte], formType: String): Option[Int] =
      if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
          fourcc(bytes, 8) != formType) None
      else Some(math.min(bytes.length.toLong, 8L + (rd32(bytes, 4) & 0xffffffffL)).toInt)

    /** The one RIFF chunk walk: `visit(id, dataStart, size)` for each
      * chunk in [from, to), advancing by the even-padded size; unknown
      * chunks are the caller's to skip. Bounds math is in Long: a crafted
      * size near 2^31 would overflow an Int sum past the truncation
      * guard, and a pad byte at Int.MaxValue would wrap the cursor
      * negative. False when a chunk's declared size overruns `to` — the
      * walk stops there; input never makes it throw.
      */
    def walk(bytes: Array[Byte], from: Int, to: Int)(
        visit: (String, Int, Int) => Unit): Boolean = {
      var p = from
      while (p + 8L <= to) {
        val at = p + 8
        val sz = rd32(bytes, p + 4)
        if (sz < 0 || at.toLong + sz > to) return false
        visit(fourcc(bytes, p), at, sz)
        val next = at.toLong + sz + (sz & 1)
        if (next > to) return true
        p = next.toInt
      }
      true
    }
  }

  /** REAL audio codec — hand-rolled RIFF/WAVE (16-bit signed
    * little-endian PCM, mono), no javax.sound in the hot path. Fixture clips are deterministic integer
    * patterns — sample i of clip `id` is ((i·7 + id·13) mod 4096) − 2048
    * over n = (id mod 400) + 100 samples — so, PCM WAV being lossless,
    * the decoded sample sums are computable ANALYTICALLY: the DuckDB
    * oracle derives expected stats from the formula without ever seeing
    * a WAV file, and a hash match proves the whole
    * encode→decode→aggregate roundtrip bit-exact (same oracle trick as
    * [[ImageCodec]]).
    */
  object AudioCodec {
    val SampleRate = 8000f

    def nSamples(id: Long): Int = (id % 400).toInt + 100

    def sampleAt(id: Long, i: Int): Int =
      (((i * 7L + id * 13L) % 4096L) - 2048L).toInt

    /** 16-bit signed little-endian mono WAV from raw sample values —
      * the canonical 44-byte RIFF/WAVE header, byte-identical to
      * javax.sound's WAVE writer for this format. Hand-rolled (like the
      * AVI container, [[VideoCodec]]) because
      * javax.sound.sampled.AudioSystem does a provider-registry scan
      * per call whose synchronization SERIALIZES concurrent executors:
      * measured at the sf10 tier, 32-way audio encode+decode ran 2×
      * slower than single-threaded (q81 104 s / 20.4×-per-decade,
      * q132 58 s / 18.5× — both dropped to linear with this codec).
      */
    def encodePcm(samples: Array[Int]): Array[Byte] = {
      val rate = SampleRate.toInt
      val data = new Array[Byte](2 * samples.length)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = samples(i).toByte
        data(2 * i + 1) = (samples(i) >> 8).toByte
        i += 1
      }
      import Riff._
      form("WAVE",
        // PCM, mono, rate, byte rate, block align, bits per sample
        chunk("fmt ", le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++
          le16(2) ++ le16(16)) ++
        chunk("data", data))
    }

    /** Sample i of the PCM16 little-endian data starting at byte `lo`. */
    @inline def sample(bytes: Array[Byte], lo: Int, i: Int): Int =
      (bytes(lo + 2 * i + 1).toInt << 8) | (bytes(lo + 2 * i) & 0xff)

    /** The [start, end) byte range of a 16-bit PCM WAVE's data chunk,
      * from the [[Riff.walk]] over its top-level chunks; None for
      * anything malformed, truncated or non-PCM16 (corrupt blobs drop,
      * never throw). Samples are little-endian (every WAV this engine
      * reads or writes; RIFX big-endian fails the magic check).
      */
    def pcm16DataRange(bytes: Array[Byte]): Option[(Int, Int)] =
      Riff.formEnd(bytes, "WAVE").flatMap { end =>
        var format = -1
        var bits = -1
        var data: Option[(Int, Int)] = None
        val whole = Riff.walk(bytes, 12, end) { (id, at, len) =>
          if (id == "fmt " && len >= 16) {
            format = Riff.rd16(bytes, at)
            bits = Riff.rd16(bytes, at + 14)
          } else if (id == "data") data = Some((at, at + len))
        }
        if (whole && format == 1 && bits == 16) data else None
      }

    /** Deterministic WAV fixture for media id (lossless 16-bit PCM). */
    def encodeWav(id: Long): Array[Byte] =
      encodePcm(Array.tabulate(nSamples(id))(i => sampleAt(id, i)))

    // --- near-dup audio fixture family (the audio twin of the
    //     duplicate-image fixture's same-picture-different-size groups):
    //     gid = id/10 groups share one 64-window amplitude pattern at
    //     DIFFERENT durations (n is a multiple of 64, so windows stay
    //     exactly aligned and the energy fingerprint is duration-
    //     invariant), and each member flips ONE window — same-group
    //     pairs sit at Hamming exactly 2, byte-exact dedup pairs
    //     nothing (every clip's WAV bytes differ). All-integer formula
    //     => the DuckDB oracle derives the fingerprint without ever
    //     decoding a WAV.

    def dupNSamples(id: Long): Int = 64 * ((id % 5).toInt + 2)

    /** Window amplitude: the [[groupBit]] pattern of gid, one window
      * XOR-flipped per group member; 240 vs 10 keeps every mean strictly
      * between the two levels, so the threshold bit IS the formula bit.
      */
    def dupAmp(id: Long, k: Int): Int = {
      val h = graft.functions.TextFunctions.tokenHash64Jvm((id / 10).toString)
      if (groupBit(h, k) ^ (k == dupFlipWindow(id))) 240 else 10
    }

    /** Near-dup WAV fixture for media id: 64 constant-amplitude windows. */
    def encodeDup(id: Long): Array[Byte] = {
      val n = dupNSamples(id)
      val win = n / 64
      val amps = Array.tabulate(64)(k => dupAmp(id, k))
      encodePcm(Array.tabulate(n)(i => amps(i / win)))
    }

    /** Decode WAV bytes to (n_samples, sum, sum_sq, sum_abs) via the
      * hand-rolled little-endian walk ([[pcm16DataRange]]). Undecodable
      * or non-16-bit blobs yield None, never a fake zero row.
      */
    def decodeStats(bytes: Array[Byte]): Option[(Long, Long, Long, Long)] =
      pcm16DataRange(bytes).map { case (lo, hi) =>
        val n = (hi - lo) / 2
        var sum = 0L; var sumSq = 0L; var sumAbs = 0L
        var i = 0
        while (i < n) {
          val s = sample(bytes, lo, i)
          sum += s; sumSq += s.toLong * s; sumAbs += math.abs(s)
          i += 1
        }
        (n.toLong, sum, sumSq, sumAbs)
      }
  }

  /** REAL video codec: a pure-JDK RIFF/AVI container writer + parser.
    * An AVI file is chunked RIFF — `RIFF('AVI ' LIST('hdrl' avih
    * LIST('strl' strh strf)) LIST('movi' 00dc...) idx1)` — and for the
    * MJPG/MPNG codecs every '00dc' frame chunk is a complete JPEG/PNG
    * byte stream, so `javax.imageio` decodes each frame exactly as it
    * decodes a standalone image: container parse and frame decode are
    * both real, no external codec needed. Fixtures use MPNG (lossless),
    * so decoded pixel sums are computable ANALYTICALLY from the
    * [[ImageCodec.channels]] formula at seed `frameSeed(id, f)` — the
    * DuckDB oracle never sees an AVI byte (same trick as ImageCodec /
    * AudioCodec). The MJPG path is exercised in tests structurally
    * (frame count + dimensions; JPEG is lossy so sums are not
    * analytic).
    *
    * Layout refs: MainAVIHeader/AVIStreamHeader/BITMAPINFOHEADER field
    * order per the public OpenDML AVI spec; chunks pad to even offsets;
    * idx1 offsets are relative to the first byte after the 'movi'
    * fourcc (the common convention, starting at 4).
    */
  object VideoCodec {
    def dims(id: Long): (Int, Int) = (((id % 12) + 8).toInt, ((id % 10) + 8).toInt)
    def nFrames(id: Long): Int = ((id % 4) + 2).toInt
    /** Per-frame pattern seed: frame f of video id draws the
      * [[ImageCodec.channels]] pattern at this seed.
      */
    def frameSeed(id: Long, f: Int): Long = id * 1000L + f

    /** Near-dup fixture formulas — the video twin of AudioCodec.dup*.
      * Durations differ within a group (64 or 128 frames) so AVI bytes
      * never byte-match, while the 64-window temporal luminance profile
      * is the group's md5-bit pattern with ONE window flipped per
      * member (distinct flip per member => same-group pairs at Hamming
      * exactly 2). Frames are uniform-gray MPNG, so frame dims and
      * counts cancel out of the threshold bit: bit k reduces to
      * gray_k*64 > sum(gray) — the analytic form the DuckDB oracle
      * recomputes without decoding a container.
      */
    def dupNFrames(id: Long): Int = 64 * ((id % 2).toInt + 1)

    /** Window gray level: the [[groupBit]] pattern of 'v'+gid ('v'
      * decorrelates from the audio fixture's pattern), one window
      * XOR-flipped per member; 220 vs 30 keeps every mean strictly
      * between the two levels.
      */
    def dupGray(id: Long, k: Int): Int = {
      val h = graft.functions.TextFunctions.tokenHash64Jvm("v" + (id / 10))
      if (groupBit(h, k) ^ (k == dupFlipWindow(id))) 220 else 30
    }

    /** Deterministic MPNG-in-AVI fixture for media id. */
    def encodeAvi(id: Long): Array[Byte] = {
      val (w, h) = dims(id)
      val frames = (0 until nFrames(id))
        .map(f => ImageCodec.encodePng(frameSeed(id, f), w, h))
      buildAvi(w, h, frames, "MPNG")
    }

    /** Near-dup MPNG-in-AVI fixture for media id: uniform-gray frames
      * tracing the group's 64-window luminance pattern ([[dupGray]]) at a
      * member-specific duration and frame size. Frames are
      * [[PngCodec.encodeGray]]: ImageIO's per-call setup at ~100
      * frames/video dominated this encode 4:1.
      */
    def encodeDup(id: Long): Array[Byte] = {
      val n = dupNFrames(id)
      val win = n / 64
      val (w, h) = dupDims(id)
      val grays = Array.tabulate(64)(k => dupGray(id, k))
      val byGray = grays.distinct.map(v => v -> PngCodec.encodeGray(w, h, v)).toMap
      buildAvi(w, h, (0 until n).map(i => byGray(grays(i / win))), "MPNG")
    }

    /** Frame size of a near-dup video: varies per member and cancels out
      * of the fingerprint by construction.
      */
    def dupDims(id: Long): (Int, Int) = ((id % 5).toInt + 6, (id % 4).toInt + 6)

    /** Assemble a single-video-stream AVI around pre-encoded frames. */
    def buildAvi(w: Int, h: Int, frames: Seq[Array[Byte]],
                 codec: String): Array[Byte] = {
      import Riff._
      val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
      // MainAVIHeader (56 bytes): 10 fps, AVIF_HASINDEX
      val avih = chunk("avih",
        le32(100000) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
          le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
          le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      // AVIStreamHeader (56 bytes): 'vids', dwScale/dwRate = 1/10
      val strh = chunk("strh",
        cc("vids") ++ cc(codec) ++ le32(0) ++ le16(0) ++ le16(0) ++
          le32(0) ++ le32(1) ++ le32(10) ++ le32(0) ++ le32(frames.length) ++
          le32(maxFrame) ++ le32(-1) ++ le32(0) ++
          le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
      // BITMAPINFOHEADER (40 bytes) with the codec fourcc as biCompression
      val strf = chunk("strf",
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
          cc(codec) ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
      val moviChunks = frames.map(f => chunk("00dc", f))
      val movi = list("movi", moviChunks.flatMap(_.toSeq).toArray)
      // idx1: offset of each '00dc' fourcc relative to just after 'movi'
      var off = 4
      val idxEntries = moviChunks.zip(frames).map { case (mc, f) =>
        val e = cc("00dc") ++ le32(0x10) ++ le32(off) ++ le32(f.length)
        off += mc.length
        e
      }
      val idx1 = chunk("idx1", idxEntries.flatMap(_.toSeq).toArray)
      form("AVI ", hdrl ++ movi ++ idx1)
    }

    /** The raw bytes of every video frame chunk ('NNdc' compressed /
      * 'NNdb' uncompressed) inside LIST 'movi', in container order — one
      * [[Riff.walk]] per LIST level. Unknown chunks are skipped by their
      * declared size; a truncated level keeps the frames before the
      * cut. Non-AVI input yields no frames, never a throw — a corrupt
      * blob in a 100 TB scan must not kill the job.
      */
    def frameChunks(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
        Riff.walk(bytes, from, to) { (id, at, sz) =>
          if (id == "LIST" && sz >= 4)
            walk(at + 4, at + sz, inMovi || Riff.fourcc(bytes, at) == "movi")
          else if (inMovi && (id.endsWith("dc") || id.endsWith("db")))
            out += java.util.Arrays.copyOfRange(bytes, at, at + sz)
        }
        ()
      }
      Riff.formEnd(bytes, "AVI ").foreach(walk(12, _, inMovi = false))
      out.toIndexedSeq
    }
  }

  /** The six media fixture kinds — (image | audio | video) × (real |
    * near-dup). `name` keys the persisted fixture; `parity` picks the
    * doc_ids it covers (even ids are images, odd ids audio/video); `row`
    * generates one id's blob with its typed metadata (images and video
    * carry width/height, audio carries n_samples/sample rate).
    */
  sealed abstract class MediaKind(val name: String, val parity: Int)
      extends Serializable {
    def row(id: Long): MediaRow
  }

  object MediaKind {
    /** PNG of the [[ImageCodec.channels]] pattern. */
    case object ImgReal extends MediaKind("img_real", 0) {
      def row(id: Long): MediaRow = {
        val (w, h) = ImageCodec.dims(id)
        MediaRow(id, "image", ImageCodec.encodePng(id, w, h), w, h)
      }
    }
    /** Rescaled-duplicate PNG groups ([[ImageCodec.encodeDup]]). */
    case object ImgDup extends MediaKind("img_dup", 0) {
      def row(id: Long): MediaRow = {
        val (w, h) = ImageCodec.dims(id)
        MediaRow(id, "image", ImageCodec.encodeDup(id), w, h)
      }
    }
    /** WAV of the [[AudioCodec.sampleAt]] pattern. */
    case object AudioReal extends MediaKind("audio_real", 1) {
      def row(id: Long): MediaRow = MediaRow(id, "audio", AudioCodec.encodeWav(id),
        AudioCodec.nSamples(id), AudioCodec.SampleRate.toInt)
    }
    /** Near-dup WAV groups ([[AudioCodec.encodeDup]]). */
    case object AudioDup extends MediaKind("audio_dup", 1) {
      def row(id: Long): MediaRow = MediaRow(id, "audio", AudioCodec.encodeDup(id),
        AudioCodec.dupNSamples(id), AudioCodec.SampleRate.toInt)
    }
    /** MPNG-in-AVI of per-frame [[ImageCodec.channels]] patterns. */
    case object VideoReal extends MediaKind("video_real", 1) {
      def row(id: Long): MediaRow = {
        val (w, h) = VideoCodec.dims(id)
        MediaRow(id, "video", VideoCodec.encodeAvi(id), w, h)
      }
    }
    /** Near-dup uniform-gray AVI groups ([[VideoCodec.encodeDup]]). */
    case object VideoDup extends MediaKind("video_dup", 1) {
      def row(id: Long): MediaRow = {
        val (w, h) = VideoCodec.dupDims(id)
        MediaRow(id, "video", VideoCodec.encodeDup(id), w, h)
      }
    }
    val all: Seq[MediaKind] = Seq(ImgReal, ImgDup, AudioReal, AudioDup, VideoReal, VideoDup)
  }

  /** The one media fixture generator: every doc_id of the kind's parity
    * becomes one [[MediaKind.row]], encoded on the executors — the
    * generate step is itself distributed map work.
    */
  def media(docs: DataFrame, kind: MediaKind): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    perPartition(docs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(2)) === kind.parity).as[Long])(
      id => Some(kind.row(id)))
  }

  /** Sums of `v` over `nWindows` equal windows: window k covers
    * [k·n/nWindows, (k+1)·n/nWindows) of n = v.length (integer floor) —
    * the boundaries of every windowed media kernel.
    */
  private def windowSums(v: Array[Long], nWindows: Int): Array[Long] = {
    val n = v.length
    val out = new Array[Long](nWindows)
    var k = 0
    while (k < nWindows) {
      val hi = ((k + 1).toLong * n / nWindows).toInt
      var i = (k.toLong * n / nWindows).toInt
      var s = 0L
      while (i < hi) { s += v(i); i += 1 }
      out(k) = s
      k += 1
    }
    out
  }

  /** The one threshold-bit hash behind the image, audio and video
    * fingerprints: bit k is set when part k's mean exceeds the whole's
    * mean, compared cross-multiplied in Long (sum_k · Σweight >
    * Σsum · weight_k) — no division, no floating point, so the hash is
    * bit-identical on every engine and partition count, and the DuckDB
    * oracle derives it analytically from the fixture formulas. An
    * empty part (weight 0) never sets its bit. At most 64 parts.
    */
  private def thresholdHash(sums: Array[Long], weights: Array[Long]): Long = {
    var total = 0L; var totalWeight = 0L
    var k = 0
    while (k < sums.length) { total += sums(k); totalWeight += weights(k); k += 1 }
    var h = 0L
    k = 0
    while (k < sums.length) {
      if (sums(k) * totalWeight > total * weights(k)) h |= 1L << k
      k += 1
    }
    h
  }

  /** Per-cell gray sums and pixel counts of a grid×grid area binning —
    * pixel (x, y) falls in cell (y·grid div h)·grid + x·grid div w, and
    * its gray is (r+g+b)/3 — the [[imageAHash]] grid, and at grid 1 the
    * ImageIO fallback of a video frame's gray sum.
    */
  private def grayCells(img: BufferedImage, grid: Int): (Array[Long], Array[Long]) = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val row = y * grid / h * grid
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val k = row + x * grid / w
        sums(k) += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        counts(k) += 1
        x += 1
      }
      y += 1
    }
    (sums, counts)
  }

  /** Decoded audio statistics: blob gone, fixed-width row out. Integer
    * sums (sum, sum of squares, sum of abs) keep the oracle compare
    * exact — no float accumulation anywhere.
    */
  case class AudioStats(media_id: Long, n_samples: Long, sum_s: Long,
                        sum_sq: Long, sum_abs: Long)

  /** REAL decode: WAV bytes → sample-sum stats via the RIFF chunk
    * walk ([[AudioCodec.pcm16DataRange]]); undecodable blobs are
    * dropped, not faked.
    */
  def audioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => AudioCodec.decodeStats(r.content).map {
      case (n, s, sq, sa) => AudioStats(r.media_id, n, s, sq, sa)
    })
  }

  /** Per-window Σ|sample| and sample count of a PCM16 clip cut into
    * `nWindows` equal windows ([[windowSums]] boundaries); None for
    * undecodable blobs or clips shorter than nWindows samples.
    */
  private def audioWindows(bytes: Array[Byte],
                           nWindows: Int): Option[(Array[Long], Array[Long])] =
    AudioCodec.pcm16DataRange(bytes).flatMap { case (lo, hi) =>
      val n = (hi - lo) / 2
      if (n < nWindows) None
      else {
        val abs = new Array[Long](n)
        val ones = new Array[Long](n)
        var i = 0
        while (i < n) { abs(i) = math.abs(AudioCodec.sample(bytes, lo, i)); ones(i) = 1L; i += 1 }
        Some((windowSums(abs, nWindows), windowSums(ones, nWindows)))
      }
    }

  case class AudioHash(media_id: Long, fhash: Long)

  /** 64-bit audio energy fingerprint from REAL decoded PCM: bit k of
    * the [[thresholdHash]] over the clip's `nWindows` equal windows is
    * set when window k's mean |sample| exceeds the whole-clip mean. The
    * audio twin of [[imageAHash]]: feeds the same
    * [[graft.operators.Dedup.hammingNearDup]] banding join. None for
    * undecodable blobs or clips shorter than nWindows samples.
    */
  def audioFingerprint(bytes: Array[Byte], nWindows: Int = 64): Option[Long] =
    audioWindows(bytes, nWindows).map { case (abs, n) => thresholdHash(abs, n) }

  /** Fingerprint every audio blob: blob dies in-stage, an 8-byte hash
    * rides on — the input row to Hamming near-dup banding.
    */
  def audioFingerprints(media: Dataset[MediaRow]): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => audioFingerprint(r.content).map(AudioHash(r.media_id, _)))
  }

  case class SilenceSeg(media_id: Long, seg: Long, start_win: Long,
                        end_win: Long, n_win: Long)

  /** Silence segmentation over REAL decoded PCM (the audio counterpart
    * of [[videoSceneCuts]]' keyframe detection — the VAD-lite primitive
    * a speech pipeline runs before transcription): the clip is cut into
    * `nWindows` equal windows (the [[audioFingerprint]] boundaries) and
    * window k is silent when its mean |sample| is below `thrAbs` —
    * compared cross-multiplied (sumAbs_k < thrAbs · n_k), no division.
    * Consecutive silent windows merge into segments (seg index, first
    * and last window, length), computed INSIDE the map step — windows
    * are file-local, so segmentation is map-only: zero shuffle, the
    * blob dies in-stage, undecodable/short clips yield no rows rather
    * than a throw. The fixture's constant-amplitude windows make the
    * oracle analytic: silent ⟺ the md5 formula bit is 0.
    */
  def audioSilenceSegments(media: Dataset[MediaRow], nWindows: Int = 64,
                           thrAbs: Long = 100L): Dataset[SilenceSeg] = {
    import media.sparkSession.implicits._
    perPartition(media) { m =>
      audioWindows(m.content, nWindows).toSeq.flatMap { case (abs, n) =>
        val segs = Seq.newBuilder[SilenceSeg]
        var seg = 0L
        var runStart = -1
        var k = 0
        while (k <= nWindows) { // k == nWindows closes a trailing run
          val silent = k < nWindows && abs(k) < thrAbs * n(k)
          if (silent && runStart < 0) runStart = k
          if (!silent && runStart >= 0) {
            segs += SilenceSeg(m.media_id, seg, runStart, k - 1, k - runStart)
            seg += 1; runStart = -1
          }
          k += 1
        }
        segs.result()
      }
    }
  }

  /** REAL image resize: decode via javax.imageio, nearest-neighbor
    * resample (source pixel of (x', y') is (x'·w/w', y'·h/h'), integer
    * floor — the same index mapping the byte-level [[resize]] stub uses,
    * so the oracle can compute resized pixel sums analytically from the
    * fixture pattern), re-encode PNG. None when the blob is not an image.
    */
  def resizeImagePng(bytes: Array[Byte], w2: Int, h2: Int): Option[Array[Byte]] =
    ImageCodec.read(bytes).map { img =>
      val rgb = new Array[Int](w2 * h2)
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) {
          rgb(y * w2 + x) = img.getRGB(
            (x.toLong * img.getWidth / w2).toInt,
            (y.toLong * img.getHeight / h2).toInt)
          x += 1
        }
        y += 1
      }
      ImageCodec.png(w2, h2, rgb)
    }

  /** Resize every image blob (real decode → resample → re-encode);
    * non-decodable blobs are dropped. Map-only: blob replaced in place,
    * metadata updated, rows never widen.
    */
  def resizeImages(media: Dataset[MediaRow], w2: Int, h2: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => resizeImagePng(r.content, w2, h2)
      .map(b => r.copy(content = b, width = w2, height = h2)))
  }

  /** Decoded image statistics: the blob is gone, fixed-width row out. */
  case class ImageStats(media_id: Long, width: Long, height: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  case class ImageHash(media_id: Long, ahash: Long)

  /** Average-hash (aHash) from REAL decoded pixels: the [[thresholdHash]]
    * of the image's 8x8 [[grayCells]] — bit k is set iff cell k's mean
    * gray exceeds the image's global mean. Map-only; one long per image
    * leaves the stage. Undecodable blobs are dropped, not faked.
    */
  def imageAHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => ImageCodec.read(r.content).map { img =>
      val (sums, counts) = grayCells(img, 8)
      ImageHash(r.media_id, thresholdHash(sums, counts))
    })
  }

  /** REAL decode: PNG bytes → pixel-sum stats via javax.imageio
    * ([[ImageCodec.decodeSums]]). Undecodable blobs are dropped, not
    * faked.
    */
  def imageStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => ImageCodec.decodeSums(r.content).map {
      case (w, h, sr, sg, sb) => ImageStats(r.media_id, w.toLong, h.toLong, sr, sg, sb)
    })
  }

  private def checkEvery(every: Int): Unit =
    require(every >= 1, s"every must be >= 1, got $every")

  /** The one video frame sequence behind every video operator: container
    * frames 0, every, 2·every, … each paired with its CONTAINER index.
    * The RIFF walk indexes every chunk (cheap pointer arithmetic); only
    * the sampled chunks are decoded — the PNG/JPEG decode is the family's
    * cost (7-8× per scale decade at sf1) — so `every` = k cuts decode
    * work k-fold. Frames `decode` rejects drop: a corrupt frame
    * shortens the sequence, never kills the row, and the survivors keep
    * their container indices.
    */
  private def frames[T](bytes: Array[Byte], every: Int)(
      decode: Array[Byte] => Option[T]): IndexedSeq[(Int, T)] = {
    checkEvery(every)
    val chunks = VideoCodec.frameChunks(bytes)
    (0 until chunks.length by every).flatMap(i => decode(chunks(i)).map(i -> _))
  }

  /** One frame chunk → (width, height, Σgray): the hand-rolled PNG path,
    * the ImageIO fallback for MJPG/exotic PNGs; None when undecodable.
    */
  private def grayFrame(fb: Array[Byte]): Option[(Int, Int, Long)] =
    PngCodec.decodeGraySum(fb).orElse(ImageCodec.read(fb).map(img =>
      (img.getWidth, img.getHeight, grayCells(img, 1)._1(0))))

  /** Per-frame decoded pixel statistics: blob gone, one fixed-width row
    * per frame out. Integer channel sums keep the oracle compare exact.
    */
  case class VideoFrameStats(media_id: Long, frame_idx: Long, width: Long,
                             height: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL video decode: AVI bytes → per-frame pixel-sum stats for every
    * `every`-th container frame ([[frames]]); `frame_idx` is the
    * container index — the right key for keyframe pipelines. The frame
    * fan-out happens on the executors (one media row becomes one stat
    * row per decoded frame) and the blob never survives the stage — at
    * scale only the fixed-width stats shuffle.
    */
  def videoFrameStats(media: Dataset[MediaRow], every: Int = 1): Dataset[VideoFrameStats] = {
    import media.sparkSession.implicits._
    checkEvery(every)
    perPartition(media)(r => frames(r.content, every)(ImageCodec.decodeSums).map {
      case (i, (w, h, sr, sg, sb)) =>
        VideoFrameStats(r.media_id, i.toLong, w.toLong, h.toLong, sr, sg, sb)
    })
  }

  case class VideoHash(media_id: Long, fhash: Long)

  /** 64-bit temporal video fingerprint from REAL decoded frames: the
    * decoded [[frames]] sequence is cut into `nWindows` equal windows
    * and bit k of the [[thresholdHash]] is set when window k's mean gray
    * exceeds the whole-video mean (window luminance weighed by window
    * pixels). Completes the fingerprint-dedup triad with [[imageAHash]]
    * (q117) and [[audioFingerprint]] (q132); feeds the same
    * [[graft.operators.Dedup.hammingNearDup]] banding join. With
    * `every` > 1 the windows cover the SAMPLED sequence, so for content
    * whose gray is constant on runs `every` divides (the stable-shot
    * case, and the near-dup fixture's two-frame windows exactly) the
    * sampled fingerprint equals the every-frame one bit-for-bit. None
    * for non-AVI blobs or fewer than nWindows decoded frames.
    */
  def videoFingerprint(bytes: Array[Byte], every: Int = 1,
                       nWindows: Int = 64): Option[Long] = {
    val f = frames(bytes, every)(grayFrame)
    if (f.length < nWindows) None
    else {
      val lum = new Array[Long](f.length)
      val pix = new Array[Long](f.length)
      var i = 0
      while (i < f.length) {
        val (_, (w, h, s)) = f(i)
        lum(i) = s; pix(i) = w.toLong * h
        i += 1
      }
      Some(thresholdHash(windowSums(lum, nWindows), windowSums(pix, nWindows)))
    }
  }

  /** Fingerprint every video blob: container parse + frame decode die
    * in-stage, an 8-byte hash rides on — the input row to Hamming
    * near-dup banding.
    */
  def videoFingerprints(media: Dataset[MediaRow], every: Int = 1): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    checkEvery(every)
    perPartition(media)(r => videoFingerprint(r.content, every).map(VideoHash(r.media_id, _)))
  }

  case class VideoSceneCuts(media_id: Long, n_frames: Long, n_cuts: Long,
                            first_cut: Long)

  /** Scene-cut detection from REAL decoded frames: a cut at a decoded
    * frame whenever its mean gray differs from the previous decoded
    * frame's — compared by exact integer cross-multiplication (sum_i ·
    * pix_{i-1} ≠ sum_{i-1} · pix_i), no float threshold, so the DuckDB
    * oracle derives cut positions analytically from the fixture's
    * window-gray formula (piecewise-constant windows ⇒ cuts exactly at
    * boundaries whose levels differ). The keyframe-selection primitive:
    * `n_frames` counts decoded frames, `first_cut` is the container
    * index of the first frame that saw a change (-1 for a cut-less
    * video), `n_cuts` the scene count minus one.
    *
    * With `every` > 1 only every `every`-th frame is decoded
    * ([[frames]]): a cut inside a skipped run is attributed to the next
    * sample, and two opposite changes inside one gap cancel — the
    * recall/cost trade, exact whenever `every` divides the content's
    * stable-run length.
    *
    * Scale: map-only like every multimodal stage — container parse +
    * per-frame decode + the linear cut scan all happen inside the map
    * step; the blob dies in-stage and only four fixed-width columns
    * ride on. Non-video or frame-less blobs drop rows.
    */
  def videoSceneCuts(media: Dataset[MediaRow], every: Int = 1): Dataset[VideoSceneCuts] = {
    import media.sparkSession.implicits._
    checkEvery(every)
    perPartition(media) { r =>
      val f = if (r.kind == "video") frames(r.content, every)(grayFrame) else IndexedSeq.empty
      if (f.isEmpty) None
      else {
        var cuts = 0L
        var first = -1L
        var j = 1
        while (j < f.length) {
          val (_, (w0, h0, s0)) = f(j - 1)
          val (i1, (w1, h1, s1)) = f(j)
          if (s1 * (w0.toLong * h0) != s0 * (w1.toLong * h1)) {
            cuts += 1
            if (first < 0) first = i1.toLong
          }
          j += 1
        }
        Some(VideoSceneCuts(r.media_id, f.length.toLong, cuts, first))
      }
    }
  }

  /** Batch feature extraction: one [[perPartition]] step keeps the
    * decoder call amortized per partition (a real codec would init once
    * per partition, not once per row) and streams rows through an
    * iterator.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    perPartition(media)(r => Some(FakeDecoder.decode(r)))
  }

  /** Synthesize a deterministic media table from the documents table —
    * text bytes standing in for undecodable blobs — exercising the real
    * binary-column schema end-to-end.
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      when(pmod(col("doc_id"), lit(2)) === 0, "image").otherwise("audio").as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("width"),
      (pmod(col("doc_id"), lit(48)) + 1).cast("int").as("height"))
      .as[MediaRow]
  }

  /** Feature extraction as a DataFrame (histogram exploded to a stable
    * arity for parquet/oracle friendliness).
    */
  def mediaFeatures(spark: SparkSession, docs: DataFrame): DataFrame =
    extractFeatures(mediaFromDocuments(spark, docs)).toDF()

  /** Resize stub: deterministically resample the blob to `w*h` bytes by
    * nearest-neighbor index mapping (a real impl decodes pixels and
    * resamples; the Spark shape — binary in, binary out, metadata
    * updated, map-only — is identical). Rows never widen: the old blob
    * is replaced, not retained.
    */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      val n = w * h
      val out = new Array[Byte](n)
      if (r.content.length > 0) {
        var i = 0
        while (i < n) {
          out(i) = r.content((i.toLong * r.content.length / n).toInt)
          i += 1
        }
      }
      r.copy(content = out, width = w, height = h)
    }
  }

  /** One sampled frame of a (stub-decoded) video blob. */
  case class Frame(media_id: Long, frame_idx: Int, n_bytes: Long, byte_mean: Double)

  /** Frame sampling (the UDTF shape: one row in, `nFrames` rows out via
    * flatMap): the blob is cut into `nFrames` contiguous chunks — a real
    * impl would seek keyframes — and each frame row carries fixed-width
    * stats only, so the expansion NARROWS the data (nFrames small rows
    * replace one large blob) instead of multiplying blob bytes through
    * the shuffle.
    */
  def sampleFrames(media: Dataset[MediaRow], nFrames: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val len = r.content.length
      (0 until nFrames).iterator.map { f =>
        val from = (f.toLong * len / nFrames).toInt
        val until = ((f + 1).toLong * len / nFrames).toInt
        var sum = 0L
        var i = from
        while (i < until) { sum += r.content(i) & 0xff; i += 1 }
        val n = until - from
        val mean = if (n == 0) 0.0 else math.round(sum.toDouble / n * 10000) / 10000.0
        Frame(r.media_id, f, n.toLong, mean)
      }
    }
  }
}
