package graft.operators

import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque BINARY columns with a typed metadata struct; decode /
  * feature-extract / frame-sample are per-row functions over the bytes.
  *
  * The codecs here are REAL pure-JVM parsers for the three uncompressed
  * container formats that need no media library, each spelled as one
  * writer and one walker that every public encoder and decoder of the
  * format calls: 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER +
  * bottom-up padded pixel rows; [[encodeBmpWith]], [[Bmp]]), PCM16 mono
  * WAV (RIFF chunks; [[encodePcm16]], [[walkWav]]) and YUV4MPEG2, the
  * mjpegtools/ffmpeg raw-video container (plain-text parameter line,
  * "FRAME"-delimited planes, `Cmono` = one 8-bit luma plane per frame;
  * [[encodeCmono]], [[walkY4m]]). Encode synthesizes a spec-valid file
  * from deterministic per-doc parameters; decode parses the BYTES —
  * magic, little-endian header fields, row stride/padding, chunk
  * alignment, frame markers — so a framing bug anywhere (offset
  * arithmetic, endianness, bottom-up row order, word-aligned chunks,
  * frame stride) changes the decoded fields and fails the oracle. The
  * image and video fingerprints share one 8×9 dHash grid,
  * [[dHashGrid]]. Compressed codecs (JPEG/PNG, MP3, H.264) would slot
  * in behind the same decode→struct signatures but need libraries this
  * container doesn't have.
  *
  * Scale shape: every function is a per-row pure function over one
  * payload — no shuffle, no state; at 100 TB these run inside the scan
  * stage exactly like the ImageGeometry family. Real pipelines keep
  * payloads in their own parquet column so predicate pushdown on the
  * metadata never reads the bytes.
  *
  * DOCUMENTED DEVIATION: a PySpark pipeline would run these as Pandas
  * UDFs over `mapInPandas` (Arrow batches amortize the Python-JVM
  * hop); in a Scala library the equivalent morphism is a plain Scala
  * UDF — there is no serialization boundary to amortize, the closure
  * runs in the executor JVM, and the per-row signature keeps the
  * codecs unit-testable without Spark. A JVM batch analogue
  * (mapPartitions over Iterator[Row]) would only add buffer
  * management with no win for per-row-independent byte parsing.
  */
object MultiModal {

  // ---- little-endian byte helpers (shared by all three codecs) ----
  private def le16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def le32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }
  private def rd16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def rd32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  // ------------------------------------------------------------- BMP
  /** Grayscale test-pattern pixel value at row-major index p: the
    * deterministic content both the encoder and the SQL oracle can
    * state — (docId + p) mod 256. */
  @inline private def px(docId: Long, p: Long): Int = ((docId + p) % 256L).toInt

  /** Synthesize a spec-valid uncompressed 24-bit BMP: 14-byte file
    * header, 40-byte BITMAPINFOHEADER, pixel rows stored BOTTOM-UP
    * with each row padded to a 4-byte boundary (the two details naive
    * writers get wrong). B = G = R = the test pattern. */
  def encodeBmp(docId: Long, w: Int, h: Int): Array[Byte] =
    encodeBmpWith(w, h, p => px(docId, p))

  /** The BMP writer: `content(p)` is the gray value of top-down
    * row-major pixel p. */
  private def encodeBmpWith(w: Int, h: Int, content: Long => Int): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val dataSize = stride * h
    val o = new java.io.ByteArrayOutputStream(54 + dataSize)
    o.write('B'); o.write('M')
    le32(o, 54 + dataSize); le32(o, 0); le32(o, 54) // size, reserved, data offset
    le32(o, 40); le32(o, w); le32(o, h)             // info size, width, height(+ = bottom-up)
    le16(o, 1); le16(o, 24)                         // planes, bpp
    le32(o, 0); le32(o, dataSize)                   // BI_RGB, image size
    le32(o, 2835); le32(o, 2835); le32(o, 0); le32(o, 0) // 72 dpi, palette
    var r = h - 1
    while (r >= 0) { // file order is bottom row first
      var c = 0
      while (c < w) {
        val v = content(r.toLong * w + c)
        o.write(v); o.write(v); o.write(v)
        c += 1
      }
      var pad = w * 3
      while (pad < stride) { o.write(0); pad += 1 }
      r -= 1
    }
    o.toByteArray
  }

  /** A BMP whose header passed validation — magic, BITMAPINFOHEADER,
    * uncompressed 24-bit, bottom-up, pixel array within the file — with
    * its pixels read in place. */
  private final class Bmp(b: Array[Byte]) {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
    private val dataOff = rd32(b, 10)
    require(rd32(b, 14) >= 40, "BITMAPINFOHEADER required")
    val w: Int = rd32(b, 18)
    val h: Int = rd32(b, 22)
    require(rd16(b, 28) == 24 && rd32(b, 30) == 0, "only uncompressed 24-bit supported")
    require(w > 0 && h > 0, "top-down/degenerate BMPs unsupported")
    private val stride = (w * 3 + 3) & ~3
    require(b.length >= dataOff + stride * h, "truncated pixel array")

    /** R of the BGR triple at TOP-DOWN row-major pixel p (the file
      * stores rows bottom-up). */
    def red(p: Int): Int = b(dataOff + (h - 1 - p / w) * stride + p % w * 3 + 2) & 0xff
  }

  // ------------------------------------------------- perceptual hash
  /** Avalanched grayscale test pattern for the perceptual-hash entry
    * (mm_near_dup). The mm_decode ramp is PERCEPTUALLY DEGENERATE for
    * hashing — every doc's ramp thresholds to near-identical bit
    * patterns, which would put the whole corpus in one LSH bucket —
    * so this pattern mixes (docId, p) through two multiply-xorshift
    * rounds instead. Every intermediate stays under 2^62 and uses
    * only *, %, //, xor — the operations DuckDB BIGINTs replay
    * without overflow (DuckDB errors on 64-bit wrap, so a full-width
    * multiply mix would not be oracle-spellable). Measured on the
    * sf0.1 corpus: max band-bucket size 7, zero non-planted pairs
    * within Hamming 6. The oracles replay it through one SQL spelling,
    * [[sqlPxMix]], inside [[sqlDHash]] (images, video frames) and
    * [[sqlEnergyHash]] (audio). */
  @inline private[graft] def pxMix(docId: Long, p: Long): Int = {
    val t1 = (docId * 7919L + p * 104729L + 12345L) % 2097152L
    val t2 = (t1 * 2654435761L) % 2147483648L
    val t3 = t2 ^ (t2 / 32768L)
    val t4 = (t3 * 1597334677L) % 2147483648L
    val t5 = t4 ^ (t4 / 65536L)
    ((t5 / 512L) % 256L).toInt
  }

  /** The source-pixel index the planted near-dup variant perturbs:
    * the pixel dHash's 8×9 sample grid reads at cell (y=3, x=4). With
    * w = h ≥ 16 every grid cell samples a DISTINCT pixel, so the
    * perturbation lands in exactly one sample and flips at most the
    * two dHash bits comparing against its row neighbors — Hamming ≤ 2
    * by construction, caught by ≥1 of 4 bands (Manku's pigeonhole). */
  @inline private def perturbIndex(w: Int, h: Int): Long =
    (3L * h / 8) * w + (4L * w / 9)

  /** Mixed-content BMP for the perceptual-hash corpus; `perturb` adds
    * 128 (mod 256) to the single sampled pixel above — the planted
    * near-duplicate. Same spec-valid 24-bit container as
    * [[encodeBmp]]. */
  def encodeBmpMixed(docId: Long, w: Int, h: Int, perturb: Boolean): Array[Byte] = {
    val pp = if (perturb) perturbIndex(w, h) else -1L
    encodeBmpWith(w, h, p =>
      if (p == pp) (pxMix(docId, p) + 128) % 256 else pxMix(docId, p))
  }

  /** The 8×9 dHash sample grid over `at`, the pixel at top-down
    * row-major index p of an h×w grayscale image: nearest-neighbor
    * samples sy = y·h/8, sx = x·w/9, bit (y,x) = 1 iff
    * sample(y,x+1) > sample(y,x) — 72 reads, whatever the image size.
    * Pure integer pipeline, so the oracle replays it bit-for-bit in
    * SQL. Unlike aHash, no global mean: a perturbed pixel can only flip
    * the ≤2 bits that compare against it, which is what makes the
    * planted-pair Hamming bound provable. */
  private def dHashGrid(h: Int, w: Int, at: Int => Double): Long = {
    var bits = 0L
    var y = 0
    while (y < 8) {
      val row = y * h / 8 * w
      var prev = at(row)
      var x = 0
      while (x < 8) {
        val cur = at(row + (x + 1) * w / 9)
        if (cur > prev) bits |= 1L << (y * 8 + x)
        prev = cur
        x += 1
      }
      y += 1
    }
    bits
  }

  /** 64-bit difference hash (dHash) of a decoded grayscale image. */
  def dHash64(px: Array[Double], h: Int, w: Int): Long = dHashGrid(h, w, px(_))

  /** [[dHash64]] of a BMP's R channel, sampled straight from the
    * validated file bytes. */
  private[graft] def bmpDHash64(b: Array[Byte]): Long = {
    val m = new Bmp(b)
    dHashGrid(m.h, m.w, m.red(_))
  }

  /** Decoded BMP header fields + the sum of the R channel in TOP-DOWN
    * row-major order (proves the bottom-up de-interleave, not just the
    * header offsets — though a sum is row-order-invariant, the stride
    * arithmetic must be right to hit the R bytes at all). */
  case class BmpInfo(width: Int, height: Int, bpp: Int, pxSum: Long)

  def decodeBmp(b: Array[Byte]): BmpInfo = {
    val m = new Bmp(b)
    var sum = 0L
    var p = 0
    while (p < m.w * m.h) { sum += m.red(p); p += 1 }
    BmpInfo(m.w, m.h, 24, sum)
  }

  /** Full pixel decode: the R channel as a top-down row-major
    * Array[Double] — the bridge from the binary media column into the
    * ImageGeometry family (resize/crop/augment run on exactly this
    * layout). Same header validation as [[decodeBmp]]. */
  def decodeBmpPixels(b: Array[Byte]): Array[Double] = {
    val m = new Bmp(b)
    Array.tabulate(m.w * m.h)(m.red(_).toDouble)
  }

  // ------------------------------------------------------------- WAV
  /** Test-pattern PCM16 sample i for a doc: (docId·31 + i·7) mod 2003
    * − 1001 ∈ [−1001, 1001] — signed, so the decoder's int16
    * sign-extension is exercised, and exactly restatable in SQL. */
  @inline private def sample(docId: Long, i: Long): Int =
    ((docId * 31L + i * 7L) % 2003L).toInt - 1001

  /** The WAV writer: a spec-valid PCM16 mono file — RIFF header, fmt
    * chunk (PCM, 1 channel, 16-bit), data chunk of n little-endian
    * signed samples `sample(i)`. */
  private def encodePcm16(rate: Int, n: Int, sample: Int => Int): Array[Byte] = {
    val dataSize = n * 2
    val o = new java.io.ByteArrayOutputStream(44 + dataSize)
    o.write('R'); o.write('I'); o.write('F'); o.write('F')
    le32(o, 36 + dataSize)
    o.write('W'); o.write('A'); o.write('V'); o.write('E')
    o.write('f'); o.write('m'); o.write('t'); o.write(' ')
    le32(o, 16); le16(o, 1); le16(o, 1) // fmt size, PCM, mono
    le32(o, rate); le32(o, rate * 2)    // byte rate = rate * block align
    le16(o, 2); le16(o, 16)             // block align, bits
    o.write('d'); o.write('a'); o.write('t'); o.write('a')
    le32(o, dataSize)
    var i = 0
    while (i < n) { le16(o, sample(i) & 0xffff); i += 1 }
    o.toByteArray
  }

  def encodeWav(docId: Long, sampleRate: Int, n: Int): Array[Byte] =
    encodePcm16(sampleRate, n, i => sample(docId, i))

  /** Payload offsets of a walked PCM16 WAV: the fmt chunk's, the data
    * chunk's, and the data chunk's sample count. */
  private final case class Pcm16(fmt: Int, data: Int, nSamples: Int)

  /** The RIFF/WAVE chunk walk: checks the magic, then WALKS the chunks
    * (8-byte headers, word-aligned payloads, each within the file)
    * instead of assuming the canonical 44-byte layout, so files with
    * extra chunks (LIST/INFO metadata) decode too. A fmt chunk must be
    * PCM 16-bit and precede data; both must appear — a truncated tail
    * would drop the data chunk silently otherwise. When a chunk kind
    * repeats, the last one counts. */
  private def walkWav(b: Array[Byte]): Pcm16 = {
    require(b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E', "not a RIFF/WAVE")
    var off = 12
    var fmt = -1; var data = -1; var nSamples = 0
    while (off + 8 <= b.length) {
      val id = new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = rd32(b, off + 4)
      require(size >= 0 && off + 8 + size <= b.length, s"truncated chunk $id")
      if (id == "fmt ") {
        require(rd16(b, off + 8) == 1, "only PCM supported")
        require(rd16(b, off + 22) == 16, "only 16-bit supported")
        fmt = off + 8
      } else if (id == "data") {
        require(fmt >= 0, "data chunk before fmt")
        data = off + 8
        nSamples = size / 2
      }
      off += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    require(fmt >= 0, "no fmt chunk")
    require(data >= 0, "no data chunk")
    Pcm16(fmt, data, nSamples)
  }

  /** Decoded WAV fields + the exact sum of the signed samples. */
  case class WavInfo(sampleRate: Int, channels: Int, bits: Int,
      nSamples: Int, sampleSum: Long)

  def decodeWav(b: Array[Byte]): WavInfo = {
    val pcm = walkWav(b)
    var sum = 0L
    var i = 0
    while (i < pcm.nSamples) {
      sum += rd16(b, pcm.data + i * 2).toShort // sign-extend int16
      i += 1
    }
    WavInfo(rd32(b, pcm.fmt + 4), rd16(b, pcm.fmt + 2), 16, pcm.nSamples, sum)
  }

  // ---- Column wrappers ----
  val encodeBmpUdf = udf((docId: Long, w: Int, h: Int) => encodeBmp(docId, w, h))
  val encodeBmpMixedUdf = udf((docId: Long, w: Int, h: Int, perturb: Boolean) =>
    encodeBmpMixed(docId, w, h, perturb))
  val decodeBmpUdf = udf((b: Array[Byte]) => decodeBmp(b))
  val decodeBmpPixelsUdf = udf((b: Array[Byte]) => decodeBmpPixels(b))
  val dHash64Udf = udf((b: Array[Byte]) => bmpDHash64(b))
  val encodeWavUdf = udf((docId: Long, rate: Int, n: Int) => encodeWav(docId, rate, n))
  val decodeWavUdf = udf((b: Array[Byte]) => decodeWav(b))

  // ------------------------------------------------------ YUV4MPEG2
  /** Test-pattern luma value for (doc, frame, plane index) — stated as
    * a mod-256 ramp both the encoder and the SQL oracle restate. */
  @inline private def luma(docId: Long, f: Int, p: Int): Int =
    ((docId * 11L + f * 17L + p) % 256L).toInt

  /** The YUV4MPEG2 writer: the plain-text parameter line
    * (`YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 Cmono\n`), then per frame f a
    * `FRAME\n` marker followed by the raw w×h luma plane `luma(f, p)`
    * (Cmono = no chroma planes). */
  private def encodeCmono(w: Int, h: Int, nFrames: Int,
      luma: (Int, Int) => Int): Array[Byte] = {
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n"
    val o = new java.io.ByteArrayOutputStream(
      header.length + nFrames * (6 + w * h))
    o.write(header.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, header.length)
    var f = 0
    while (f < nFrames) {
      o.write('F'); o.write('R'); o.write('A'); o.write('M'); o.write('E'); o.write('\n')
      val n = w * h
      var p = 0
      while (p < n) { o.write(luma(f, p)); p += 1 }
      f += 1
    }
    o.toByteArray
  }

  def encodeY4m(docId: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
    encodeCmono(w, h, nFrames, (f, p) => luma(docId, f, p))

  /** A walked Cmono stream: its parameters and each frame's plane
    * offset, in file order. */
  private final case class Y4m(w: Int, h: Int, fpsNum: Int, fpsDen: Int,
      planes: Array[Int])

  /** The YUV4MPEG2 walk: PARSE the parameter line (tagged tokens, order
    * not fixed by the spec; only Cmono is accepted), then walk the
    * `FRAME` markers — each may carry its own parameters up to its
    * newline — and check every w×h plane lies within the file. A
    * framing bug (marker offset, header-length arithmetic, frame
    * stride) shifts the plane offsets and changes every caller's
    * result. */
  private def walkY4m(b: Array[Byte]): Y4m = {
    var eol = 0
    while (eol < b.length && b(eol) != '\n') eol += 1
    require(eol < b.length, "no parameter-line terminator")
    val toks = new String(b, 0, eol,
      java.nio.charset.StandardCharsets.US_ASCII).split(" ")
    require(toks(0) == "YUV4MPEG2", "not a YUV4MPEG2 stream")
    var w = -1; var h = -1; var fn = 0; var fd = 0
    var cs = "420jpeg" // the spec's default when no C tag is present
    for (t <- toks.drop(1); if t.nonEmpty) t.charAt(0) match {
      case 'W' => w = t.substring(1).toInt
      case 'H' => h = t.substring(1).toInt
      case 'F' =>
        val pr = t.substring(1).split(":")
        fn = pr(0).toInt; fd = pr(1).toInt
      case 'C' => cs = t.substring(1)
      case _ => () // Ip/A/X tags don't affect mono frame geometry
    }
    require(w > 0 && h > 0, "missing/invalid W or H parameter")
    require(cs == "mono", "only Cmono (single 8-bit luma plane) supported")
    val frameBytes = w * h
    val planes = Array.newBuilder[Int]
    var off = eol + 1
    var f = 0
    while (off < b.length) {
      require(off + 5 <= b.length && b(off) == 'F' && b(off + 1) == 'R' &&
        b(off + 2) == 'A' && b(off + 3) == 'M' && b(off + 4) == 'E',
        s"missing FRAME marker at offset $off")
      var fe = off + 5
      while (fe < b.length && b(fe) != '\n') fe += 1
      require(fe < b.length, "unterminated FRAME parameter line")
      off = fe + 1
      require(off + frameBytes <= b.length, s"truncated frame $f")
      planes += off
      off += frameBytes
      f += 1
    }
    Y4m(w, h, fn, fd, planes.result())
  }

  /** Decoded stream parameters + per-SAMPLED-frame luma sums — the real
    * frame sampler: [[walkY4m]] counts every frame, and the plane of
    * every k-th is summed. */
  case class Y4mInfo(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      nFrames: Int, sampleSums: Array[Long])

  def decodeY4mSampled(b: Array[Byte], k: Int): Y4mInfo = {
    require(k >= 1, "sample stride must be >= 1")
    val s = walkY4m(b)
    val sums = s.planes.indices.by(k).map { f =>
      var sum = 0L
      var p = s.planes(f)
      val end = p + s.w * s.h
      while (p < end) { sum += (b(p) & 0xff); p += 1 }
      sum
    }
    Y4mInfo(s.w, s.h, s.fpsNum, s.fpsDen, s.planes.length, sums.toArray)
  }

  val encodeY4mUdf = udf((docId: Long, w: Int, h: Int, nF: Int) =>
    encodeY4m(docId, w, h, nF))
  val decodeY4mUdf = udf((b: Array[Byte], k: Int) => decodeY4mSampled(b, k))

  // --------------------------------------- video perceptual hashing
  /** Per-frame luma seed for the mixed-content video corpus: each
    * frame gets its own avalanched pxMix stream (the plain
    * [[luma]] mod-256 ramp is gradient-flat, so every ramp video
    * dHashes to the same few values and banding degenerates — the
    * same reason [[encodeBmpMixed]] exists for images). The seed stays
    * ≤ ~1.3e14 at any SF's doc_id, so pxMix's first multiply is far
    * under 2^62 and the oracle replays it in DuckDB BIGINTs. */
  @inline private def frameSeed(docId: Long, f: Int): Long =
    docId * 131L + f * 997L + 1L

  /** Mixed-content YUV4MPEG2 for the video near-dup corpus; `perturb`
    * adds 128 (mod 256) to FRAME 0's single sampled pixel at
    * [[perturbIndex]] — the planted near-duplicate differs from its
    * source by ≤ 2 dHash bits on frame 0 and is bit-identical on
    * every later frame, so banded recall is guaranteed by the
    * untouched frames (Manku's argument, lifted to sequences). Same
    * spec-valid Cmono container as [[encodeY4m]]. */
  def encodeY4mMixed(docId: Long, w: Int, h: Int, nFrames: Int,
      perturb: Boolean): Array[Byte] = {
    val pp = if (perturb) perturbIndex(w, h) else -1L
    encodeCmono(w, h, nFrames, (f, p) => {
      val v = pxMix(frameSeed(docId, f), p)
      if (f == 0 && p == pp) (v + 128) % 256 else v
    })
  }

  /** Decode a Cmono YUV4MPEG2 stream to one [[dHash64]] per frame —
    * the video fingerprint sequence: [[walkY4m]]'s frames, each hashed
    * by [[dHashGrid]] straight off the plane bytes, so decode+hash is
    * O(frames) header walks + O(72) reads per frame, not a full-plane
    * pass. */
  def decodeY4mFrameHashes(b: Array[Byte]): Array[Long] = {
    val s = walkY4m(b)
    s.planes.map(off => dHashGrid(s.h, s.w, p => b(off + p) & 0xff))
  }

  val encodeY4mMixedUdf = udf((docId: Long, w: Int, h: Int, nF: Int,
    perturb: Boolean) => encodeY4mMixed(docId, w, h, nF, perturb))
  val y4mFrameHashesUdf = udf((b: Array[Byte]) => decodeY4mFrameHashes(b))

  // --------------------------------------- audio perceptual hashing
  /** Audio-stream seed for the mixed-content WAV corpus — the audio
    * sibling of [[frameSeed]] (the plain [[sample]] ramp is
    * envelope-flat: every ramp file's window energies are near-equal
    * and the fingerprint degenerates). Stays ≤ ~3.8e10 at any SF's
    * doc_id, so pxMix's first multiply is far under 2^62. */
  @inline private def audioSeed(docId: Long): Long = docId * 37L + 5L

  /** Number of energy windows in the audio fingerprint: 65 windows →
    * 64 adjacent-energy comparisons → one 64-bit hash, the exact 1-D
    * analogue of dHash's 8×9 grid. */
  val AudioWindows = 65

  /** Mixed-content PCM16 mono WAV for the audio near-dup corpus:
    * 65·winLen avalanched samples (pxMix bytes recentred to
    * [−128, 127] — signed, so int16 sign-extension stays exercised).
    * `perturb` adds +64 to every sample of WINDOW 0 — the planted
    * near-duplicate: window 0's energy feeds ONLY fingerprint bit 0
    * (the E(1) > E(0) comparison), so the perturbed copy differs by
    * ≤ 1 bit while every other window is bit-identical. Same
    * spec-valid RIFF container as [[encodeWav]], rate 8000. */
  def encodeWavMixed(docId: Long, winLen: Int, perturb: Boolean): Array[Byte] = {
    val seed = audioSeed(docId)
    encodePcm16(8000, AudioWindows * winLen, i => {
      val base = pxMix(seed, i.toLong) - 128
      if (perturb && i < winLen) base + 64 else base
    })
  }

  /** 64-bit energy-envelope fingerprint of a PCM16 mono WAV — the
    * audio analogue of [[dHash64]]: split [[walkWav]]'s data chunk
    * into [[AudioWindows]] equal windows, window energy = Σ s² (exact
    * BIGINTs: |s| ≤ 32767 so each term ≤ 2^30 and any realistic
    * window sum stays far under 2^63), bit x = 1 iff
    * E(x+1) > E(x). Pure integer pipeline, so the SQL oracle replays
    * it bit-for-bit. */
  def wavEnergyHash64(b: Array[Byte]): Long = {
    val pcm = walkWav(b)
    require(pcm.nSamples % AudioWindows == 0,
      s"sample count ${pcm.nSamples} not divisible into $AudioWindows windows")
    val m = pcm.nSamples / AudioWindows
    val energies = new Array[Long](AudioWindows)
    var i = 0
    while (i < pcm.nSamples) {
      val s = rd16(b, pcm.data + i * 2).toShort.toLong
      energies(i / m) += s * s
      i += 1
    }
    var bits = 0L
    var x = 0
    while (x < 64) {
      if (energies(x + 1) > energies(x)) bits |= 1L << x
      x += 1
    }
    bits
  }

  val encodeWavMixedUdf = udf((docId: Long, winLen: Int, perturb: Boolean) =>
    encodeWavMixed(docId, winLen, perturb))
  val wavEnergyHash64Udf = udf((b: Array[Byte]) => wavEnergyHash64(b))

  // ------------------------------------- DuckDB replays for the oracles
  // Each generator states its kernel's integer arithmetic in its own
  // SQL literals — it reads none of the constants above, so an oracle
  // built from it stays an independent check of the Scala kernel.

  /** DuckDB replay of [[pxMix]]: CTEs `mix0`…`mix2` and `mix` over
    * `from`, whose rows carry `seed` and `p`; `mix` keeps `cols` and
    * adds `vv` = pxMix(seed, p). Every intermediate stays under 2^62,
    * so DuckDB BIGINT arithmetic never overflows. */
  private def sqlPxMix(from: String, cols: Seq[String]): String = {
    val c = cols.mkString(", ")
    s"""mix0 AS (SELECT $c,
       |   (seed * 7919 + p * 104729 + 12345) % 2097152 AS t1 FROM $from),
       |mix1 AS (SELECT $c, (t1 * 2654435761) % 2147483648 AS t2 FROM mix0),
       |mix2 AS (SELECT $c,
       |   (xor(t2, t2 // 32768) * 1597334677) % 2147483648 AS t4 FROM mix1),
       |mix AS (SELECT $c,
       |   (xor(t4, t4 // 65536) // 512) % 256 AS vv FROM mix2)""".stripMargin
  }

  /** DuckDB replay of the image fingerprint
    * `dHash64(decode(encodeBmpMixed(src, w, w, pert)))`, or with
    * `framed` of the video fingerprints
    * `decodeY4mFrameHashes(encodeY4mMixed(src, w, w, nf, pert))`.
    * `corpus` rows carry (id, src, pert, w), the `carry` columns, and
    * `nf` (≤ 4 frames) when framed. Emits CTEs ending in
    * `ph`(id, carry…, [nf, f,] ph): one 64-bit hash per image, or per
    * frame f. The chain: the 8×9 sample grid, pxMix pixels (frame
    * seeds src·131 + f·997 + 1), the planted +128 pixel (frame 0
    * only), threshold bits, and the 64-bit pack (bit 63 via the signed
    * literal: DuckDB errors on 1 << 63). */
  private[graft] def sqlDHash(corpus: String, carry: Seq[String] = Nil,
      framed: Boolean = false): String = {
    val keys = carry ++ (if (framed) Seq("nf", "f") else Nil)
    val k = keys.map(_ + ", ").mkString
    val (from, seed, pert) =
      if (framed) ("fr", "src * 131 + f * 997 + 1", "pert AND f = 0")
      else (corpus, "src", "pert")
    val frames =
      if (framed) s"""fr AS (SELECT c.*, CAST(t0.f AS BIGINT) AS f
         | FROM $corpus c, range(0, 4) t0(f) WHERE t0.f < c.nf),
         |""".stripMargin
      else ""
    s"""${frames}px AS (SELECT id, pert, w, ${k}t1.y, t2.x,
       |   ((y * w) // 8) * w + ((x * w) // 9) AS p, $seed AS seed
       | FROM $from, range(0, 8) t1(y), range(0, 9) t2(x)),
       |${sqlPxMix("px", Seq("id", "pert", "w") ++ keys ++ Seq("y", "x", "p"))},
       |vals AS MATERIALIZED (SELECT id, ${k}y, x,
       |   CASE WHEN $pert AND p = ((3 * w) // 8) * w + ((4 * w) // 9)
       |        THEN (vv + 128) % 256 ELSE vv END AS val FROM mix),
       |bits AS (SELECT a.id, ${keys.map("a." + _ + ", ").mkString}a.y, a.x,
       |   CASE WHEN n.val > a.val THEN 1 ELSE 0 END AS bit
       | FROM vals a JOIN vals n
       |   ON a.id = n.id${if (framed) " AND a.f = n.f" else ""} AND a.y = n.y
       |   AND n.x = a.x + 1
       | WHERE a.x < 8),
       |ph AS MATERIALIZED (SELECT id, ${k}CAST(sum(CASE WHEN bit = 1 THEN
       |   (CASE WHEN y * 8 + x = 63 THEN -9223372036854775808
       |         ELSE 1::BIGINT << (y * 8 + x) END) ELSE 0 END) AS BIGINT) AS ph
       | FROM bits GROUP BY ${("id" +: keys).mkString(", ")})""".stripMargin
  }

  /** DuckDB replay of the audio fingerprint
    * `wavEnergyHash64(encodeWavMixed(src, m, pert))`. `corpus` rows
    * carry (id, src, pert, m) and the `carry` columns. Emits CTEs
    * ending in `ph`(id, carry…, ph): 65 windows of m pxMix samples
    * (seed src·37 + 5, recentred by −128; the planted copy adds +64 to
    * window 0), exact BIGINT window energies Σs², bit x = E(x+1) >
    * E(x), and the 64-bit pack. */
  private[graft] def sqlEnergyHash(corpus: String, carry: Seq[String] = Nil): String = {
    val k = carry.map(_ + ", ").mkString
    val grp = ("id" +: carry).mkString(", ")
    s"""px AS (SELECT id, pert, ${k}t1.w, t1.w * m + t2.j AS p,
       |   src * 37 + 5 AS seed
       | FROM $corpus, range(0, 65) t1(w), range(0, 6) t2(j) WHERE t2.j < m),
       |${sqlPxMix("px", Seq("id", "pert") ++ carry ++ Seq("w", "p"))},
       |en AS MATERIALIZED (SELECT $grp, w, CAST(sum(s * s) AS BIGINT) AS e
       | FROM (SELECT id, ${k}w,
       |   CASE WHEN pert AND w = 0 THEN vv - 128 + 64 ELSE vv - 128 END AS s
       |   FROM mix)
       | GROUP BY $grp, w),
       |bits AS (SELECT a.id, ${carry.map("a." + _ + ", ").mkString}a.w AS x,
       |   CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
       | FROM en a JOIN en n ON a.id = n.id AND n.w = a.w + 1
       | WHERE a.w < 64),
       |ph AS MATERIALIZED (SELECT $grp, CAST(sum(CASE WHEN bit = 1 THEN
       |   (CASE WHEN x = 63 THEN -9223372036854775808
       |         ELSE 1::BIGINT << x END) ELSE 0 END) AS BIGINT) AS ph
       | FROM bits GROUP BY $grp)""".stripMargin
  }
}
