package graft.operators

import graft.QueryPack
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL JPEG pixel decode — the closure of the one codec seam
  * [[PngCodecOps]] left open (JPEG's entropy-coded DCT data), through
  * `mapPartitions` (the [[PngCodecOps]] argument verbatim: a bit-level
  * stateful entropy stream does not belong in an expression tree; a
  * per-partition loop over plain JVM code is the canonical
  * batched-decode shape, scan-local, pure map parallelism at 100 TB).
  *
  * ONE codec path in each direction:
  *   - decode: one marker walk (SOI/APPn/COM/DQT/DHT/DRI/SOF0/SOF2/SOS/
  *     EOI) and one scan decoder. Every scan decodes into per-block
  *     zigzag coefficient buffers over the padded MCU grid: REAL
  *     Huffman entropy decode (canonical tables rebuilt from the file's
  *     own DHT segments per Annex F, MSB-first bit reader with 0xFF00
  *     unstuffing), DC prediction, run-length AC (ZRL, general EOB
  *     runs), successive approximation (point-transformed first scans,
  *     one-bit DC refinements, the G.1.2.3 AC correction procedure) and
  *     restart intervals (byte-aligned RSTn consumption, predictors and
  *     EOB runs reset). A SEQUENTIAL (SOF0) frame is the one-scan case —
  *     one interleaved DC+AC scan of every component, the band 0..63 at
  *     Al = 0 — and reconstructs as soon as that scan completes, so a
  *     file that lacks only its EOI still decodes; a PROGRESSIVE (SOF2)
  *     frame accumulates any number of DC/AC band scans and
  *     reconstructs at EOI. One reconstruction serves both: dequant,
  *     separable IDCT, nearest-neighbor chroma upsampling and the JFIF
  *     YCbCr→RGB conversion.
  *   - encode: one frame writer (SOI, APP0, DQT, SOFn, DHT, DRI, then a
  *     scan script, EOI). Baseline is the single sequential scan; the
  *     spectral-selection progressive script is one DC scan plus one
  *     1..63 AC scan per component; the successive-approximation script
  *     is libjpeg's `jpeg_simple_progression` shape.
  *
  * Honest scope, stated: 8-bit Huffman DCT — single-component
  * grayscale, 3-component 4:4:4 color, and 3-component 4:2:0
  * CHROMA-SUBSAMPLED color (Y at 2×2, chroma at 1×1, the common camera
  * layout) — the feature set libjpeg's standard progression emits,
  * proven by decoding ImageIO-WRITTEN progressive files in the spec.
  * Arithmetic coding, extended/lossless frames, 16-bit quant tables and
  * other sampling grids return 'corrupt' rather than pretending — the
  * same explicit-boundary discipline as [[MultimodalOps]]'s header
  * walks, one real layer deeper.
  *
  * Correctness is pinned twice, the [[PngCodecOps]] convention:
  *   - the ORACLE fixtures are block-constant rasters (one value per
  *     8×8 block, closed-form in (doc_id, bx, by)) encoded with a DC
  *     quantization step of exactly 8 — a constant block's forward DCT
  *     is DC = 8·(v−128) with zero AC energy, so quantization is
  *     LOSSLESS for them and the decode must recover the formula
  *     EXACTLY, through real Huffman bytes, real byte stuffing and real
  *     DC prediction chains (the DuckDB oracle recomputes the stats
  *     codec-free, as with `png_pixels`);
  *   - JpegCodecSpec encodes fully-textured rasters (every AC path,
  *     negative coefficients, ZRL runs) and cross-decodes them with
  *     `javax.imageio` — an independent JPEG implementation — asserting
  *     per-pixel agreement within ±2 (the IDCT is approximation-defined
  *     by the standard: libjpeg's fixed-point islow vs this decoder's
  *     double-precision transform may legitimately differ by ±1 each;
  *     bit-exactness across implementations is NOT a JPEG property,
  *     which is exactly why the oracle path uses the lossless
  *     block-constant profile).
  *
  * The encoder writes its OWN canonical Huffman tables into DHT (12 DC
  * categories at length 5, the 162 baseline AC symbols at length 8)
  * rather than hard-coding the standard's example tables — any
  * spec-valid table is a correct JPEG, the decoder must read tables
  * from the file anyway (that is the load-bearing path for real-world
  * files), and ImageIO accepting these files is the proof the encoding
  * is standard-conformant. */
object JpegCodecOps {

  /** Dims guard before any allocation (the [[PngCodecOps.MaxSamples]]
    * discipline). */
  val MaxSamples: Long = 1L << 22

  // ---- fixture shapes -------------------------------------------------

  private[operators] def fixtureDims(docId: Long): (Int, Int) =
    ((docId % 20 + 4).toInt, (docId % 14 + 4).toInt)

  /** The closed-form block-constant sample: every pixel of block
    * (bx, by) carries this value — lossless under a DC quant step of 8,
    * so the decoded raster IS the formula. */
  private[operators] def fixtureSample(docId: Long, bx: Int, by: Int): Int =
    ((docId * 37 + bx * 11 + by * 23) % 256).toInt

  /** The color twin's block-constant YCbCr planes (c = 0 Y, 1 Cb,
    * 2 Cr) — fed to the encoder IN YCbCr (no RGB roundtrip), so the DCT
    * path stays lossless and the only arithmetic between the formula
    * and the decoded RGB is the spec-defined conversion the oracle
    * mirrors. */
  private[operators] def fixtureYcc(docId: Long, c: Int, bx: Int, by: Int): Int = c match {
    case 0 => ((docId * 37 + bx * 11 + by * 23) % 256).toInt
    case 1 => ((docId * 13 + bx * 7 + by * 5) % 256).toInt
    case _ => ((docId * 29 + bx * 3 + by * 19) % 256).toInt
  }

  // ---- shared tables and frame geometry -------------------------------

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Quantization table, zigzag order: DC step 8 (the lossless dial for
    * block-constant fixtures), AC steps 16. */
  private[operators] val QuantZig: Array[Int] =
    Array.tabulate(64)(i => if (i == 0) 8 else 16)

  // cos((2x+1)uπ/16) with the C(u) normalizer folded in — shared by the
  // separable FDCT (encoder) and IDCT (decoder); computed once per JVM
  private[operators] val CosT: Array[Array[Double]] = Array.tabulate(8, 8)((x, u) =>
    (if (u == 0) 1.0 / math.sqrt(2) else 1.0) *
      math.cos((2 * x + 1) * u * math.Pi / 16))

  /** A frame's block geometry (A.1.1, A.2): each component's plane at
    * its own resolution, the padded MCU-multiple block grid that
    * interleaved scans cover (blocks in raster order — the index of
    * every coefficient buffer), and the component's own ceil grid that
    * single-component scans cover (padded-only blocks carry no visible
    * pixels). The writer, the decoder and the reconstruction all walk
    * blocks through it. */
  private final class Frame(val w: Int, val h: Int, val hs: Array[Int], val vs: Array[Int]) {
    val ncomp: Int = hs.length
    val hMax: Int = hs.max
    val vMax: Int = vs.max
    val pw: Array[Int] = Array.tabulate(ncomp)(c => (w * hs(c) + hMax - 1) / hMax)
    val ph: Array[Int] = Array.tabulate(ncomp)(c => (h * vs(c) + vMax - 1) / vMax)
    val mcusX: Int = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (h + 8 * vMax - 1) / (8 * vMax)
    val bW: Array[Int] = Array.tabulate(ncomp)(c => mcusX * hs(c))
    val bH: Array[Int] = Array.tabulate(ncomp)(c => mcusY * vs(c))
    val cBW: Array[Int] = Array.tabulate(ncomp)(c => (pw(c) + 7) / 8)
    val cBH: Array[Int] = Array.tabulate(ncomp)(c => (ph(c) + 7) / 8)

    /** Visit one scan's blocks in coding order: MCU-interleaved when the
      * scan carries several components, the component's own grid (one
      * block per MCU) when it carries one. `restart(n)` runs before
      * every restart interval but the first, with its RSTn number;
      * `block(i, bi)` gets the scan-component index and the block's
      * index into the padded grid. */
    def walk(comps: Array[Int], interval: Int)(restart: Int => Unit)(
        block: (Int, Int) => Unit): Unit = {
      var mcu = 0
      def nextMcu(): Unit = {
        if (interval > 0 && mcu > 0 && mcu % interval == 0) restart((mcu / interval - 1) % 8)
        mcu += 1
      }
      if (comps.length > 1)
        for (my <- 0 until mcusY; mx <- 0 until mcusX) {
          nextMcu()
          for (i <- comps.indices) {
            val c = comps(i)
            for (v <- 0 until vs(c); hh <- 0 until hs(c))
              block(i, (my * vs(c) + v) * bW(c) + mx * hs(c) + hh)
          }
        }
      else {
        val c = comps(0)
        for (by <- 0 until cBH(c); bx <- 0 until cBW(c)) {
          nextMcu()
          block(0, by * bW(c) + bx)
        }
      }
    }
  }

  // ---- encoder (fixture-side; a real JFIF writer) ---------------------

  // canonical Huffman tables the encoder writes into DHT:
  // DC: 12 category symbols, all code length 5 (codes 00000..01011 —
  // never the all-ones code). AC: the 162 baseline (run,size) symbols
  // in standard symbol order, all code length 8 (codes 0..161).
  private val DcBits: Array[Int] = { val b = new Array[Int](17); b(5) = 12; b }
  private val DcVals: Array[Int] = (0 to 11).toArray
  private val AcBits: Array[Int] = { val b = new Array[Int](17); b(8) = 162; b }
  private val AcVals: Array[Int] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[Int]
    syms += 0x00 // EOB
    for (r <- 0 to 15; s <- 1 to 10) syms += ((r << 4) | s)
    syms += 0xF0 // ZRL
    syms.toArray
  }

  /** Canonical code assignment (C.2): symbols in table order get
    * increasing codes within increasing lengths. Returns
    * symbol -> (code, length). */
  private def canonicalCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len)) {
        out(vals(k)) = (code, len)
        code += 1
        k += 1
      }
      code <<= 1
    }
    out.toMap
  }

  private val DcCodes = canonicalCodes(DcBits, DcVals)
  private val AcCodes = canonicalCodes(AcBits, AcVals)

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** Pad the current partial byte with 1-bits (F.1.2.3) — before a
      * restart marker or the end of the scan. */
    def align(): Unit =
      if (nbits > 0) {
        acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
        out.write(acc)
        if (acc == 0xFF) out.write(0x00)
        acc = 0; nbits = 0
      }
    /** Emit a marker pair UNSTUFFED (markers are not entropy data). */
    def marker(m: Int): Unit = { align(); out.write(0xFF); out.write(m) }
    def finish(): Array[Byte] = { align(); out.toByteArray }
  }

  /** JPEG magnitude category (number of bits) of a value. */
  private def category(v: Int): Int = {
    var a = math.abs(v); var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Append `v` in the standard's signed-magnitude bit form: positive
    * values verbatim, negative values as v-1 in `category(v)` low bits
    * (F.1.2.1.1/F.12). */
  private def putAmplitude(bw: BitWriter, v: Int): Unit = {
    val t = category(v)
    if (t > 0) bw.put(if (v >= 0) v else v + (1 << t) - 1, t)
  }

  private def putAc(bw: BitWriter, symbol: Int): Unit = {
    val (code, len) = AcCodes(symbol)
    bw.put(code, len)
  }

  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    Array(0xFF.toByte, marker.toByte,
      (((payload.length + 2) >> 8) & 0xff).toByte,
      ((payload.length + 2) & 0xff).toByte) ++ payload

  private def dhtPayload(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Array[Byte] =
    Array(((tc << 4) | th).toByte) ++
      (1 to 16).map(l => bits(l).toByte).toArray ++ vals.map(_.toByte)

  /** Forward DCT + quantize of one 8×8 sample block, zigzag order.
    * Separable transform over the precomputed basis (2·8³ multiplies
    * per block — a per-element cos() here dominated the whole fixture
    * encode). */
  private def quantizedBlock(s: Array[Array[Int]]): Array[Int] = {
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    // rows first: tmp(u, x) = Σ_y s(y)(x) · cosT(y)(u)
    for (u <- 0 until 8; x <- 0 until 8) {
      var acc = 0.0
      var y = 0
      while (y < 8) { acc += s(y)(x) * CosT(y)(u); y += 1 }
      tmp(u * 8 + x) = acc
    }
    for (u <- 0 until 8; v <- 0 until 8) {
      var acc = 0.0
      var x = 0
      while (x < 8) { acc += tmp(u * 8 + x) * CosT(x)(v); x += 1 }
      coef(u * 8 + v) = math.round(acc / 4).toInt
    }
    Array.tabulate(64)(i =>
      math.round(coef(ZigZag(i)).toDouble / QuantZig(i)).toInt)
  }

  /** A first scan's DC: category + amplitude of the prediction diff. */
  private def encodeDcDiff(bw: BitWriter, dc: Int, pred: Int): Unit = {
    val diff = dc - pred
    val (dcode, dlen) = DcCodes(category(diff))
    bw.put(dcode, dlen)
    putAmplitude(bw, diff)
  }

  /** A first scan's AC band ss..se of one block at point transform Al:
    * magnitudes |v| >> Al (zeros are whatever vanishes at this
    * precision) as zero runs + category + amplitude, ZRL per 16 zeros,
    * EOB when the band ends in zeros — in a progressive scan that EOB
    * is EOBRUN = 1, the same bits, so the sequential and progressive
    * scans share this. */
  private def encodeAcFirst(bw: BitWriter, zz: Array[Int], ss: Int, se: Int, al: Int): Unit = {
    var run = 0
    var k = ss
    while (k <= se) {
      val t = math.abs(zz(k)) >> al
      if (t == 0) run += 1
      else {
        while (run > 15) { putAc(bw, 0xF0); run -= 16 }
        putAc(bw, (run << 4) | category(t))
        putAmplitude(bw, if (zz(k) < 0) -t else t)
        run = 0
      }
      k += 1
    }
    if (run > 0) putAc(bw, 0x00)
  }

  /** An AC refinement band of one block (G.1.2.3): runs count the
    * coefficients that are zero at THIS precision too, newly-nonzero
    * ones are (run, 1) symbols with a sign bit, and every
    * nonzero-history coefficient contributes a buffered correction bit
    * (flushed after the next symbol + sign, in position order — the
    * order the decoder consumes them). The block flushes at an EOB
    * (EOBRUN = 1) only when positions remain past the last
    * newly-nonzero coefficient — an EOB after the band is exhausted
    * would desync the decoder, which stops reading symbols at Se. */
  private def encodeAcRefine(bw: BitWriter, zz: Array[Int], ss: Int, se: Int, al: Int): Unit = {
    var run = 0
    val corr = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flush(): Unit = { corr.foreach(b => bw.put(b, 1)); corr.clear() }
    var k = ss
    while (k <= se) {
      val t = math.abs(zz(k)) >> al
      if (t == 0) run += 1
      else {
        // drain pending ZRLs at ANY nonzero coefficient — before
        // buffering its correction bit — so every buffered bit's
        // position stays within ≤15 zeros of the last flush point
        // (the decoder's ZRL walk spans exactly 16 zero-history
        // positions; a bit buffered further out would desync)
        while (run > 15) { putAc(bw, 0xF0); flush(); run -= 16 }
        if (t > 1) corr += (t & 1) // history nonzero: correction bit
        else { // t == 1 ⇒ history zero: newly nonzero at this precision
          putAc(bw, (run << 4) | 1)
          putAmplitude(bw, if (zz(k) < 0) -1 else 1) // the sign bit
          flush()
          run = 0
        }
      }
      k += 1
    }
    if (run > 0 || corr.nonEmpty) { putAc(bw, 0x00); flush() }
  }

  /** One scan of a frame: the components it carries (frame indices),
    * its spectral band Ss..Se and its successive-approximation bit
    * positions Ah (0 = a first scan) and Al. */
  private final case class Scan(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int)

  /** The one frame writer: component PLANES at their own resolution
    * with (Hi, Vi) sampling factors (4:4:4 is all (1,1), 4:2:0 is Y
    * (2,2) + chroma (1,1) at half resolution), forward DCT + quantize
    * once per block of the padded grid (edge samples replicated), then
    * SOI, APP0, DQT, `sof`, the two DHT tables, DRI when
    * `restartInterval` > 0 (RSTn every that many MCUs of EVERY scan,
    * DC predictors reset, entropy stream byte-aligned around each
    * marker), each scan of `scans` as SOS + entropy bytes, and EOI.
    * `ncomp` 1 = grayscale, 3 = YCbCr (JFIF semantics). */
  private def encodeFrame(w: Int, h: Int, comps: Seq[((Int, Int) => Int, Int, Int)],
      restartInterval: Int, sof: Int, scans: Seq[Scan]): Array[Byte] = {
    val ncomp = comps.size
    require(ncomp == 1 || ncomp == 3)
    val f = new Frame(w, h, comps.map(_._2).toArray, comps.map(_._3).toArray)
    val coefs: Array[Array[Array[Int]]] = Array.tabulate(ncomp) { c =>
      val plane = comps(c)._1
      Array.tabulate(f.bW(c) * f.bH(c)) { bi =>
        val bx = (bi % f.bW(c)) * 8; val by = (bi / f.bW(c)) * 8
        quantizedBlock(Array.tabulate(8, 8)((y, x) =>
          plane(math.min(bx + x, f.pw(c) - 1), math.min(by + y, f.ph(c) - 1)) - 128))
      }
    }
    def entropy(s: Scan): Array[Byte] = {
      val bw = new BitWriter
      val pred = new Array[Int](s.comps.size)
      f.walk(s.comps.toArray, restartInterval) { n =>
        bw.marker(0xD0 + n)
        java.util.Arrays.fill(pred, 0)
      } { (i, bi) =>
        val zz = coefs(s.comps(i))(bi)
        if (s.ss == 0) {
          // DC of the POINT-TRANSFORMED value (arithmetic shift — two's
          // complement carries the refinement bit of negative values)
          val dc = zz(0) >> s.al
          if (s.ah == 0) { encodeDcDiff(bw, dc, pred(i)); pred(i) = dc }
          else bw.put(dc & 1, 1)
        }
        if (s.se > 0) {
          val from = math.max(s.ss, 1)
          if (s.ah == 0) encodeAcFirst(bw, zz, from, s.se, s.al)
          else encodeAcRefine(bw, zz, from, s.se, s.al)
        }
      }
      bw.finish()
    }
    val app0 = "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val dqt = Array(0x00.toByte) ++ QuantZig.map(_.toByte)
    val sofPayload = Array[Byte](8,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ncomp.toByte) ++
      (0 until ncomp).flatMap(c => Seq((c + 1).toByte,
        ((comps(c)._2 << 4) | comps(c)._3).toByte, 0.toByte)).toArray
    def sos(s: Scan): Array[Byte] =
      Array[Byte](s.comps.size.toByte) ++
        s.comps.flatMap(c => Seq((c + 1).toByte, 0x00.toByte)).toArray ++
        Array[Byte](s.ss.toByte, s.se.toByte, (((s.ah << 4) | s.al) & 0xff).toByte)
    val dri: Array[Byte] =
      if (restartInterval > 0)
        seg(0xDD, Array(((restartInterval >> 8) & 0xff).toByte,
          (restartInterval & 0xff).toByte))
      else Array.empty
    Array(0xFF.toByte, 0xD8.toByte) ++ // SOI
      seg(0xE0, app0) ++
      seg(0xDB, dqt) ++
      seg(sof, sofPayload) ++
      seg(0xC4, dhtPayload(0, 0, DcBits, DcVals)) ++
      seg(0xC4, dhtPayload(1, 0, AcBits, AcVals)) ++
      dri ++
      scans.flatMap(s => seg(0xDA, sos(s)) ++ entropy(s)).toArray ++
      Array(0xFF.toByte, 0xD9.toByte) // EOI
  }

  /** Encode 8-bit component PLANES as a baseline JFIF file, all at
    * (1, 1) sampling. `ncomp` 1 = grayscale, 3 = YCbCr (`comp(c, x, y)`
    * supplies the c-th COMPONENT value, already in YCbCr for color). A
    * REAL, ImageIO-readable JPEG. */
  private[operators] def encodeJpegPlanar(
      w: Int, h: Int, ncomp: Int, comp: (Int, Int, Int) => Int): Array[Byte] =
    encodeJpegSampled(w, h, planes(ncomp, comp))

  private def planes(ncomp: Int, comp: (Int, Int, Int) => Int): Seq[((Int, Int) => Int, Int, Int)] =
    (0 until ncomp).map(c => (((x: Int, y: Int) => comp(c, x, y)), 1, 1))

  /** The general baseline writer: one sequential scan of every
    * component over the full band, interleaved per MCU in sampling
    * order, optional restart intervals. */
  private[operators] def encodeJpegSampled(
      w: Int, h: Int, comps: Seq[((Int, Int) => Int, Int, Int)],
      restartInterval: Int = 0): Array[Byte] =
    encodeFrame(w, h, comps, restartInterval, 0xC0, Seq(Scan(comps.indices, 0, 63, 0, 0)))

  /** The 4:2:0 face: a full-resolution luma plane and HALF-resolution
    * chroma planes (the common camera layout). */
  private[operators] def encodeJpeg420(w: Int, h: Int,
      yP: (Int, Int) => Int, cbP: (Int, Int) => Int, crP: (Int, Int) => Int,
      restartInterval: Int = 0): Array[Byte] =
    encodeJpegSampled(w, h, Seq((yP, 2, 2), (cbP, 1, 1), (crP, 1, 1)), restartInterval)

  /** Grayscale convenience face of [[encodeJpegPlanar]]. */
  private[operators] def encodeJpeg(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] =
    encodeJpegPlanar(w, h, 1, (_, x, y) => px(x, y))

  /** RGB face: JFIF RGB→YCbCr (floor(x + 0.5) rounding — the repo's
    * scaled-int convention), then the planar encoder. */
  private[operators] def encodeJpegRgb(
      w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] =
    encodeJpegPlanar(w, h, 3, (c, x, y) => {
      val (r, g, b) = rgb(x, y)
      val v = c match {
        case 0 => 0.299 * r + 0.587 * g + 0.114 * b
        case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128
      }
      math.max(0, math.min(255, math.floor(v + 0.5).toInt))
    })

  /** Encode component PLANES as a PROGRESSIVE (SOF2) JFIF file using
    * SPECTRAL SELECTION only (Ah = Al = 0 in every scan): one DC scan of
    * every component interleaved, then one non-interleaved AC scan per
    * component over the full 1..63 band (G.1 scan rules: an AC scan
    * holds exactly one component). All components at (1, 1) sampling.
    * Each block's EOB is the plain EOB symbol (EOBRUN = 1 — spec-valid;
    * the DECODER handles general EOBRUN runs, which other encoders
    * emit). A REAL, ImageIO-readable progressive JPEG. */
  private[operators] def encodeJpegProgressive(
      w: Int, h: Int, ncomp: Int, comp: (Int, Int, Int) => Int): Array[Byte] =
    encodeFrame(w, h, planes(ncomp, comp), 0, 0xC2,
      Scan(0 until ncomp, 0, 0, 0, 0) +: (0 until ncomp).map(c => Scan(Seq(c), 1, 63, 0, 0)))

  /** Encode component PLANES as a SUCCESSIVE-APPROXIMATION progressive
    * (SOF2) JFIF file — the profile real-world progressive files
    * actually use (libjpeg's `jpeg_simple_progression` shape): a DC
    * first scan at point transform Al = 1, per-component AC first scans
    * over split bands (1..5, 6..63) at Al = 1, then the matching AC
    * REFINEMENT scans (Ah = 1, Al = 0) and a DC refinement scan (one
    * appended bit per block). Any sampling grid within the decode
    * scope; optional restart intervals in EVERY scan (per-scan RSTn
    * numbering, MCU = one block in non-interleaved scans). A REAL,
    * ImageIO-readable progressive JPEG. */
  private[operators] def encodeJpegProgressiveSA(
      w: Int, h: Int, comps: Seq[((Int, Int) => Int, Int, Int)],
      restartInterval: Int = 0): Array[Byte] = {
    val bands = Seq((1, 5), (6, 63))
    def acScans(ah: Int, al: Int): Seq[Scan] =
      for (c <- comps.indices; (ss, se) <- bands) yield Scan(Seq(c), ss, se, ah, al)
    encodeFrame(w, h, comps, restartInterval, 0xC2,
      Seq(Scan(comps.indices, 0, 0, 0, 1)) ++ acScans(0, 1) ++ acScans(1, 0) ++
        Seq(Scan(comps.indices, 0, 0, 1, 0)))
  }

  /** The fixtures' corrupt twist: doc_id % 7 == 3 loses its last 12
    * bytes, truncating it mid-entropy-stream (the
    * [[PngCodecOps.encodePng]] twist). */
  private def truncatedTwist(docId: Long, whole: Array[Byte]): Array[Byte] =
    if (docId % 7 == 3) whole.take(whole.length - math.min(whole.length, 12)) else whole

  /** The progressive ORACLE fixture: the SAME block-constant formula
    * (and dims and corrupt twist) as [[encodeFixture]], through the
    * SOF2 spectral-selection pipeline — same oracle BY DESIGN. */
  private[operators] def encodeProgressiveFixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims(docId)
    truncatedTwist(docId, encodeJpegProgressive(w, h, 1,
      (_, x, y) => fixtureSample(docId, x / 8, y / 8)))
  }

  /** The SUCCESSIVE-APPROXIMATION progressive oracle fixture: the same
    * block-constant gray formula through the SA script (DC at Al = 1 +
    * refinement, split AC bands at Al = 1 + refinements). A constant
    * block's DC is exact under the DC-8 dial, the point transform
    * splits it losslessly across first + refinement scans (arithmetic
    * shift down, appended bit back up), and the AC band is all zero in
    * every scan — so the full progression is lossless and the decode
    * must still recover the formula EXACTLY. Every third doc adds a
    * 2-MCU restart cadence across ALL scans; same corrupt twist. */
  private[operators] def encodeProgressiveSAFixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims(docId)
    truncatedTwist(docId, encodeJpegProgressiveSA(w, h,
      Seq(((((x: Int, y: Int) => fixtureSample(docId, x / 8, y / 8))), 1, 1)),
      fixtureRestart(docId)))
  }

  /** The SUBSAMPLED-progressive oracle fixture: the 4:2:0 macroblock
    * layout (luma per 8×8, chroma per 16×16 — lossless through
    * subsampling and nearest upsampling) through the SA progressive
    * script: interleaved four-luma DC MCUs, per-component AC scans over
    * each component's OWN block grid, refinement scans, restart
    * cadence on every third doc. Shares `jpeg_pixels_420`'s oracle BY
    * DESIGN — only the scan structure differs, which is the claim. */
  private[operators] def encodeProg420Fixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims420(docId)
    truncatedTwist(docId, encodeJpegProgressiveSA(w, h, Seq(
      (((x: Int, y: Int) => fixtureYcc(docId, 0, x / 8, y / 8)), 2, 2),
      (((x2: Int, y2: Int) => fixtureYcc(docId, 1, x2 / 8, y2 / 8)), 1, 1),
      (((x2: Int, y2: Int) => fixtureYcc(docId, 2, x2 / 8, y2 / 8)), 1, 1)),
      fixtureRestart(docId)))
  }

  /** The block-constant ORACLE fixture for a doc (lossless by
    * construction — see the object scaladoc), doc_id % 7 == 3 truncated
    * mid-entropy-stream (the [[PngCodecOps.encodePng]] corrupt twist). */
  private[operators] def encodeFixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims(docId)
    truncatedTwist(docId, encodeJpeg(w, h, (x, y) => fixtureSample(docId, x / 8, y / 8)))
  }

  /** The COLOR oracle fixture: block-constant YCbCr planes through the
    * 4:4:4 interleaved encoder; same corrupt twist. */
  private[operators] def encodeColorFixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims(docId)
    truncatedTwist(docId,
      encodeJpegPlanar(w, h, 3, (c, x, y) => fixtureYcc(docId, c, x / 8, y / 8)))
  }

  /** Larger dims for the 4:2:0 fixture — several MCUs per image, so the
    * four-block luma interleave, the chroma subsampling AND the restart
    * cadence all carry weight. */
  private[operators] def fixtureDims420(docId: Long): (Int, Int) =
    ((docId % 40 + 8).toInt, (docId % 28 + 8).toInt)

  /** Every third doc carries a 2-MCU restart interval — RSTn markers,
    * predictor resets and the byte-aligned marker consumption are all
    * under the ORACLE, not just the spec. */
  private[operators] def fixtureRestart(docId: Long): Int =
    if (docId % 3 == 1) 2 else 0

  /** The 4:2:0 oracle fixture: luma block-constant per 8×8, chroma
    * block-constant per 16×16 MACROBLOCK (so each half-resolution
    * chroma block is constant → the DCT path stays lossless AND
    * nearest-neighbor upsampling reproduces the constant exactly);
    * same corrupt twist. */
  private[operators] def encode420Fixture(docId: Long): Array[Byte] = {
    val (w, h) = fixtureDims420(docId)
    truncatedTwist(docId, encodeJpeg420(w, h,
      (x, y) => fixtureYcc(docId, 0, x / 8, y / 8),
      (x2, y2) => fixtureYcc(docId, 1, x2 / 8, y2 / 8),
      (x2, y2) => fixtureYcc(docId, 2, x2 / 8, y2 / 8),
      fixtureRestart(docId)))
  }

  // ---- decoder (8-bit Huffman DCT, sequential and progressive) -------

  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    // Annex F decode tables: MINCODE/MAXCODE/VALPTR per code length
    val minCode: Array[Int] = new Array[Int](17)
    val maxCode: Array[Int] = Array.fill(17)(-1)
    val valPtr: Array[Int] = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        if (bits(l) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
  }

  /** MSB-first entropy-segment reader with 0xFF byte-unstuffing; a
    * marker (0xFF followed by non-zero), end of data or malformed scan
    * data raises — decode treats that as corrupt unless the scan is
    * already complete. */
  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) throw new java.io.EOFException
        val b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xFF) {
          if (pos >= bytes.length) throw new java.io.EOFException
          val next = bytes(pos) & 0xff
          if (next != 0x00) throw new java.io.EOFException // a marker: scan over
          pos += 1
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    def decode(t: HuffTable): Int = {
      var len = 1
      var code = bit()
      while (len <= 16 && (t.maxCode(len) < 0 || code > t.maxCode(len))) {
        code = (code << 1) | bit()
        len += 1
      }
      if (len > 16) throw new java.io.EOFException // invalid code
      t.value(len, code)
    }
    /** Discard the partial byte and consume the expected RSTn marker
      * (the encoder byte-aligned around it); anything else is corrupt. */
    def expectRestart(n: Int): Unit = {
      nbits = 0
      if (pos + 2 > bytes.length || (bytes(pos) & 0xff) != 0xFF ||
          (bytes(pos + 1) & 0xff) != 0xD0 + n)
        throw new java.io.EOFException
      pos += 2
    }
    /** An EOB run's length in blocks after the current one: 2^r − 1
      * plus r appended bits (G.1.2.2). */
    def eobRun(r: Int): Int = (1 << r) - 1 + (if (r > 0) bits(r) else 0)
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** One block's AC band ss..se in a first scan: run/size symbols, ZRL,
    * and EOB runs; decoded magnitudes shifted up by the point transform
    * Al. `eobrun` is the run left from earlier blocks (a positive one
    * covers this block whole); returns the run left after it. The
    * sequential scan is the band 1..63 at Al = 0. */
  private def decodeAcFirst(br: BitReader, t: HuffTable, zz: Array[Int],
      ss: Int, se: Int, al: Int, eobrun: Int): Int = {
    if (eobrun > 0) return eobrun - 1
    var run = 0
    var k = ss
    while (k <= se) {
      val rs = br.decode(t)
      val r = rs >> 4
      val s = rs & 15
      if (s == 0) {
        if (r == 15) k += 16 // ZRL
        else { run = br.eobRun(r); k = se + 1 }
      } else {
        k += r
        if (k > se) throw new java.io.EOFException // a run past the band
        zz(k) = extend(br.bits(s), s) << al
        k += 1
      }
    }
    run
  }

  /** One block's AC band in a REFINEMENT scan (G.1.2.3): newly-nonzero
    * coefficients arrive as (run, 1) symbols with a sign bit; every
    * nonzero-history coefficient passed over contributes one correction
    * bit (moving its magnitude up by 2^Al when set); an EOB run refines
    * the rest of the band in this block and `eobrun` more whole
    * blocks. Returns the run left after this block. */
  private def decodeAcRefine(br: BitReader, t: HuffTable, zz: Array[Int],
      ss: Int, se: Int, al: Int, eobrun: Int): Int = {
    val p1 = 1 << al
    def refine(k: Int): Unit =
      if (br.bit() != 0 && (zz(k) & p1) == 0)
        zz(k) += (if (zz(k) >= 0) p1 else -p1)
    var run = eobrun - 1
    var k = ss
    if (eobrun == 0) {
      run = 0
      var eob = false
      while (k <= se && !eob) {
        val rs = br.decode(t)
        var r = rs >> 4
        val s = rs & 15
        var newval = 0
        if (s == 0) {
          // EOB run (0 MORE whole blocks for r = 0 — the current
          // block's tail is still refined below); r == 15 is ZRL: skip
          // 16 zero-history positions
          if (r < 15) { run = br.eobRun(r); eob = true }
        } else {
          if (s != 1) throw new java.io.EOFException // refinement magnitudes are ±1
          newval = if (br.bit() != 0) p1 else -p1
        }
        if (!eob) {
          // advance past r zero-history positions, refining
          // nonzero-history coefficients along the way
          var placed = false
          while (k <= se && !placed) {
            if (zz(k) != 0) refine(k)
            else if (r == 0) {
              if (newval != 0) zz(k) = newval
              placed = true
            } else r -= 1
            k += 1
          }
          if (newval != 0 && !placed) throw new java.io.EOFException // ran off the band
        }
      }
    }
    // the band's tail under an EOB run: correction bits for its
    // nonzero coefficients
    while (k <= se) {
      if (zz(k) != 0) refine(k)
      k += 1
    }
    run
  }

  /** `channels` 1 = grayscale (samples = gray), 3 = color (samples =
    * interleaved RGB after the JFIF YCbCr conversion). */
  private[operators] case class Decoded(width: Int, height: Int, channels: Int, samples: Array[Int])

  /** The decoder's YCbCr→RGB, one channel: floor(x + 0.5) rounding and
    * 0..255 clamp — the exact arithmetic the color oracle mirrors in
    * SQL (the conversion is spec-defined math, unlike the IDCT, so it
    * CAN be closed-form). */
  private[operators] def ycc(c: Int, y: Int, cb: Int, cr: Int): Int = {
    val v = c match {
      case 0 => y + 1.402 * (cr - 128)
      case 1 => y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
      case _ => y + 1.772 * (cb - 128)
    }
    math.max(0, math.min(255, math.floor(v + 0.5).toInt))
  }

  /** Full decode or None (malformed anywhere; unsupported profiles —
    * extended/lossless/arithmetic frames, 16-bit quant tables, sampling
    * grids other than gray / 4:4:4 / 4:2:0 — are honestly None, never
    * a wrong answer). Never throws.
    *
    * One marker walk for both frame types. Each SOS decodes into the
    * per-block coefficient buffers: DC scans interleave over MCUs when
    * Ns > 1 and walk the component's own block grid when Ns = 1; AC
    * scans are always single-component (G.1). First scans (Ah = 0)
    * store point-transformed coefficients shifted back up by Al;
    * refinement scans (Ah > 0) append one DC bit per block or run the
    * AC correction procedure. Scan components resolve against the
    * frame's ids; restart intervals are honored per scan and tables are
    * re-definable between scans. A sequential frame allows exactly its
    * one scan — every component, the band 0..63, no approximation — and
    * reconstructs when it completes; a progressive frame reconstructs
    * at EOI. */
  private[operators] def decodeJpeg(bytes: Array[Byte]): Option[Decoded] =
    try {
      if (bytes.length < 4 || (bytes(0) & 0xff) != 0xFF || (bytes(1) & 0xff) != 0xD8)
        return None
      var pos = 2
      var restart = 0
      var frame: Frame = null
      var progressive = false
      val compId = new Array[Int](3)
      val compQuant = new Array[Int](3)
      val dcTables = new Array[HuffTable](4)
      val acTables = new Array[HuffTable](4)
      val quants = new Array[Array[Int]](4)
      // per component: blocks in raster order over the PADDED
      // (MCU-multiple) grid, each a 64-coef zigzag buffer
      var coef: Array[Array[Array[Int]]] = null
      def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
      def reconstructed: Option[Decoded] =
        reconstruct(frame, coef, Array.tabulate(frame.ncomp)(c => quants(compQuant(c))))
      while (true) {
        // skip fill bytes, expect a marker
        if (pos + 2 > bytes.length) return None
        if ((bytes(pos) & 0xff) != 0xFF) return None
        var m = bytes(pos + 1) & 0xff
        while (m == 0xFF) { pos += 1; if (pos + 2 > bytes.length) return None; m = bytes(pos + 1) & 0xff }
        pos += 2
        // EOI: a progressive frame reconstructs what its scans
        // accumulated; a sequential frame never finished its one scan
        if (m == 0xD9) return if (frame == null || !progressive) None else reconstructed
        // every other marker heads a segment whose length counts its
        // own two bytes: < 2 is spec-invalid, and advancing by it would
        // loop forever on a crafted stream
        if (pos + 2 > bytes.length) return None
        val at = pos
        val len = u16(at)
        if (len < 2 || at + len > bytes.length) return None
        pos = at + len
        m match {
          case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
            if (frame != null && progressive != (m == 0xC2)) return None // a second frame type
            progressive = m == 0xC2
            if (len < 8) return None
            val precision = bytes(at + 2) & 0xff
            val h = u16(at + 3); val w = u16(at + 5)
            val ncomp = bytes(at + 7) & 0xff
            if (precision != 8 || (ncomp != 1 && ncomp != 3) || len < 8 + 3 * ncomp) return None
            val hs = new Array[Int](ncomp); val vs = new Array[Int](ncomp)
            for (c <- 0 until ncomp) {
              compId(c) = bytes(at + 8 + 3 * c) & 0xff
              val sampling = bytes(at + 9 + 3 * c) & 0xff
              hs(c) = (sampling >> 4) & 0x0f
              vs(c) = sampling & 0x0f
              compQuant(c) = bytes(at + 10 + 3 * c) & 0xff
              if (compQuant(c) > 3) return None
            }
            // honest scope: gray, 4:4:4, or 4:2:0 (Y 2×2 + chroma 1×1,
            // nearest-neighbor upsampled). Other sampling grids refuse.
            val layoutOk = hs.indices.forall(c => hs(c) == 1 && vs(c) == 1) ||
              (ncomp == 3 && hs(0) == 2 && vs(0) == 2 &&
                (1 until 3).forall(c => hs(c) == 1 && vs(c) == 1))
            if (!layoutOk) return None
            if (w < 1 || h < 1 || w.toLong * h * ncomp > MaxSamples) return None
            frame = new Frame(w, h, hs, vs)
            val f = frame
            if ((0 until ncomp).map(c => f.bW(c).toLong * f.bH(c) * 64).sum > MaxSamples * 8)
              return None
            coef = Array.tabulate(ncomp)(c => Array.fill(f.bW(c) * f.bH(c))(new Array[Int](64)))
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // extended/lossless/arithmetic: out of scope
          case 0xC4 => // DHT (possibly several tables in one segment)
            var o = at + 2
            while (o < at + len) {
              if (o + 17 > at + len) return None
              val tc = (bytes(o) >> 4) & 0x0f
              val th = bytes(o) & 0x0f
              if (tc > 1 || th > 3) return None
              val bits = new Array[Int](17)
              var total = 0
              for (l <- 1 to 16) { bits(l) = bytes(o + l) & 0xff; total += bits(l) }
              if (o + 17 + total > at + len || total > 256) return None
              val vals = Array.tabulate(total)(i => bytes(o + 17 + i) & 0xff)
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcTables(th) = t else acTables(th) = t
              o += 17 + total
            }
          case 0xDB => // DQT (possibly several tables)
            var o = at + 2
            while (o < at + len) {
              val pq = (bytes(o) >> 4) & 0x0f
              val tq = bytes(o) & 0x0f
              if (pq != 0 || tq > 3) return None // 16-bit tables out of scope
              if (o + 65 > at + len) return None
              quants(tq) = Array.tabulate(64)(i => bytes(o + 1 + i) & 0xff)
              o += 65
            }
          case 0xDD => // DRI: restart interval in MCUs
            if (len < 4) return None
            restart = u16(at + 2)
          case 0xDA => // SOS: one scan
            if (frame == null || len < 6) return None
            val f = frame
            val ns = bytes(at + 2) & 0xff
            if (ns < 1 || ns > f.ncomp || len < 6 + 2 * ns) return None
            val scanComp = new Array[Int](ns)
            val scanDc = new Array[Int](ns)
            val scanAc = new Array[Int](ns)
            for (i <- 0 until ns) {
              val id = bytes(at + 3 + 2 * i) & 0xff
              scanComp(i) = (0 until f.ncomp).find(compId(_) == id).getOrElse(return None)
              scanDc(i) = (bytes(at + 4 + 2 * i) >> 4) & 0x0f
              scanAc(i) = bytes(at + 4 + 2 * i) & 0x0f
            }
            val ss = bytes(at + 3 + 2 * ns) & 0xff
            val se = bytes(at + 4 + 2 * ns) & 0xff
            val ahal = bytes(at + 5 + 2 * ns) & 0xff
            val ah = (ahal >> 4) & 0x0f
            val al = ahal & 0x0f
            val scanOk =
              if (!progressive) ns == f.ncomp && ss == 0 && se == 63 && ahal == 0
              else if (ss == 0) se == 0 && al <= 13 && ah <= 13
              else ns == 1 && se >= ss && se <= 63 && al <= 13 && ah <= 13
            if (!scanOk) return None
            // a DC scan resolves its DC selectors, a band past 0 its AC
            // selectors; first scans need the DC tables themselves
            val dcT = if (ss == 0) scanDc.map(t => dcTables(t)) else null
            val acT = if (se > 0) scanAc.map(t => acTables(t)) else null
            if ((ss == 0 && ah == 0 && dcT.contains(null)) || (se > 0 && acT.contains(null)))
              return None
            val br = new BitReader(bytes, pos)
            val pred = new Array[Int](ns)
            var eobrun = 0
            f.walk(scanComp, restart) { n =>
              br.expectRestart(n)
              java.util.Arrays.fill(pred, 0)
              eobrun = 0
            } { (i, bi) =>
              val zz = coef(scanComp(i))(bi)
              if (ss == 0) {
                if (ah == 0) {
                  val t = br.decode(dcT(i))
                  pred(i) += extend(br.bits(t), t)
                  zz(0) = pred(i) << al
                } else if (br.bit() != 0) zz(0) |= (1 << al)
              }
              if (se > 0) {
                val from = math.max(ss, 1)
                eobrun =
                  if (ah == 0) decodeAcFirst(br, acT(i), zz, from, se, al, eobrun)
                  else decodeAcRefine(br, acT(i), zz, from, se, al, eobrun)
                // EOB runs past the block are progressive-only (G.1.2.2)
                if (eobrun > 0 && !progressive) return None
              }
            }
            if (!progressive) return reconstructed
            // the scan's entropy bytes end here — resync to the next
            // marker (skip pad bits and 0xFF fill bytes)
            pos = br.pos
            while (pos + 1 < bytes.length &&
                !((bytes(pos) & 0xff) == 0xFF && (bytes(pos + 1) & 0xff) != 0x00))
              pos += 1
            if (pos + 1 >= bytes.length) return None
          case x if x >= 0xE0 && x <= 0xEF || x == 0xFE => // APPn / COM
          case _ => return None
        }
      }
      None // unreachable
    } catch { case _: Exception => None }

  /** Dequant + IDCT of every block of each component's own grid into
    * its plane (cropped to the plane), then — for color — chroma
    * upsampled to full resolution (nearest-neighbor: the sampled
    * coordinate per A.1.1) and interleaved as RGB through the JFIF
    * conversion. The one reconstruction of both frame types. */
  private def reconstruct(f: Frame, coef: Array[Array[Array[Int]]],
      quant: Array[Array[Int]]): Option[Decoded] = {
    if (quant.exists(_ == null)) return None
    val planes = Array.tabulate(f.ncomp)(c => new Array[Int](f.pw(c) * f.ph(c)))
    val blk = new Array[Double](64)
    val tmp = new Array[Double](64)
    val cosT = CosT
    for (c <- 0 until f.ncomp; by <- 0 until f.cBH(c); bx <- 0 until f.cBW(c)) {
      val zz = coef(c)(by * f.bW(c) + bx)
      var i = 0
      while (i < 64) { blk(ZigZag(i)) = zz(i).toDouble * quant(c)(i); i += 1 }
      // separable IDCT: rows (over v) then columns (over u)
      for (u <- 0 until 8; x <- 0 until 8) {
        var acc = 0.0
        var vv = 0
        while (vv < 8) { acc += blk(u * 8 + vv) * cosT(x)(vv); vv += 1 }
        tmp(u * 8 + x) = acc
      }
      for (x <- 0 until 8; y <- 0 until 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += tmp(u * 8 + x) * cosT(y)(u); u += 1 }
        val px = math.round(acc / 4 + 128).toInt
        val cx = bx * 8 + x; val cy = by * 8 + y
        if (cx < f.pw(c) && cy < f.ph(c))
          planes(c)(cy * f.pw(c) + cx) = math.max(0, math.min(255, px))
      }
    }
    if (f.ncomp == 1) Some(Decoded(f.w, f.h, 1, planes(0)))
    else {
      val out = new Array[Int](f.w * f.h * 3)
      def sample(c: Int, x: Int, y: Int): Int =
        planes(c)((y * f.vs(c) / f.vMax) * f.pw(c) + (x * f.hs(c) / f.hMax))
      var j = 0
      while (j < f.w * f.h) {
        val x = j % f.w; val y = j / f.w
        val yv = sample(0, x, y); val cb = sample(1, x, y); val cr = sample(2, x, y)
        out(3 * j) = ycc(0, yv, cb, cr)
        out(3 * j + 1) = ycc(1, yv, cb, cr)
        out(3 * j + 2) = ycc(2, yv, cb, cr)
        j += 1
      }
      Some(Decoded(f.w, f.h, 3, out))
    }
  }

  // ---- operators ------------------------------------------------------

  /** (doc_id, media) with one `encode(doc_id)` fixture file per doc. */
  private def fixtureMedia(docs: DataFrame, encode: Long => Array[Byte]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Par.spread(docs.select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => (id, encode(id))))
      .toDF("doc_id", "media")
  }

  /** (doc_id, media) table of real baseline JPEGs, one per fixture doc —
    * the DCT sibling of [[PngCodecOps.pngMediaTable]];
    * doc_id % 7 == 3 truncated mid-entropy-stream. */
  def jpegMediaTable(docs: DataFrame): DataFrame = fixtureMedia(docs, encodeFixture)

  // public for codegen: see WavCodecOps.WavPcmStats
  case class JpegStats(
      doc_id: Long, status: String,
      width: Option[Long], height: Option[Long],
      px_sum: Option[Long], px_min: Option[Long], px_max: Option[Long])

  /** Pixel statistics from raw JPEG bytes — the [[PngCodecOps
    * .pngDecodeStats]] contract on the DCT side: status + dims +
    * sum/min/max through a REAL entropy decode. Malformed or
    * out-of-scope payloads degrade to a 'corrupt' row, never an
    * error. */
  def jpegDecodeStats(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id").cast("long"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeJpeg(bytes) match {
          // a color payload in the GRAY stats path is a contract breach,
          // not a decodable gray image — corrupt, never mixed-channel math
          case None => JpegStats(id, "corrupt", None, None, None, None, None)
          case Some(d) if d.channels != 1 =>
            JpegStats(id, "corrupt", None, None, None, None, None)
          case Some(d) =>
            var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
            var j = 0
            while (j < d.samples.length) {
              val v = d.samples(j).toLong
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              j += 1
            }
            JpegStats(id, "jpeg", Some(d.width.toLong), Some(d.height.toLong),
              Some(sum), Some(mn), Some(mx))
        }
      })
      .toDF()
  }

  /** The `jpeg_pixels` fixture chain: generate → decode, stats out. */
  def jpegPixels(docs: DataFrame): DataFrame = jpegDecodeStats(jpegMediaTable(docs))

  /** The PROGRESSIVE twin of [[jpegPixels]]: the same block-constant
    * rasters through the SOF2 spectral-selection pipeline (interleaved
    * DC scan + per-component AC band scans), decoded by the multi-scan
    * coefficient-accumulation path — same oracle BY DESIGN. */
  def jpegPixelsProg(docs: DataFrame): DataFrame =
    jpegDecodeStats(fixtureMedia(docs, encodeProgressiveFixture))

  /** The SUCCESSIVE-APPROXIMATION twin of [[jpegPixelsProg]]: the same
    * block-constant rasters through the SA script (point-transformed
    * first scans + refinement scans, restart cadence on every third
    * doc), decoded by the G.1.2 refinement path — same oracle BY
    * DESIGN. */
  def jpegPixelsProgSa(docs: DataFrame): DataFrame =
    jpegDecodeStats(fixtureMedia(docs, encodeProgressiveSAFixture))

  /** (doc_id, media) table of real 4:4:4 COLOR baseline JPEGs. */
  def jpegRgbMediaTable(docs: DataFrame): DataFrame = fixtureMedia(docs, encodeColorFixture)

  // public for codegen: see WavCodecOps.WavPcmStats
  case class JpegRgbStats(
      doc_id: Long, status: String,
      width: Option[Long], height: Option[Long],
      r_sum: Option[Long], r_min: Option[Long], r_max: Option[Long],
      g_sum: Option[Long], g_min: Option[Long], g_max: Option[Long],
      b_sum: Option[Long], b_min: Option[Long], b_max: Option[Long])

  /** Per-channel RGB statistics from raw color-JPEG bytes — the
    * three-channel face of [[jpegDecodeStats]] (the
    * [[PngCodecOps.pngDecodeStats]] contract). Grayscale or
    * out-of-scope payloads degrade to 'corrupt'. */
  def jpegRgbDecodeStats(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id").cast("long"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeJpeg(bytes) match {
          case Some(d) if d.channels == 3 =>
            val sums = new Array[Long](3)
            val mins = Array.fill(3)(Long.MaxValue)
            val maxs = Array.fill(3)(Long.MinValue)
            var j = 0
            while (j < d.samples.length) {
              val k = j % 3; val v = d.samples(j).toLong
              sums(k) += v
              if (v < mins(k)) mins(k) = v
              if (v > maxs(k)) maxs(k) = v
              j += 1
            }
            JpegRgbStats(id, "jpeg", Some(d.width.toLong), Some(d.height.toLong),
              Some(sums(0)), Some(mins(0)), Some(maxs(0)),
              Some(sums(1)), Some(mins(1)), Some(maxs(1)),
              Some(sums(2)), Some(mins(2)), Some(maxs(2)))
          case _ => JpegRgbStats(id, "corrupt", None, None,
            None, None, None, None, None, None, None, None, None)
        }
      })
      .toDF()
  }

  /** The `jpeg_pixels_rgb` fixture chain: generate → decode → convert,
    * stats out. */
  def jpegPixelsRgb(docs: DataFrame): DataFrame = jpegRgbDecodeStats(jpegRgbMediaTable(docs))

  /** The `jpeg_pixels_420` fixture chain: 4:2:0 subsampled color with
    * restart intervals on every third doc — generate → decode →
    * upsample → convert, stats out (same output contract as the 4:4:4
    * twin). */
  def jpegPixels420(docs: DataFrame): DataFrame =
    jpegRgbDecodeStats(fixtureMedia(docs, encode420Fixture))

  /** The SUBSAMPLED-PROGRESSIVE chain: the 4:2:0 macroblock fixtures
    * through the SA progressive script — interleaved four-luma DC
    * MCUs, per-component AC scans over each component's own grid,
    * refinements, restart cadence — sharing `jpeg_pixels_420`'s
    * oracle BY DESIGN. */
  def jpegPixelsProg420(docs: DataFrame): DataFrame =
    jpegRgbDecodeStats(fixtureMedia(docs, encodeProg420Fixture))
}

object JpegPack extends QueryPack {
  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jpeg_pixels" -> ((s, dir) => JpegCodecOps.jpegPixels(Tables.documents(s, dir))),
    "jpeg_pixels_rgb" -> ((s, dir) => JpegCodecOps.jpegPixelsRgb(Tables.documents(s, dir))),
    "jpeg_pixels_420" -> ((s, dir) => JpegCodecOps.jpegPixels420(Tables.documents(s, dir))),
    "jpeg_pixels_prog" -> ((s, dir) => JpegCodecOps.jpegPixelsProg(Tables.documents(s, dir))),
    "jpeg_pixels_prog_sa" -> ((s, dir) => JpegCodecOps.jpegPixelsProgSa(Tables.documents(s, dir))),
    "jpeg_pixels_prog_420" -> ((s, dir) => JpegCodecOps.jpegPixelsProg420(Tables.documents(s, dir))))

  // codec-free oracle (the png_pixels convention): the block-constant
  // fixtures are LOSSLESS under the DC-8 quant dial, so the expected
  // stats are the closed-form formula — the engine must recover them
  // through real Huffman bytes, byte stuffing and DC prediction
  /** The gray closed-form oracle — shared by the baseline and
    * PROGRESSIVE profiles (same formula, same dims, same corrupt twist;
    * only the scan structure differs, which is exactly the claim). */
  private val grayPixelsSql: String =
    """WITH p AS (
        |  SELECT doc_id,
        |         doc_id % 20 + 4 AS w, doc_id % 14 + 4 AS h,
        |         doc_id % 7 = 3 AS trunc
        |  FROM documents
        |),
        |v AS (
        |  SELECT doc_id, w, h, trunc,
        |         list_transform(range(0, w * h), j ->
        |           (doc_id * 37 + ((j % w) // 8) * 11 + ((j // w) // 8) * 23) % 256) AS px
        |  FROM p
        |)
        |SELECT doc_id,
        |       CASE WHEN trunc THEN 'corrupt' ELSE 'jpeg' END AS status,
        |       CASE WHEN NOT trunc THEN CAST(w AS BIGINT) END AS width,
        |       CASE WHEN NOT trunc THEN CAST(h AS BIGINT) END AS height,
        |       CASE WHEN NOT trunc THEN CAST(list_aggregate(px, 'sum') AS BIGINT) END AS px_sum,
        |       CASE WHEN NOT trunc THEN CAST(list_aggregate(px, 'min') AS BIGINT) END AS px_min,
        |       CASE WHEN NOT trunc THEN CAST(list_aggregate(px, 'max') AS BIGINT) END AS px_max
        |FROM v""".stripMargin

  override def oracles: Map[String, String] = Map(
    "jpeg_pixels" -> grayPixelsSql,
    "jpeg_pixels_prog" -> grayPixelsSql,
    // successive approximation: the point transform splits each
    // lossless DC across first + refinement scans — the closed form is
    // unchanged, which is exactly the claim
    "jpeg_pixels_prog_sa" -> grayPixelsSql,
    // the color twin: block-constant YCbCr planes are lossless through
    // the DCT path, and the only arithmetic after them is the JFIF
    // YCbCr->RGB conversion — spec-defined math mirrored here verbatim
    // (floor(x + 0.5) + clamp, the repo's scaled-int convention)
    "jpeg_pixels_rgb" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         doc_id % 20 + 4 AS w, doc_id % 14 + 4 AS h,
        |         doc_id % 7 = 3 AS trunc
        |  FROM documents
        |),
        |px AS (
        |  SELECT doc_id, w, h, trunc, j,
        |         (doc_id * 37 + ((j % w) // 8) * 11 + ((j // w) // 8) * 23) % 256 AS y,
        |         (doc_id * 13 + ((j % w) // 8) * 7 + ((j // w) // 8) * 5) % 256 AS cb,
        |         (doc_id * 29 + ((j % w) // 8) * 3 + ((j // w) // 8) * 19) % 256 AS cr
        |  FROM p, LATERAL unnest(range(0, w * h)) AS t(j)
        |),
        |rgb AS (
        |  SELECT doc_id, w, h, trunc,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y + CAST(1.402 AS DOUBLE) * (cr - 128) + 0.5) AS BIGINT))) AS r,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y - CAST(0.344136 AS DOUBLE) * (cb - 128) - CAST(0.714136 AS DOUBLE) * (cr - 128) + 0.5) AS BIGINT))) AS g,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y + CAST(1.772 AS DOUBLE) * (cb - 128) + 0.5) AS BIGINT))) AS b
        |  FROM px
        |)
        |SELECT doc_id,
        |       CASE WHEN trunc THEN 'corrupt' ELSE 'jpeg' END AS status,
        |       CASE WHEN NOT trunc THEN CAST(MAX(w) AS BIGINT) END AS width,
        |       CASE WHEN NOT trunc THEN CAST(MAX(h) AS BIGINT) END AS height,
        |       CASE WHEN NOT trunc THEN CAST(SUM(r) AS BIGINT) END AS r_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(r) AS BIGINT) END AS r_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(r) AS BIGINT) END AS r_max,
        |       CASE WHEN NOT trunc THEN CAST(SUM(g) AS BIGINT) END AS g_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(g) AS BIGINT) END AS g_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(g) AS BIGINT) END AS g_max,
        |       CASE WHEN NOT trunc THEN CAST(SUM(b) AS BIGINT) END AS b_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(b) AS BIGINT) END AS b_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(b) AS BIGINT) END AS b_max
        |FROM rgb GROUP BY doc_id, trunc""".stripMargin,
    // the 4:2:0 twin: luma per 8×8 block, chroma per 16×16 MACROBLOCK
    // (each half-res chroma block is constant, so subsampling AND the
    // nearest-neighbor upsample are exact), restart intervals on every
    // third doc — RSTn consumption is under this oracle too
    "jpeg_pixels_420" -> px420Sql,
    // subsampled PROGRESSIVE: the same macroblock rasters through the
    // SA multi-scan pipeline — shared oracle BY DESIGN
    "jpeg_pixels_prog_420" -> px420Sql)

  /** The 4:2:0 closed-form oracle — shared by the baseline and
    * SA-progressive subsampled profiles. */
  private val px420Sql: String =
      """WITH p AS (
        |  SELECT doc_id,
        |         doc_id % 40 + 8 AS w, doc_id % 28 + 8 AS h,
        |         doc_id % 7 = 3 AS trunc
        |  FROM documents
        |),
        |px AS (
        |  SELECT doc_id, w, h, trunc, j,
        |         (doc_id * 37 + ((j % w) // 8) * 11 + ((j // w) // 8) * 23) % 256 AS y,
        |         (doc_id * 13 + ((j % w) // 16) * 7 + ((j // w) // 16) * 5) % 256 AS cb,
        |         (doc_id * 29 + ((j % w) // 16) * 3 + ((j // w) // 16) * 19) % 256 AS cr
        |  FROM p, LATERAL unnest(range(0, w * h)) AS t(j)
        |),
        |rgb AS (
        |  SELECT doc_id, w, h, trunc,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y + CAST(1.402 AS DOUBLE) * (cr - 128) + 0.5) AS BIGINT))) AS r,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y - CAST(0.344136 AS DOUBLE) * (cb - 128) - CAST(0.714136 AS DOUBLE) * (cr - 128) + 0.5) AS BIGINT))) AS g,
        |         GREATEST(0, LEAST(255, CAST(FLOOR(y + CAST(1.772 AS DOUBLE) * (cb - 128) + 0.5) AS BIGINT))) AS b
        |  FROM px
        |)
        |SELECT doc_id,
        |       CASE WHEN trunc THEN 'corrupt' ELSE 'jpeg' END AS status,
        |       CASE WHEN NOT trunc THEN CAST(MAX(w) AS BIGINT) END AS width,
        |       CASE WHEN NOT trunc THEN CAST(MAX(h) AS BIGINT) END AS height,
        |       CASE WHEN NOT trunc THEN CAST(SUM(r) AS BIGINT) END AS r_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(r) AS BIGINT) END AS r_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(r) AS BIGINT) END AS r_max,
        |       CASE WHEN NOT trunc THEN CAST(SUM(g) AS BIGINT) END AS g_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(g) AS BIGINT) END AS g_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(g) AS BIGINT) END AS g_max,
        |       CASE WHEN NOT trunc THEN CAST(SUM(b) AS BIGINT) END AS b_sum,
        |       CASE WHEN NOT trunc THEN CAST(MIN(b) AS BIGINT) END AS b_min,
        |       CASE WHEN NOT trunc THEN CAST(MAX(b) AS BIGINT) END AS b_max
        |FROM rgb GROUP BY doc_id, trunc""".stripMargin
}
