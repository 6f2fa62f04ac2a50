package graft.operators

import graft.SparkSpec

/** The baseline-JPEG decoder's contract: exact on the lossless
  * block-constant profile, ImageIO-agreeing (±2 — the IDCT is
  * approximation-defined) on fully-textured rasters, and never throwing
  * on malformed bytes. */
class JpegCodecSpec extends SparkSpec {

  private def imageIoDecode(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val out = new Array[Int](w * h)
        val raster = img.getRaster
        for (y <- 0 until h; x <- 0 until w) out(y * w + x) = raster.getSample(x, y, 0)
        Some((w, h, out))
      }
    } catch { case _: Exception => None }

  test("block-constant fixtures decode EXACTLY the closed-form raster (the lossless profile)") {
    // every dims/truncation residue class; DC diffs in both signs
    (0L until 160L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims(id)
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encodeFixture(id))
      assert(got.isDefined, s"doc $id must decode")
      val d = got.get
      assert(d.width == w && d.height == h, s"doc $id dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(d.samples(y * w + x) == JpegCodecOps.fixtureSample(id, x / 8, y / 8),
          s"doc $id pixel ($x,$y): DC-only blocks are lossless by construction")
    }
  }

  test("cross-codec: ImageIO decodes our files and agrees within ±2 on textured rasters") {
    // fully-textured rasters: every AC path (negative coefficients,
    // zero runs, ZRL on sparse-tail blocks), byte stuffing in anger
    var stuffed = 0
    (1L to 40L).foreach { id =>
      val w = (id % 21 + 4).toInt; val h = (id % 13 + 4).toInt
      def px(x: Int, y: Int): Int = ((id * 31 + y * w * 7 + x * 7) % 256).toInt
      val bytes = JpegCodecOps.encodeJpeg(w, h, px)
      // count stuffed 0xFF00 pairs in the whole file (entropy stuffing)
      stuffed += bytes.sliding(2).count(p => (p(0) & 0xff) == 0xFF && (p(1) & 0xff) == 0x00)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecode(bytes)
      assert(ours.isDefined, s"our decoder must read our encoder (id $id)")
      assert(theirs.isDefined, s"ImageIO must accept the file — the conformance proof (id $id)")
      val (tw, th, tpx) = theirs.get
      val d = ours.get
      assert(d.width == tw && d.height == th)
      var worst = 0
      for (j <- d.samples.indices)
        worst = math.max(worst, math.abs(d.samples(j) - tpx(j)))
      assert(worst <= 2,
        s"id $id: independent IDCTs may differ by rounding only, got max |diff| = $worst")
    }
    assert(stuffed > 0, "the fixture set must exercise 0xFF byte stuffing somewhere")
  }

  test("color fixtures decode EXACTLY formula ∘ conversion (lossless YCbCr planes)") {
    (0L until 120L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims(id)
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encodeColorFixture(id))
      assert(got.isDefined && got.get.channels == 3, s"doc $id must decode as color")
      val d = got.get
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val yy = JpegCodecOps.fixtureYcc(id, 0, x / 8, y / 8)
        val cb = JpegCodecOps.fixtureYcc(id, 1, x / 8, y / 8)
        val cr = JpegCodecOps.fixtureYcc(id, 2, x / 8, y / 8)
        assert(d.samples((y * w + x) * 3 + c) == JpegCodecOps.ycc(c, yy, cb, cr),
          s"doc $id pixel ($x,$y) ch $c: the DCT path is lossless, the conversion exact")
      }
    }
  }

  private def imageIoDecodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val out = new Array[Int](w * h * 3)
        for (y <- 0 until h; x <- 0 until w) {
          val p = img.getRGB(x, y)
          out((y * w + x) * 3) = (p >> 16) & 0xff
          out((y * w + x) * 3 + 1) = (p >> 8) & 0xff
          out((y * w + x) * 3 + 2) = p & 0xff
        }
        Some((w, h, out))
      }
    } catch { case _: Exception => None }

  test("cross-codec color: ImageIO agrees within ±3 on textured RGB rasters") {
    // RGB->YCbCr->DCT->back: every stage approximation-defined except
    // the entropy coding, so the tolerance adds the conversion's ±1
    (1L to 25L).foreach { id =>
      val w = (id % 19 + 4).toInt; val h = (id % 11 + 4).toInt
      def rgb(x: Int, y: Int): (Int, Int, Int) = (
        ((id * 31 + y * w + x) * 7 % 256).toInt,
        ((id * 17 + y * w + x) * 5 % 256).toInt,
        ((id * 23 + y * w + x) * 11 % 256).toInt)
      val bytes = JpegCodecOps.encodeJpegRgb(w, h, rgb)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && ours.get.channels == 3, s"id $id must decode as color")
      assert(theirs.isDefined, s"ImageIO must accept the color file (id $id)")
      val (tw, th, tpx) = theirs.get
      val d = ours.get
      assert(d.width == tw && d.height == th)
      var worst = 0
      for (j <- d.samples.indices)
        worst = math.max(worst, math.abs(d.samples(j) - tpx(j)))
      assert(worst <= 3,
        s"id $id: independent color pipelines may differ by rounding only, got $worst")
    }
  }

  test("4:2:0 fixtures decode EXACTLY formula ∘ conversion, restart intervals included") {
    var withRestart = 0
    (0L until 90L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims420(id)
      if (JpegCodecOps.fixtureRestart(id) > 0) withRestart += 1
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encode420Fixture(id))
      assert(got.isDefined && got.get.channels == 3, s"doc $id must decode as 4:2:0 color")
      val d = got.get
      assert(d.width == w && d.height == h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val yy = JpegCodecOps.fixtureYcc(id, 0, x / 8, y / 8)
        val cb = JpegCodecOps.fixtureYcc(id, 1, x / 16, y / 16)
        val cr = JpegCodecOps.fixtureYcc(id, 2, x / 16, y / 16)
        assert(d.samples((y * w + x) * 3 + c) == JpegCodecOps.ycc(c, yy, cb, cr),
          s"doc $id pixel ($x,$y) ch $c: macroblock-constant chroma is lossless " +
            s"through subsampling AND nearest upsampling")
      }
    }
    assert(withRestart > 10, "the fixture set must exercise restart intervals")
  }

  test("cross-codec 4:2:0: ImageIO agrees within ±3 on textured luma with flat chroma") {
    // textured LUMA exercises every entropy path; chroma is GLOBALLY
    // constant per image so libjpeg's fancy (triangular) upsampler and
    // this decoder's nearest-neighbor agree exactly (interpolating a
    // constant is the constant) — a boundary-free differential. Both
    // with and without restart intervals.
    (1L to 20L).foreach { id =>
      val w = (id % 37 + 10).toInt; val h = (id % 23 + 10).toInt
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      val cb0 = ((id * 53) % 256).toInt; val cr0 = ((id * 71) % 256).toInt
      val bytes = JpegCodecOps.encodeJpeg420(w, h,
        (x, y) => ((id * 31 + y * w + x) * 7 % 256).toInt,
        (_, _) => cb0, (_, _) => cr0,
        restartInterval = if (id % 2 == 0) 1 else 0)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && ours.get.channels == 3, s"id $id must decode")
      assert(theirs.isDefined, s"ImageIO must accept the 4:2:0 file (id $id)")
      val (tw, th, tpx) = theirs.get
      assert(ours.get.width == tw && ours.get.height == th)
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - tpx(j)))
      assert(worst <= 3,
        s"id $id: flat-chroma 4:2:0 pipelines may differ by rounding only, got $worst")
      assert(cw * ch > 0)
    }
  }

  test("malformed bytes never throw: every truncation and every single-byte corruption") {
    val whole = JpegCodecOps.encodeJpeg(12, 10, (x, y) => (x * 17 + y * 29) % 256)
    // every truncation point: None or a well-formed partial refusal
    (0 until whole.length).foreach { n =>
      JpegCodecOps.decodeJpeg(whole.take(n)) // must not throw
    }
    // single-byte corruptions: never throw; most are None, a corrupted
    // PIXEL byte may still decode (JPEG carries no payload checksum —
    // that is the format's property, not the decoder's)
    (0 until whole.length).foreach { i =>
      val dup = whole.clone()
      dup(i) = (dup(i) ^ 0x5a).toByte
      JpegCodecOps.decodeJpeg(dup) // must not throw
    }
    // out-of-scope profiles are honest Nones: progressive SOF2 and a
    // restart-interval DRI both refuse rather than mis-decode
    val sof2 = whole.clone()
    // find the SOF0 marker and rewrite it to SOF2
    val sofAt = whole.indices.dropWhile(i =>
      !((whole(i) & 0xff) == 0xFF && (whole(i + 1) & 0xff) == 0xC0)).head
    sof2(sofAt + 1) = 0xC2.toByte
    assert(JpegCodecOps.decodeJpeg(sof2).isEmpty, "progressive must refuse, not garble")
  }

  test("PROGRESSIVE block-constant fixtures decode EXACTLY the closed form " +
      "through the multi-scan path") {
    (0L until 160L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims(id)
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encodeProgressiveFixture(id))
      assert(got.isDefined, s"doc $id must decode progressively")
      val d = got.get
      assert(d.width == w && d.height == h && d.channels == 1, s"doc $id dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(d.samples(y * w + x) == JpegCodecOps.fixtureSample(id, x / 8, y / 8),
          s"doc $id pixel ($x,$y): DC scan + zero-AC band scans are lossless")
    }
  }

  test("progressive cross-codec: ImageIO agrees within ±2 gray / ±3 color on textured rasters") {
    (1L to 25L).foreach { id =>
      val w = (id % 21 + 4).toInt; val h = (id % 13 + 4).toInt
      def px(x: Int, y: Int): Int = ((id * 31 + y * w * 7 + x * 7) % 256).toInt
      val bytes = JpegCodecOps.encodeJpegProgressive(w, h, 1, (_, x, y) => px(x, y))
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecode(bytes)
      assert(ours.isDefined, s"our decoder must read our progressive encoder (id $id)")
      assert(theirs.isDefined, s"ImageIO must accept the progressive file (id $id)")
      val (tw, th, tpx) = theirs.get
      assert(ours.get.width == tw && ours.get.height == th)
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - tpx(j)))
      assert(worst <= 2, s"id $id: gray progressive differs by $worst")
    }
    // the 4:4:4 color face: textured luma, gently-varying chroma
    (1L to 10L).foreach { id =>
      val w = (id % 17 + 6).toInt; val h = (id % 11 + 6).toInt
      def comp(c: Int, x: Int, y: Int): Int = c match {
        case 0 => ((id * 31 + y * w * 7 + x * 7) % 256).toInt
        case 1 => ((id * 5 + (x / 8) * 3 + (y / 8) * 11) % 256).toInt
        case _ => ((id * 9 + (x / 8) * 13 + (y / 8) * 5) % 256).toInt
      }
      val bytes = JpegCodecOps.encodeJpegProgressive(w, h, 3, comp)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && theirs.isDefined, s"color progressive id $id")
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - theirs.get._3(j)))
      assert(worst <= 3, s"id $id: color progressive differs by $worst")
    }
  }

  test("progressive malformed bytes never throw (spectral and SA files alike)") {
    val whole = JpegCodecOps.encodeJpegProgressive(12, 10, 1,
      (_, x, y) => (x * 17 + y * 29) % 256)
    (0 until whole.length).foreach { n =>
      JpegCodecOps.decodeJpeg(whole.take(n)) // must not throw
    }
    (0 until whole.length).foreach { i =>
      val dup = whole.clone()
      dup(i) = (dup(i) ^ 0x5a).toByte
      JpegCodecOps.decodeJpeg(dup) // must not throw
    }
    assert(JpegCodecOps.decodeJpeg(whole).isDefined, "the untouched file decodes")
    // the same sweeps over a successive-approximation file with
    // restart intervals — every truncation and single-byte corruption
    // walks the refinement paths too
    val sa = JpegCodecOps.encodeJpegProgressiveSA(13, 11,
      Seq(((((x: Int, y: Int) => (x * 17 + y * 29) % 256)), 1, 1)),
      restartInterval = 1)
    (0 until sa.length).foreach { n =>
      JpegCodecOps.decodeJpeg(sa.take(n)) // must not throw
    }
    (0 until sa.length).foreach { i =>
      val dup = sa.clone()
      dup(i) = (dup(i) ^ 0x5a).toByte
      JpegCodecOps.decodeJpeg(dup) // must not throw
    }
    assert(JpegCodecOps.decodeJpeg(sa).isDefined, "the untouched SA file decodes")
  }

  test("SA block-constant fixtures decode EXACTLY: the point transform splits " +
      "each DC losslessly across first + refinement scans") {
    var withRestart = 0
    (0L until 160L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims(id)
      if (JpegCodecOps.fixtureRestart(id) > 0) withRestart += 1
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encodeProgressiveSAFixture(id))
      assert(got.isDefined, s"doc $id must decode through the SA path")
      val d = got.get
      assert(d.width == w && d.height == h && d.channels == 1, s"doc $id dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(d.samples(y * w + x) == JpegCodecOps.fixtureSample(id, x / 8, y / 8),
          s"doc $id pixel ($x,$y): shift-down + appended-bit must reassemble the DC")
    }
    assert(withRestart > 10, "the SA fixture set must exercise restart intervals")
  }

  test("SUBSAMPLED-progressive fixtures decode EXACTLY: interleaved DC MCUs + " +
      "per-component AC grids + refinements over the 4:2:0 layout") {
    (0L until 90L).filter(_ % 7 != 3).foreach { id =>
      val (w, h) = JpegCodecOps.fixtureDims420(id)
      val got = JpegCodecOps.decodeJpeg(JpegCodecOps.encodeProg420Fixture(id))
      assert(got.isDefined && got.get.channels == 3, s"doc $id must decode as 4:2:0 SA")
      val d = got.get
      assert(d.width == w && d.height == h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val yy = JpegCodecOps.fixtureYcc(id, 0, x / 8, y / 8)
        val cb = JpegCodecOps.fixtureYcc(id, 1, x / 16, y / 16)
        val cr = JpegCodecOps.fixtureYcc(id, 2, x / 16, y / 16)
        assert(d.samples((y * w + x) * 3 + c) == JpegCodecOps.ycc(c, yy, cb, cr),
          s"doc $id pixel ($x,$y) ch $c: macroblock chroma stays lossless through " +
            s"the progressive 4:2:0 pipeline")
      }
    }
  }

  test("SA cross-codec: ImageIO reads OUR successive-approximation files " +
      "(textured gray ±2, 4:4:4 color ±3, 4:2:0 flat-chroma ±3)") {
    (1L to 25L).foreach { id =>
      val w = (id % 21 + 4).toInt; val h = (id % 13 + 4).toInt
      val bytes = JpegCodecOps.encodeJpegProgressiveSA(w, h,
        Seq(((((x: Int, y: Int) => ((id * 31 + y * w * 7 + x * 7) % 256).toInt)), 1, 1)),
        restartInterval = if (id % 2 == 0) 1 else 0)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecode(bytes)
      assert(ours.isDefined, s"our decoder must read our SA encoder (id $id)")
      assert(theirs.isDefined, s"ImageIO must accept the SA file — conformance (id $id)")
      val (tw, th, tpx) = theirs.get
      assert(ours.get.width == tw && ours.get.height == th)
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - tpx(j)))
      assert(worst <= 2, s"id $id: gray SA differs by $worst")
    }
    (1L to 8L).foreach { id =>
      val w = (id % 17 + 6).toInt; val h = (id % 11 + 6).toInt
      def comp(c: Int)(x: Int, y: Int): Int = c match {
        case 0 => ((id * 31 + y * w * 7 + x * 7) % 256).toInt
        case 1 => ((id * 5 + (x / 8) * 3 + (y / 8) * 11) % 256).toInt
        case _ => ((id * 9 + (x / 8) * 13 + (y / 8) * 5) % 256).toInt
      }
      val bytes = JpegCodecOps.encodeJpegProgressiveSA(w, h,
        Seq((comp(0) _, 1, 1), (comp(1) _, 1, 1), (comp(2) _, 1, 1)))
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && theirs.isDefined, s"color SA id $id")
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - theirs.get._3(j)))
      assert(worst <= 3, s"id $id: 4:4:4 SA differs by $worst")
    }
    // subsampled SA: textured luma, GLOBALLY flat chroma (interpolating
    // vs nearest upsamplers agree exactly on a constant)
    (1L to 8L).foreach { id =>
      val w = (id % 37 + 10).toInt; val h = (id % 23 + 10).toInt
      val cb0 = ((id * 53) % 256).toInt; val cr0 = ((id * 71) % 256).toInt
      val bytes = JpegCodecOps.encodeJpegProgressiveSA(w, h, Seq(
        ((((x: Int, y: Int) => ((id * 31 + y * w + x) * 7 % 256).toInt)), 2, 2),
        ((((_: Int, _: Int) => cb0)), 1, 1),
        ((((_: Int, _: Int) => cr0)), 1, 1)),
        restartInterval = if (id % 2 == 0) 2 else 0)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && ours.get.channels == 3, s"id $id must decode")
      assert(theirs.isDefined, s"ImageIO must accept the subsampled SA file (id $id)")
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - theirs.get._3(j)))
      assert(worst <= 3, s"id $id: 4:2:0 SA differs by $worst")
    }
  }

  private def imageIoEncodeProgressive(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val baos = new java.io.ByteArrayOutputStream
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose(); ios.close()
    baos.toByteArray
  }

  test("REAL-WORLD progressive: ImageIO-WRITTEN files (libjpeg's standard SA " +
      "script — an independent encoder) decode and agree with ImageIO's own read") {
    // gray: sampling (1,1), scans DC@Al=1, AC 1-5@Al=2, AC 6-63@Al=2,
    // AC refine Ah=2→Al=1, DC refine, AC refine Ah=1→Al=0 (probed)
    (1L to 15L).foreach { id =>
      val w = (id % 29 + 8).toInt; val h = (id % 19 + 8).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, ((id * 31 + y * w * 7 + x * 7) % 256).toInt)
      val bytes = imageIoEncodeProgressive(img)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecode(bytes)
      assert(ours.isDefined, s"id $id: must decode a real libjpeg-script progressive file")
      assert(theirs.isDefined)
      val (tw, th, tpx) = theirs.get
      assert(ours.get.width == tw && ours.get.height == th)
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - tpx(j)))
      assert(worst <= 2, s"id $id: real-world gray progressive differs by $worst")
    }
    // color: ImageIO writes 4:2:0 progressive (sampling 22/11/11 —
    // probed); R=G=B content keeps chroma flat at 128 so the
    // interpolating-vs-nearest upsampler difference vanishes
    (1L to 10L).foreach { id =>
      val w = (id % 37 + 10).toInt; val h = (id % 23 + 10).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((id * 31 + y * w + x) * 7 % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bytes = imageIoEncodeProgressive(img)
      val ours = JpegCodecOps.decodeJpeg(bytes)
      val theirs = imageIoDecodeRgb(bytes)
      assert(ours.isDefined && ours.get.channels == 3,
        s"id $id: must decode a real 4:2:0 SA progressive file")
      assert(theirs.isDefined)
      var worst = 0
      for (j <- ours.get.samples.indices)
        worst = math.max(worst, math.abs(ours.get.samples(j) - theirs.get._3(j)))
      assert(worst <= 3, s"id $id: real-world 4:2:0 progressive differs by $worst")
    }
  }

  test("zero-length segments refuse instead of spinning the marker walk") {
    // a segment length counts its own two bytes, so len == 0 is
    // spec-invalid AND advances pos by nothing — without the < 2 guard
    // the marker walk loops forever (the XOR corruption sweep above can
    // never produce a zero length, hence this targeted construction)
    val com0 = Array(0xFF, 0xD8, 0xFF, 0xFE, 0x00, 0x00, 0x12, 0x34).map(_.toByte)
    assert(JpegCodecOps.decodeJpeg(com0).isEmpty, "SOI + zero-length COM must refuse")
    // and mid-stream: zero each real segment's length field in turn
    // (DQT, DHT, APPn, COM are the cases with no segment-specific
    // minimum; SOF/SOS/DRI already had one)
    val whole = JpegCodecOps.encodeJpeg(12, 10, (x, y) => (x * 17 + y * 29) % 256)
    val lenMarkers = Set(0xC4, 0xDB, 0xFE) ++ (0xE0 to 0xEF)
    var zeroed = 0
    (0 until whole.length - 3).foreach { i =>
      if ((whole(i) & 0xff) == 0xFF && lenMarkers.contains(whole(i + 1) & 0xff)) {
        val dup = whole.clone()
        dup(i + 2) = 0; dup(i + 3) = 0
        assert(JpegCodecOps.decodeJpeg(dup).isEmpty,
          f"zeroed length of marker FF${whole(i + 1) & 0xff}%02X at $i must refuse")
        zeroed += 1
      }
    }
    assert(zeroed > 0, "the fixture must contain at least one length-bearing segment")
  }

  // ---- pinned codec digests -------------------------------------------
  // md5 of every fixture encoder's bytes over doc ids 0-699, of the
  // decoder's result on those files, and of the decoder's result on
  // every truncation of one file per shape. The constants were computed
  // on the codec with separate baseline and progressive decoders and
  // three frame writers; they stay fixed through any refactor of the
  // codec. An encoder changed ON PURPOSE changes them: regenerate by
  // running this test and copying the "got" values from its failure.

  private def md5(feed: java.io.DataOutputStream => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(java.io.OutputStream.nullOutputStream(), md))
    feed(out)
    out.flush()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The decoder's whole result — dims, channels and every sample, or a
    * None marker — into the digest. */
  private def putDecoded(out: java.io.DataOutputStream, bytes: Array[Byte]): Unit =
    JpegCodecOps.decodeJpeg(bytes) match {
      case None => out.writeInt(-1)
      case Some(d) =>
        out.writeInt(d.width); out.writeInt(d.height); out.writeInt(d.channels)
        out.writeInt(d.samples.length); d.samples.foreach(out.writeInt)
    }

  /** (name, encoder, is an AVI container) for every fixture encoder. */
  private val fixtureEncoders: Seq[(String, Long => Array[Byte], Boolean)] = Seq(
    ("gray", JpegCodecOps.encodeFixture _, false),
    ("color", JpegCodecOps.encodeColorFixture _, false),
    ("420", JpegCodecOps.encode420Fixture _, false),
    ("prog", JpegCodecOps.encodeProgressiveFixture _, false),
    ("prog_sa", JpegCodecOps.encodeProgressiveSAFixture _, false),
    ("prog_420", JpegCodecOps.encodeProg420Fixture _, false),
    ("avi", AviCodecOps.encodeAviFixture _, true),
    ("video", AviCodecOps.encodeVideoFixture _, true))

  private def assertPinned(pinned: Map[String, String], got: Map[String, String]): Unit = {
    val off = pinned.keys.toSeq.sorted.filter(k => got(k) != pinned(k))
    assert(off.isEmpty && got.keySet == pinned.keySet,
      "digests moved: " + off.map(k => s"$k pinned ${pinned(k)} got ${got(k)}").mkString("; ") +
        s" (all got: ${got.toSeq.sorted.map { case (k, v) => s"""\"$k\" -> \"$v\"""" }.mkString(", ")})")
  }

  test("pinned digests: fixture bytes and their decodes over doc ids 0-699") {
    val ids = 0L until 700L
    val bytesGot = fixtureEncoders.map { case (name, enc, _) =>
      s"bytes $name" -> md5(out => ids.foreach { id =>
        val b = enc(id); out.writeInt(b.length); out.write(b)
      })
    }.toMap
    val decodeGot = fixtureEncoders.map { case (name, enc, avi) =>
      s"decode $name" -> md5(out => ids.foreach { id =>
        val b = enc(id)
        if (!avi) putDecoded(out, b)
        else AviCodecOps.parseAvi(b) match {
          case None => out.writeInt(-2)
          case Some(p) => (0 until p.nFrames).foreach { i =>
            val (off, len) = p.frames(i)
            putDecoded(out, java.util.Arrays.copyOfRange(b, off, off + len))
          }
        }
      })
    }.toMap
    assertPinned(Map(
      "bytes gray" -> "f8697baad2eb623c11b43515cd45c06d",
      "bytes color" -> "6adef07e0eee2acc304ebe7b271b5f25",
      "bytes 420" -> "945060d89d98497b7eb2ce29ae004829",
      "bytes prog" -> "5b2dd15292f09bda603e7115ab7a55cf",
      "bytes prog_sa" -> "a0f6b5ce3fb20fb56c8569f3900e9adc",
      "bytes prog_420" -> "d9bb2231bf97b6baa3d5ebfb558732e9",
      "bytes avi" -> "700f2f631c8b9f85b2cea32da41acc3d",
      "bytes video" -> "892a6bd1114e7cb907be7b8193b071a9",
      // the gray twins share one raster, as do the 4:2:0 twins
      "decode gray" -> "eaac822fb49b821e05c66323017af9bc",
      "decode color" -> "9d9485f488da900be18f7001f5925c76",
      "decode 420" -> "6a13b8550482868e785cfb5667f32566",
      "decode prog" -> "eaac822fb49b821e05c66323017af9bc",
      "decode prog_sa" -> "eaac822fb49b821e05c66323017af9bc",
      "decode prog_420" -> "6a13b8550482868e785cfb5667f32566",
      "decode avi" -> "d51b1d2871beef7feb85a1e62ab88c0c",
      "decode video" -> "f5806a8ee5a5058b7524c02c468526c6"), bytesGot ++ decodeGot)
  }

  test("pinned digests: the decode of every truncation of one file per shape") {
    def textured(x: Int, y: Int): Int = (x * 17 + y * 29 + x * y) % 256
    val shapes: Seq[(String, Array[Byte])] =
      fixtureEncoders.filterNot(_._3).map { case (name, enc, _) => name -> enc(37L) } ++ Seq(
        "textured_rgb" -> JpegCodecOps.encodeJpegRgb(21, 13,
          (x, y) => (textured(x, y), textured(y, x), (x * 7 + y * 3) % 256)),
        "textured_420_restart" -> JpegCodecOps.encodeJpeg420(29, 19,
          textured, (x, y) => (x * 9 + y * 5) % 256, (x, y) => (x * 3 + y * 11) % 256,
          restartInterval = 1),
        "textured_prog_color" -> JpegCodecOps.encodeJpegProgressive(19, 11, 3,
          (c, x, y) => if (c == 0) textured(x, y) else (x * (c + 3) + y) % 256),
        "textured_sa_420_restart" -> JpegCodecOps.encodeJpegProgressiveSA(29, 19, Seq(
          (textured _, 2, 2), (((x: Int, y: Int) => (x * 9 + y * 5) % 256), 1, 1),
          (((x: Int, y: Int) => (x * 3 + y * 11) % 256), 1, 1)), restartInterval = 2))
    val got = shapes.map { case (name, whole) =>
      name -> md5(out => (0 to whole.length).foreach(n => putDecoded(out, whole.take(n))))
    }.toMap
    assertPinned(Map(
      "gray" -> "345a4827276ae64ad964faa948ba9abd",
      "color" -> "21e91422212e0385532c44b7282b0ec2",
      "420" -> "2c2bba064da1dc98f346ffe4aada5fa0",
      "prog" -> "8e1c30f5c633aaeec4a86840083afa3d",
      "prog_sa" -> "faf0c82e747ad04d705807ee17046080",
      "prog_420" -> "9bf72c4d3c275f7fcaeee10d7e1723ff",
      "textured_rgb" -> "f08f5a39113f2955267fcf269af850e0",
      "textured_420_restart" -> "77f701b9c0b3a9a9580a01695ed3fcf2",
      "textured_prog_color" -> "5434db122e89e5977015273b2b697d82",
      "textured_sa_420_restart" -> "9d09e4afb2afb3b15a4601f278cf3c83"), got)
  }

  test("fixture chain: truncated docs degrade to corrupt rows; stats match the formula") {
    val s = spark
    import s.implicits._
    val docs = (0L until 60L).map(id => (id, s"doc $id")).toDF("doc_id", "text")
    val rows = JpegCodecOps.jpegPixels(docs).collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 3) assert(r.getString(1) == "corrupt" && r.isNullAt(4),
        s"doc $id must be the corrupt twist")
      else {
        val (w, h) = JpegCodecOps.fixtureDims(id)
        val expect = (for (y <- 0 until h; x <- 0 until w)
          yield JpegCodecOps.fixtureSample(id, x / 8, y / 8).toLong).sum
        assert(r.getString(1) == "jpeg" && r.getLong(2) == w && r.getLong(3) == h &&
          r.getLong(4) == expect, s"doc $id stats must match the closed form")
      }
    }
  }
}
