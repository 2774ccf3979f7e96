package graft

import graft.multimodal.{ImageCodec, JpegCodec, MediaSynth, PngCodec}
import graft.multimodal.ImageCodec.Image

/** Baseline JPEG codec specs (r15): golden entropy bits hand-derived from
  * the T.81 Annex K tables pin the Huffman encoder to the spec; seeded
  * block-constant roundtrips prove the DC-only losslessness contract the
  * oracle pairing of x387–x389 relies on; an independent direct-form IDCT
  * cross-checks the separable one on dense random blocks; loud-failure
  * cases cover progressive SOF, truncation, restart-marker corruption,
  * and geometry overflow. Plus the r14 ADVICE hardening cases (GIF color
  * palettes, PNG/BMP Long-size guards, BMP bfSize cross-check). */
class JpegCodecSpec extends SparkTestBase {

  test("golden entropy vector: single v=128 block is DC cat 0 ('00') + EOB ('1010'), padded with 1s") {
    // DC-lum canonical codes: symbol 0 is the single length-2 code -> 00.
    // AC-lum: lengths [0,2,1,3,...] give length-4 codes starting at 1010,
    // and symbol 0x00 (EOB) is the FIRST length-4 value -> 1010.
    // Entropy segment: 00 1010 + 11 padding = 0x2B, exactly one byte.
    val enc = JpegCodec.encodeJpegGray(Array(128), 1, 1)
    // entropy data sits between the SOS segment and the trailing EOI
    val scan = enc.slice(enc.length - 3, enc.length - 2)
    assert(scan.sameElements(Array(0x2b.toByte)),
      s"entropy byte = 0x${(scan(0) & 0xff).toHexString}")
    val (img, len) = JpegCodec.decodeJpeg(enc)
    assert(len == enc.length)
    assert(img.width == 8 && img.height == 8)
    assert(img.r.forall(_ == 128) && img.g.forall(_ == 128) && img.b.forall(_ == 128))
  }

  test("block-constant grayscale roundtrips are integer-exact (the losslessness contract)") {
    val rnd = new scala.util.Random(15)
    (1 to 40).foreach { _ =>
      val bw = 1 + rnd.nextInt(4); val bh = 1 + rnd.nextInt(4)
      val blocks = Array.fill(bw * bh)(rnd.nextInt(256))
      val enc = JpegCodec.encodeJpegGray(blocks, bw, bh)
      val (img, len) = JpegCodec.decodeJpeg(enc)
      assert(len == enc.length)
      assert(img.width == 8 * bw && img.height == 8 * bh)
      for (by <- 0 until bh; bx <- 0 until bw; y <- 0 until 8; x <- 0 until 8) {
        val v = img.r((by * 8 + y) * img.width + bx * 8 + x)
        assert(v == blocks(by * bw + bx), s"block ($by,$bx) sample ($y,$x): $v")
      }
    }
  }

  test("restart markers: DRI=2 emits RSTn, decodes exactly, and a corrupted RST fails loudly") {
    val blocks = Array(10, 250, 37, 128, 99, 200, 1, 77, 163)
    val enc = JpegCodec.encodeJpegGray(blocks, 3, 3, dri = 2)
    // the stream must actually carry restart markers
    val hasRst = enc.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7)
    assert(hasRst, "no RSTn marker found in DRI-encoded stream")
    val (img, _) = JpegCodec.decodeJpeg(enc)
    for (by <- 0 until 3; bx <- 0 until 3)
      assert(img.r((by * 8) * 24 + bx * 8) == blocks(by * 3 + bx))
    // corrupt the first RST's index: decoder must reject the sequence
    val corrupt = enc.clone()
    val rstPos = corrupt.indices.find(i => i + 1 < corrupt.length &&
      (corrupt(i) & 0xff) == 0xff && (corrupt(i + 1) & 0xff) == 0xd0).get
    corrupt(rstPos + 1) = 0xd5.toByte
    intercept[IllegalArgumentException](JpegCodec.decodeJpeg(corrupt))
  }

  test("interleaved restart markers: color DRI resets all three predictors and decodes exactly (r15 verdict #4)") {
    // 3x3 MCUs at 4:2:0 with DRI=2: RSTn boundaries fall mid-row, so the
    // decode exercises predictor resets for Y, Cb AND Cr plus rstIdx
    // sequencing on an interleaved scan.
    val rnd = new scala.util.Random(16)
    Seq((2, 2), (2, 1), (1, 1)).foreach { case (hy, vy) =>
      val mw = 3; val mh = 3
      val yB = Array.fill(hy * vy * mw * mh)(rnd.nextInt(256))
      val cb = Array.fill(mw * mh)(rnd.nextInt(256))
      val cr = Array.fill(mw * mh)(rnd.nextInt(256))
      val enc = JpegCodec.encodeJpegYcc(yB, cb, cr, mw, mh, hy, vy, dri = 2)
      val hasRst = enc.sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7)
      assert(hasRst, s"no RSTn in DRI color stream ${hy}x$vy")
      val noDri = JpegCodec.encodeJpegYcc(yB, cb, cr, mw, mh, hy, vy)
      val (img, len) = JpegCodec.decodeJpeg(enc)
      val (img0, _) = JpegCodec.decodeJpeg(noDri)
      assert(len == enc.length)
      assert(img.r.sameElements(img0.r) && img.g.sameElements(img0.g) &&
        img.b.sameElements(img0.b), s"DRI decode differs from plain decode at ${hy}x$vy")
    }
  }

  test("ZRL marching k past the block fails loudly (ADVICE r15)") {
    // Hand-built entropy segment: DC cat 0 ('00') then FOUR ZRLs (AC-lum
    // 0xF0 = '11111111001', 11 bits each) — k = 1+16*4 = 65 > 64. A legal
    // encoder can never emit this (it would use EOB), so the bytes are
    // spliced over the golden single-block stream's 1-byte entropy
    // segment: 46 bits + '11' padding = 6 bytes, with 0x00 stuffed after
    // the 0xFF. Pre-fix the decoder ended the block silently and decoded
    // to EOI without error; the fail-loud contract requires a throw.
    val base = JpegCodec.encodeJpegGray(Array(128), 1, 1)
    val zrlRun = Array(0x3f, 0xcf, 0xf9, 0xff, 0x00, 0x3f, 0xe7).map(_.toByte)
    val corrupt = base.dropRight(3) ++ zrlRun ++ base.takeRight(2)
    val e = intercept[IllegalArgumentException](JpegCodec.decodeJpeg(corrupt))
    assert(e.getMessage.contains("ZRL"), e.getMessage)
  }

  test("4:2:0 color roundtrip: box upsampling + JFIF matrix, exact vs the reference formula") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val mw = 1 + rnd.nextInt(2); val mh = 1 + rnd.nextInt(2)
      val yB = Array.fill(4 * mw * mh)(rnd.nextInt(256))
      val cb = Array.fill(mw * mh)(rnd.nextInt(256))
      val cr = Array.fill(mw * mh)(rnd.nextInt(256))
      val enc = JpegCodec.encodeJpegYcc(yB, cb, cr, mw, mh, 2, 2)
      val (img, len) = JpegCodec.decodeJpeg(enc)
      assert(len == enc.length)
      assert(img.width == 16 * mw && img.height == 16 * mh)
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val by = y / 8; val bx = x / 8
        val my = y / 16; val mx = x / 16
        val yv = yB(by * (2 * mw) + bx)
        val (er, eg, eb) = JpegCodec.ycbcrToRgb(yv, cb(my * mw + mx), cr(my * mw + mx))
        val i = y * img.width + x
        assert(img.r(i) == er && img.g(i) == eg && img.b(i) == eb,
          s"pixel ($y,$x): got (${img.r(i)},${img.g(i)},${img.b(i)}) want ($er,$eg,$eb)")
      }
    }
  }

  test("separable IDCT matches an independent direct-form IDCT on dense random blocks") {
    // direct (non-separable) double IDCT written independently of the impl
    def directIdct(coef: Array[Int]): Array[Int] = {
      def c(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      Array.tabulate(64) { i =>
        val x = i % 8; val y = i / 8
        var s = 0.0
        for (u <- 0 until 8; v <- 0 until 8)
          s += c(u) * c(v) / 4.0 * coef(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16.0) *
            math.cos((2 * y + 1) * v * math.Pi / 16.0)
        val r = math.floor(s + 128.5).toInt
        if (r < 0) 0 else if (r > 255) 255 else r
      }
    }
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val coef = Array.fill(64)(rnd.nextInt(201) - 100)
      coef(1) = if (coef(1) == 0) 3 else coef(1) // force the dense path
      val a = JpegCodec.idctBlock(coef)
      val b = directIdct(coef)
      // identical rounding rule; only float summation ORDER differs, so
      // allow the half-ULP boundary case of at most 1 gray level
      (0 until 64).foreach(i => assert(math.abs(a(i) - b(i)) <= 1,
        s"sample $i: separable ${a(i)} vs direct ${b(i)}"))
    }
  }

  test("loud failures: progressive SOF, 12-bit precision, truncation, missing EOI, geometry overflow") {
    val ok = JpegCodec.encodeJpegGray(Array(100, 200), 2, 1)
    // SOF0 -> SOF2 (progressive): find the FFC0 marker and flip it
    val sofPos = ok.indices.find(i => i + 1 < ok.length &&
      (ok(i) & 0xff) == 0xff && (ok(i + 1) & 0xff) == 0xc0).get
    val prog = ok.clone(); prog(sofPos + 1) = 0xc2.toByte
    val e1 = intercept[IllegalArgumentException](JpegCodec.decodeJpeg(prog))
    assert(e1.getMessage.contains("baseline"))
    // precision byte 8 -> 12
    val p12 = ok.clone(); p12(sofPos + 4) = 12.toByte
    intercept[IllegalArgumentException](JpegCodec.decodeJpeg(p12))
    // truncation mid-scan
    intercept[IllegalArgumentException](JpegCodec.decodeJpeg(ok.take(ok.length - 3)))
    // EOI replaced by another marker
    val noEoi = ok.clone(); noEoi(noEoi.length - 1) = 0xd8.toByte
    intercept[IllegalArgumentException](JpegCodec.decodeJpeg(noEoi))
    // hostile geometry: w=h=0xffff overflows Int in w*h MCU math -> loud
    val huge = ok.clone()
    huge(sofPos + 5) = 0xff.toByte; huge(sofPos + 6) = 0xff.toByte
    huge(sofPos + 7) = 0xff.toByte; huge(sofPos + 8) = 0xff.toByte
    intercept[Throwable] { JpegCodec.decodeJpeg(huge) }
  }

  test("container dispatch: JPEG frames interleave with BMP in decodeFrames") {
    val jp = JpegCodec.encodeJpegGray(Array(50), 1, 1)
    val ch = Array.fill(64)(77)
    val bmp = ImageCodec.encodeBmp(Image(8, 8, ch, ch.clone(), ch.clone()))
    val frames = ImageCodec.decodeFrames(jp ++ bmp ++ jp)
    assert(frames.size == 3)
    assert(frames(0).r.forall(_ == 50) && frames(1).r.forall(_ == 77) &&
      frames(2).r.forall(_ == 50))
  }

  test("synth→encode→decode identity on real documents (gray + 4:2:0)") {
    val docs = Tables.documents(spark, sfDir).limit(30)
    val md = java.security.MessageDigest.getInstance("MD5")
    import spark.implicits._
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val blocks = MediaSynth.decodeJpegBlockStats(MediaSynth.synthJpegVideos(docs)).collect()
    assert(blocks.nonEmpty)
    blocks.groupBy(_.doc_id).foreach { case (id, bs) =>
      val (nf, bw, bh) = MediaSynth.jpegGeom(md, texts(id))
      assert(bs.length == nf * bw * bh, s"doc $id: ${bs.length} blocks")
    }
    val rgb = MediaSynth.decodeJpeg420ChannelSums(
      MediaSynth.synthJpeg420Videos(docs)).collect()
    assert(rgb.nonEmpty)
    rgb.foreach { r =>
      val (_, mw, mh) = MediaSynth.jpeg420Geom(md, texts(r.doc_id))
      val maxSum = 255L * 256 * mw * mh
      assert(r.r_sum >= 0 && r.r_sum <= maxSum)
    }
  }

  test("sampling matrix: 4:4:4 / 4:2:2 / 4:2:0 all roundtrip exactly through one decoder") {
    val rnd = new scala.util.Random(23)
    for (((hy, vy), _) <- Seq((1, 1), (2, 1), (2, 2)).zipWithIndex; _ <- 1 to 8) {
      val mw = 1 + rnd.nextInt(2); val mh = 1 + rnd.nextInt(2)
      val yB = Array.fill(hy * vy * mw * mh)(rnd.nextInt(256))
      val cb = Array.fill(mw * mh)(rnd.nextInt(256))
      val cr = Array.fill(mw * mh)(rnd.nextInt(256))
      val enc = JpegCodec.encodeJpegYcc(yB, cb, cr, mw, mh, hy, vy)
      val (img, len) = JpegCodec.decodeJpeg(enc)
      assert(len == enc.length)
      assert(img.width == 8 * hy * mw && img.height == 8 * vy * mh)
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val yv = yB((y / 8) * (hy * mw) + x / 8)
        val mcu = (y / (8 * vy)) * mw + x / (8 * hy)
        val (er, eg, eb) = JpegCodec.ycbcrToRgb(yv, cb(mcu), cr(mcu))
        val i = y * img.width + x
        assert(img.r(i) == er && img.g(i) == eg && img.b(i) == eb,
          s"${hy}x$vy pixel ($y,$x)")
      }
    }
    // vertical-only subsampling (1x2) stays rejected: v <= h gate
    intercept[IllegalArgumentException] {
      val enc = JpegCodec.encodeJpegYcc(Array(1, 2), Array(9), Array(9), 1, 1, 2, 1)
      // rewrite Y sampling byte 0x21 -> 0x12 and re-decode
      val idx = enc.indices.find(i => i + 1 < enc.length &&
        (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc0).get
      val bad = enc.clone(); bad(idx + 11) = 0x12.toByte
      JpegCodec.decodeJpeg(bad)
    }
  }

  test("indexed MJPEG sampler: skips via the length prefix, cross-checks decoded length, fails on a lying index") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(20)
    val vids = MediaSynth.synthMjpegIndexed(docs)
    val sampled = MediaSynth.decodeMjpegSampled(vids, 3).collect()
    assert(sampled.nonEmpty)
    sampled.foreach { s =>
      assert(s.n_decoded == (s.n_frames + 2) / 3, s"doc ${s.doc_id}: ${s.n_decoded}/${s.n_frames}")
      assert(s.luma_sum > 0)
    }
    // full decode (k=1) over the same container must cover every frame
    val full = MediaSynth.decodeMjpegSampled(vids, 1).collect()
      .map(s => s.doc_id -> s).toMap
    sampled.foreach(s => assert(full(s.doc_id).n_frames == s.n_frames &&
      full(s.doc_id).luma_sum >= s.luma_sum))
    // a lying index desynchronizes the walk and must fail loudly
    val one = vids.filter($"doc_id" === sampled.head.doc_id).collect().head
    val lying = one.video.clone()
    lying(0) = (lying(0) + 2).toByte // first frame's declared length += 2
    val bad = MediaSynth.VideoDoc(one.doc_id, lying, one.fmt)
    intercept[Exception] {
      MediaSynth.decodeMjpegSampled(
        spark.createDataset(Seq(bad))(org.apache.spark.sql.Encoders.product[MediaSynth.VideoDoc]), 1).collect()
    }
  }

  // ------------------------------- r14 ADVICE hardening regression cases --

  test("GIF decode reads all three palette channels (ADVICE r14)") {
    val img = Image(4, 4,
      Array.fill(16)(3), Array.fill(16)(3), Array.fill(16)(3))
    val enc = graft.multimodal.GifCodec.encodeGif(Seq(img))
    // rewrite global color table entry 3 to a NON-gray color (9, 200, 40):
    // header(13) + 3 bytes per entry
    val colored = enc.clone()
    colored(13 + 9) = 9.toByte
    colored(13 + 10) = 200.toByte
    colored(13 + 11) = 40.toByte
    val (frames, _) = graft.multimodal.GifCodec.decodeGif(colored)
    assert(frames.head.r.forall(_ == 9))
    assert(frames.head.g.forall(_ == 200))
    assert(frames.head.b.forall(_ == 40))
  }

  test("PNG huge declared IHDR dims fail loudly instead of NegativeArraySizeException (ADVICE r14)") {
    val enc = PngCodec.encodePng(Image(2, 2, Array.fill(4)(5), Array.fill(4)(5), Array.fill(4)(5)))
    // IHDR data starts at offset 8 (sig) + 8 (len+tag): w at 16, h at 20.
    // Patch w and h to 0x7fffffff and fix the IHDR CRC so only the size
    // guard (not the CRC check) can reject it.
    val huge = enc.clone()
    def putBe32(o: Int, v: Int): Unit = {
      huge(o) = (v >>> 24).toByte; huge(o + 1) = (v >>> 16).toByte
      huge(o + 2) = (v >>> 8).toByte; huge(o + 3) = v.toByte
    }
    putBe32(16, 0x7fffffff); putBe32(20, 0x7fffffff)
    val crc = new java.util.zip.CRC32
    crc.update(huge, 12, 4 + 13)
    putBe32(8 + 8 + 13, crc.getValue.toInt)
    val e = intercept[IllegalArgumentException](PngCodec.decodePng(huge))
    assert(e.getMessage.contains("overflow"))
  }

  test("BMP bfSize inconsistent with pixel extent fails at the lying frame (ADVICE r14)") {
    val ch = Array.fill(16)(9)
    val bmp = ImageCodec.encodeBmp(Image(4, 4, ch, ch.clone(), ch.clone()))
    val lying = bmp.clone()
    // declare bfSize smaller than headers+pixels: a container walk would
    // desynchronize at the NEXT frame — must fail at THIS one instead
    lying(2) = 60.toByte; lying(3) = 0; lying(4) = 0; lying(5) = 0
    val e = intercept[IllegalArgumentException](ImageCodec.decodeBmp(lying))
    assert(e.getMessage.contains("declared size"))
    // and hostile height that overflows rowSize*height in Int
    val hugeH = bmp.clone()
    hugeH(22) = 0xff.toByte; hugeH(23) = 0xff.toByte
    hugeH(24) = 0xff.toByte; hugeH(25) = 0x7f.toByte
    intercept[IllegalArgumentException](ImageCodec.decodeBmp(hugeH))
  }
}
