package graft

import graft.multimodal.{ImageCodec, MediaSynth}
import graft.multimodal.ImageCodec.Image

/** Byte-exact codec specs (r14): golden vectors hand-built from the PUBLIC
  * format specs pin the encoders to the formats (an encode/decode pair that
  * merely roundtrips could share a defect — the golden bytes can't), plus
  * seeded roundtrip sweeps and the synth→encode→decode identity the oracle
  * pairing of x74/x75/x128/x360 relies on. */
class ImageCodecSpec extends SparkTestBase {

  private val red = (255, 0, 0)
  private val green = (0, 255, 0)
  private val blue = (0, 0, 255)
  private val white = (255, 255, 255)

  private def img(w: Int, h: Int, px: Seq[(Int, Int, Int)]): Image =
    Image(w, h, px.map(_._1).toArray, px.map(_._2).toArray, px.map(_._3).toArray)

  private def sameImage(a: Image, b: Image): Boolean =
    a.width == b.width && a.height == b.height &&
      a.r.sameElements(b.r) && a.g.sameElements(b.g) && a.b.sameElements(b.b)

  test("BMP golden vector: 2x2 24-bit, bottom-up rows, BGR order, 4-byte padding") {
    // image rows top-down: [red, green], [blue, white]
    val bytes = ImageCodec.encodeBmp(img(2, 2, Seq(red, green, blue, white)))
    // hand-built from the BITMAPFILEHEADER/BITMAPINFOHEADER spec:
    val expected = Array[Int](
      'B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // bfSize=54+2*8, offBits=54
      40, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0, 1, 0, 24, 0, // w=2 h=2 planes=1 bpp=24
      0, 0, 0, 0, 16, 0, 0, 0, 0x13, 0x0b, 0, 0, 0x13, 0x0b, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      // file row 0 = image BOTTOM row [blue, white] in BGR + 2 pad bytes
      255, 0, 0, 255, 255, 255, 0, 0,
      // file row 1 = image top row [red, green] in BGR + 2 pad bytes
      0, 0, 255, 0, 255, 0, 0, 0).map(_.toByte)
    assert(bytes.sameElements(expected),
      s"got ${bytes.map(_ & 0xff).mkString(",")}")
    val (back, len) = ImageCodec.decodeBmp(bytes)
    assert(len == 70)
    assert(sameImage(back, img(2, 2, Seq(red, green, blue, white))))
  }

  test("BMP decode: negative biHeight = top-down row order") {
    val canonical = ImageCodec.encodeBmp(img(2, 2, Seq(red, green, blue, white)))
    // flip to top-down: height := -2, pixel rows now top row first
    val td = canonical.clone()
    td(22) = (-2 & 0xff).toByte; td(23) = 0xff.toByte; td(24) = 0xff.toByte; td(25) = 0xff.toByte
    // rewrite rows top-down: row0 = [red, green] BGR, row1 = [blue, white]
    val rows = Array[Int](0, 0, 255, 0, 255, 0, 0, 0, 255, 0, 0, 255, 255, 255, 0, 0).map(_.toByte)
    System.arraycopy(rows, 0, td, 54, 16)
    val (back, _) = ImageCodec.decodeBmp(td)
    assert(sameImage(back, img(2, 2, Seq(red, green, blue, white))))
  }

  test("PPM golden vector: header grammar with comments and mixed whitespace") {
    // hand-authored header: comments between every token, tabs/CR as ws
    val header = "P6\n# c1\n  #c2\n2\t# width done\n 2\r255\n"
    val raster = Array[Int](255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val bytes = header.getBytes("US-ASCII") ++ raster
    val (back, len) = ImageCodec.decodePpm(bytes)
    assert(len == bytes.length)
    assert(sameImage(back, img(2, 2, Seq(red, green, blue, white))))
    // canonical encode roundtrips; its header is "P6\n# t0\n2 2\n255\n"
    val enc = ImageCodec.encodePpm(back, "t0")
    assert(enc.length == "P6\n# t0\n2 2\n255\n".length + 3 * 2 * 2)
    assert(sameImage(ImageCodec.decodePpm(enc)._1, back))
  }

  test("PPM decode rejects maxval > 255 and truncated raster") {
    val big = "P6\n2 2\n65535\n".getBytes("US-ASCII") ++ new Array[Byte](24)
    intercept[IllegalArgumentException](ImageCodec.decodePpm(big))
    val short = ImageCodec.encodePpm(img(2, 2, Seq(red, green, blue, white)), "x").dropRight(1)
    intercept[IllegalArgumentException](ImageCodec.decodePpm(short))
  }

  test("roundtrip sweep: random images through BMP, PPM, and mixed containers") {
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(9)
      val px = Seq.fill(w * h)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val i0 = img(w, h, px)
      assert(sameImage(ImageCodec.decodeBmp(ImageCodec.encodeBmp(i0))._1, i0))
      assert(sameImage(ImageCodec.decodePpm(ImageCodec.encodePpm(i0, s"w$w"))._1, i0))
      // mixed-format container: BMP + PPM + BMP walked by frame lengths
      val cat = ImageCodec.encodeBmp(i0) ++ ImageCodec.encodePpm(i0, "m") ++
        ImageCodec.encodeBmp(i0)
      val frames = ImageCodec.decodeFrames(cat)
      assert(frames.size == 3 && frames.forall(sameImage(_, i0)))
    }
  }

  test("WAV: canonical 44-byte encode, chunk walker skips unknown odd chunk") {
    val samples = Array.tabulate[Byte](13)(i => (i * 19 % 256).toByte)
    val canon = ImageCodec.encodeWav(samples, sampleRate = 8000)
    assert(canon.length == 44 + 13)
    assert(new String(canon, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(canon, 8, 4, "US-ASCII") == "WAVE")
    val pcm = ImageCodec.decodeWav(canon)
    assert(pcm.sampleRate == 8000 && pcm.samples.sameElements(samples))
    // splice an unknown 5-byte chunk (odd → 1 pad byte) between fmt and data
    val junk = Array[Byte]('J', 'U', 'N', 'K', 5, 0, 0, 0, 1, 2, 3, 4, 5, 0)
    val spliced = canon.take(36) ++ junk ++ canon.drop(36)
    val pcm2 = ImageCodec.decodeWav(spliced)
    assert(pcm2.samples.sameElements(samples))
  }

  test("resizeNearest: truncating-division sampling grid (oracle formula)") {
    // 4x4 with pixel value = row*4+col in the red channel
    val src = img(4, 4, (0 until 16).map(i => (i, 0, 0)))
    val small = ImageCodec.resizeNearest(src, 2, 2)
    // target (tx,ty) samples source (tx*4//2, ty*4//2) = (2tx, 2ty)
    assert(small.r.toSeq == Seq(0, 2, 8, 10))
    val big = ImageCodec.resizeNearest(src, 8, 8)
    assert(big.r(0) == 0 && big.r(7) == 3 && big.r(8 * 7 + 7) == 15)
  }

  test("GIF/LZW roundtrip: deep code table (width 9→12, table reset), KwKwK runs, multi-frame") {
    import graft.multimodal.GifCodec
    val rnd = new scala.util.Random(11)
    // few gray levels + size >> 4096 entries: the LZW table grows through
    // every width and hits the 4096 CLEAR/reset path
    def gray(w: Int, h: Int, f: Int => Int): Image = {
      val c = Array.tabulate(w * h)(f)
      Image(w, h, c, c.clone(), c.clone())
    }
    val big = gray(200, 120, _ => Seq(10, 80, 150, 220)(rnd.nextInt(4)))
    val (back, len) = GifCodec.decodeGif(GifCodec.encodeGif(Seq(big)))
    assert(len == GifCodec.encodeGif(Seq(big)).length)
    assert(back.size == 1 && back.head.r.sameElements(big.r))
    // constant image: maximal KwKwK (code == next) incidence
    val const = gray(64, 64, _ => 42)
    assert(GifCodec.decodeGif(GifCodec.encodeGif(Seq(const)))._1.head.r.sameElements(const.r))
    // multi-frame animation roundtrip with mixed content
    val frames = Seq(gray(9, 7, i => i * 3 % 256), gray(9, 7, _ => 0),
      gray(9, 7, i => 255 - i % 256))
    val (fs, _) = GifCodec.decodeGif(GifCodec.encodeGif(frames))
    assert(fs.size == 3 && fs.zip(frames).forall { case (a, b) => a.r.sameElements(b.r) })
    // decoder skips extension blocks (splice a comment extension)
    val enc = GifCodec.encodeGif(frames)
    val gctEnd = 13 + 256 * 3
    val ext = Array[Byte](0x21, 0xfe.toByte, 3, 'h', 'i', '!', 0)
    val spliced = enc.take(gctEnd) ++ ext ++ enc.drop(gctEnd)
    val (fs2, len2) = GifCodec.decodeGif(spliced)
    assert(len2 == spliced.length && fs2.size == 3 && fs2.head.r.sameElements(frames.head.r))
  }

  test("PNG roundtrip: all five filters, CRC verification, corruption rejected") {
    import graft.multimodal.PngCodec
    val rnd = new scala.util.Random(13)
    // h >= 6 guarantees filter rows 0..4 (None/Sub/Up/Average/Paeth) all occur
    (1 to 30).foreach { _ =>
      val w = 1 + rnd.nextInt(12); val h = 6 + rnd.nextInt(10)
      val c = Array.fill(w * h)(rnd.nextInt(256))
      val src = Image(w, h, c, c.clone(), c.clone())
      val enc = PngCodec.encodePng(src)
      val (back, len) = PngCodec.decodePng(enc)
      assert(len == enc.length)
      assert(back.width == w && back.height == h && back.r.sameElements(c))
    }
    // flipping one IDAT payload byte must fail the CRC check loudly
    val img = Image(4, 6, Array.tabulate(24)(i => i * 10 % 256),
      Array.tabulate(24)(i => i * 10 % 256), Array.tabulate(24)(i => i * 10 % 256))
    val enc = PngCodec.encodePng(img)
    val corrupt = enc.clone()
    corrupt(8 + 25 + 12) = (corrupt(8 + 25 + 12) ^ 0x40).toByte // inside IDAT data
    intercept[IllegalArgumentException](PngCodec.decodePng(corrupt))
  }

  test("synth→encode→decode identity: decoded frames equal direct pixel synthesis") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(40)
    val vids = MediaSynth.synthVideos(docs).collect()
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(vids.nonEmpty)
    vids.foreach { v =>
      val text = texts(v.doc_id)
      val (nf, w, h, stride) = MediaSynth.geom(md, text)
      val frames = ImageCodec.decodeFrames(v.video)
      assert(frames.size == nf, s"doc ${v.doc_id}: ${frames.size} != $nf")
      frames.zipWithIndex.foreach { case (f, i) =>
        val direct = MediaSynth.framePixels(md, text, i, w, h, stride)
        assert(sameImage(f, direct), s"doc ${v.doc_id} frame $i diverged")
      }
    }
  }
}
