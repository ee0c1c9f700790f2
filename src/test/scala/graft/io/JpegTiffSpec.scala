package graft.io

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** TIFF compression 7 (baseline JPEG) — decoder vs the test-scope
  * forward encoder (`JpegFixture`, Annex K tables). Block-constant
  * images with all-ones quantization roundtrip EXACTLY (a constant
  * block is DC-only and the DC chain is integer end-to-end); random
  * images stay within DCT rounding tolerance; split-tables (tag 347),
  * tiles, restart markers and the BE container all decode; everything
  * out of baseline-grayscale scope fails LOUDLY. */
class JpegTiffSpec extends AnyFunSuite with graft.TmpDirs {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val ones = Array.fill(64)(1)

  private def blockConstant(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rng = new scala.util.Random(seed)
    val vals = Array.fill((h / 8 + 1) * (w / 8 + 1))(rng.nextInt(256).toByte)
    Array.tabulate(w * h)(i => vals((i / w / 8) * (w / 8 + 1) + (i % w) / 8))
  }

  test("block-constant images roundtrip pixel-EXACT: strip/tile, split/inline tables, LE/BE, restarts") {
    val gen = for {
      bw <- Gen.choose(1, 5)
      bh <- Gen.choose(1, 5)
      tiled <- Gen.oneOf(None, Some((16, 8)))
      split <- Gen.oneOf(false, true)
      be <- Gen.oneOf(false, true)
      rst <- Gen.oneOf(0, 2)
    } yield (bw * 8, bh * 8, tiled, split, be, rst)
    samples(gen, 25, 0x77E61).foreach { case (w, h, tiled, split, be, rst) =>
      val px = blockConstant(w, h, w * 131 + h)
      val dir = tmpDir("tifjpg")
      val path = s"$dir/x.tif"
      graft.JpegFixture.writeJpegTiff(path, px, w, h, ones, split = split,
        tiled = tiled, restartInterval = rst, bigendian = be)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.compression == 7 && info.jpegTables.isDefined == split)
      val out = Tiff.decode(bytes, info)
      assert(out.size == w * h, s"w=$w h=$h tiled=$tiled split=$split be=$be rst=$rst")
      out.foreach { case (a, r, v) =>
        assert(v == (px(a * w + r) & 0xff).toDouble,
          s"($a,$r): got $v want ${px(a * w + r) & 0xff} " +
            s"[w=$w h=$h tiled=$tiled split=$split be=$be rst=$rst]")
      }
    }
  }

  test("random images decode within DCT rounding tolerance (odd sizes, edge MCU crop)") {
    val gen = Gen.zip(Gen.choose(3, 37), Gen.choose(3, 37), Gen.oneOf(false, true))
    samples(gen, 20, 0x77E62).foreach { case (w, h, split) =>
      val rng = new scala.util.Random(w * 1009 + h)
      // smooth-ish content (random walks) keeps quantization error at
      // the rounding floor so the ±2 tolerance is meaningful, while odd
      // sizes exercise the cropped edge MCUs
      val px = new Array[Byte](w * h)
      var v = 128
      var i = 0
      while (i < px.length) {
        v = math.max(0, math.min(255, v + rng.nextInt(7) - 3))
        px(i) = v.toByte
        i += 1
      }
      val dir = tmpDir("tifjpgr")
      val path = s"$dir/x.tif"
      graft.JpegFixture.writeJpegTiff(path, px, w, h, ones, split = split)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val out = Tiff.decode(bytes, Tiff.fromBytes(bytes))
      assert(out.size == w * h)
      out.foreach { case (a, r, got) =>
        val want = px(a * w + r) & 0xff
        assert(math.abs(got - want) <= 2.0,
          s"($a,$r): got $got want $want [w=$w h=$h split=$split]")
      }
    }
  }

  test("a coarse quantization table is LOSSY but decodes close on smooth content") {
    // q16 everywhere: block-constant content still roundtrips within
    // the DC quantization step (16/8 = 2 levels)
    val q16 = Array.fill(64)(16)
    val (w, h) = (24, 16)
    val px = blockConstant(w, h, 42)
    val dir = tmpDir("tifjpgq")
    val path = s"$dir/x.tif"
    graft.JpegFixture.writeJpegTiff(path, px, w, h, q16, split = false)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val out = Tiff.decode(bytes, Tiff.fromBytes(bytes))
    out.foreach { case (a, r, got) =>
      val want = px(a * w + r) & 0xff
      assert(math.abs(got - want) <= 1.0, s"($a,$r): got $got want $want")
    }
  }

  test("out-of-scope streams fail LOUD: lossless SOF3, multi-component, Pq=1 at 8-bit, 12-bit SOF0") {
    def sof(marker: Int, nComp: Int, prec: Int = 8): Array[Byte] =
      (Array(0xff, 0xd8, 0xff, marker, 0, 8 + 3 * nComp, prec, 0, 8, 0, 8, nComp) ++
        (0 until nComp).flatMap(c => Seq(c, 0x11, 0))).map(_.toByte).toArray
    val e1 = intercept[IllegalArgumentException](
      JpegDecoder.decode(None, sof(0xc3, 1), 8, 8))
    assert(e1.getMessage.contains("not supported"))
    val e2 = intercept[IllegalArgumentException](
      JpegDecoder.decode(None, sof(0xc0, 3), 8, 8))
    assert(e2.getMessage.contains("component"))
    // a 16-bit (Pq=1) quantization table is legal ONLY with 12-bit
    // samples (T.81 B.2.4.1): an 8-bit scan inheriting one fails loud
    val tables12 = graft.JpegFixture.tablesStream(ones, twelve = true)
    val scan8 = graft.JpegFixture.scanStream(Array.fill(64)(7.toByte), 8, 8, ones,
      withTables = false)
    val e3 = intercept[IllegalArgumentException](
      JpegDecoder.decode(Some(tables12), scan8, 8, 8))
    assert(e3.getMessage.contains("8-bit frame"), e3.getMessage)
    // arithmetic coding (DAC-announced streams use SOF9-13; the DAC
    // marker itself must also be rejected)
    val dac = Array(0xff, 0xd8, 0xff, 0xcc, 0, 4, 0, 0, 0xff, 0xd9).map(_.toByte).toArray
    val e4 = intercept[IllegalArgumentException](JpegDecoder.decode(None, dac, 8, 8))
    assert(e4.getMessage.contains("arithmetic"))
    // 12-bit is legal only in SOF1: a 12-bit BASELINE frame is corrupt
    val e5 = intercept[IllegalArgumentException](
      JpegDecoder.decode(None, sof(0xc0, 1, prec = 12), 8, 8))
    assert(e5.getMessage.contains("SOF0"), e5.getMessage)
    // 16-bit samples stay out of scope even in SOF1
    val e6 = intercept[IllegalArgumentException](
      JpegDecoder.decode(None, sof(0xc1, 1, prec = 16), 8, 8))
    assert(e6.getMessage.contains("16-bit"), e6.getMessage)
    // a 12-bit stream cannot leave through the 8-bit entry point
    val px12 = Array.fill(64)(1234)
    val s12 = graft.JpegFixture.scanStream12(px12, 8, 8, ones, withTables = true)
    val e7 = intercept[IllegalArgumentException](JpegDecoder.decode(None, s12, 8, 8))
    assert(e7.getMessage.contains("8-bit entry point"), e7.getMessage)
  }

  test("SOF1 8-bit (extended sequential) decodes identically to baseline") {
    val (w, h) = (24, 16)
    val px = blockConstant(w, h, 7)
    val dir = tmpDir("tifjpgs1")
    Seq(false, true).foreach { split =>
      val path = s"$dir/x$split.tif"
      graft.JpegFixture.writeJpegTiff(path, px, w, h, ones, split = split,
        sof1 = true)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val out = Tiff.decode(bytes, Tiff.fromBytes(bytes))
      assert(out.size == w * h)
      out.foreach { case (a, r, v) =>
        assert(v == (px(a * w + r) & 0xff).toDouble, s"($a,$r) split=$split")
      }
    }
  }

  private def blockConstant12(w: Int, h: Int, seed: Int): Array[Int] = {
    val rng = new scala.util.Random(seed)
    val vals = Array.fill((h / 8 + 1) * (w / 8 + 1))(rng.nextInt(4096))
    Array.tabulate(w * h)(i => vals((i / w / 8) * (w / 8 + 1) + (i % w) / 8))
  }

  test("12-bit SOF1: block-constant images roundtrip DC-EXACT through the TIFF layer") {
    // constant blocks are DC-only and the DC chain is integer all the
    // way, so the full 12-bit range [0, 4095] must roundtrip exactly —
    // incl. DC diff categories ABOVE 11 (the 8-bit table's ceiling);
    // the raster reads back as uint16 words in the file's byte order
    val gen = for {
      bw <- Gen.choose(1, 4)
      bh <- Gen.choose(1, 4)
      tiled <- Gen.oneOf(None, Some((16, 8)))
      split <- Gen.oneOf(false, true)
      be <- Gen.oneOf(false, true)
    } yield (bw * 8, bh * 8, tiled, split, be)
    samples(gen, 20, 0x77E63).foreach { case (w, h, tiled, split, be) =>
      val px = blockConstant12(w, h, w * 131 + h + 1)
      val dir = tmpDir("tifjpg12")
      val path = s"$dir/x.tif"
      graft.JpegFixture.writeJpegTiff12(path, px, w, h, ones, split = split,
        tiled = tiled, bigendian = be)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.bitsPerSample == 12 && info.dtype == "uint16")
      val out = Tiff.decode(bytes, info)
      assert(out.size == w * h, s"w=$w h=$h tiled=$tiled split=$split be=$be")
      out.foreach { case (a, r, v) =>
        assert(v == px(a * w + r).toDouble,
          s"($a,$r): got $v want ${px(a * w + r)} " +
            s"[w=$w h=$h tiled=$tiled split=$split be=$be]")
      }
    }
  }

  test("12-bit SOF1: smooth random content stays within DCT rounding tolerance") {
    val gen = Gen.zip(Gen.choose(3, 37), Gen.choose(3, 37), Gen.oneOf(false, true))
    samples(gen, 12, 0x77E64).foreach { case (w, h, split) =>
      val rng = new scala.util.Random(w * 1013 + h)
      val px = new Array[Int](w * h)
      var v = 2048
      var i = 0
      while (i < px.length) {
        v = math.max(0, math.min(4095, v + rng.nextInt(31) - 15))
        px(i) = v
        i += 1
      }
      val dir = tmpDir("tifjpg12r")
      val path = s"$dir/x.tif"
      graft.JpegFixture.writeJpegTiff12(path, px, w, h, ones, split = split)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val out = Tiff.decode(bytes, Tiff.fromBytes(bytes))
      assert(out.size == w * h)
      out.foreach { case (a, r, got) =>
        val want = px(a * w + r)
        assert(math.abs(got - want) <= 2.0,
          s"($a,$r): got $got want $want [w=$w h=$h split=$split]")
      }
    }
  }

  test("truncated segments fail as typed JpegError, never a raw index error") {
    // r12 advisor: corrupt streams must stay on the JpegError contract.
    // A DHT whose declared length runs past the buffer used to AIOOBE in
    // the counts read; a truncated SOF likewise in u16.
    val dhtTrunc = Array(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x40, 0x00, 1, 1).map(_.toByte).toArray
    val e1 = intercept[JpegDecoder.JpegError](JpegDecoder.decode(None, dhtTrunc, 8, 8))
    assert(e1.getMessage.contains("corrupt stream"), e1.getMessage)
    val sofTrunc = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 8, 0).map(_.toByte).toArray
    val e2 = intercept[JpegDecoder.JpegError](JpegDecoder.decode(None, sofTrunc, 8, 8))
    assert(e2.getMessage.contains("corrupt stream"), e2.getMessage)
    // an entropy run whose Huffman walk never lands on a code: typed too
    val ones8 = Array.fill(64)(1)
    val good = graft.JpegFixture.scanStream(Array.fill(64)(7.toByte), 8, 8, ones8,
      withTables = true)
    val garbled = good.clone()
    // flip bits in the tail of the entropy stream (before any EOI)
    var i = good.length - 6
    while (i < good.length - 2) { garbled(i) = (~garbled(i)).toByte; i += 1 }
    try { JpegDecoder.decode(None, garbled, 8, 8); () }
    catch { case e: Throwable => assert(e.isInstanceOf[JpegDecoder.JpegError], e.toString) }
  }

  // ---- progressive (SOF2) ----------------------------------------------

  private def noisy(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rng = new scala.util.Random(seed)
    Array.fill(w * h)(rng.nextInt(256).toByte)
  }

  test("progressive SOF2 decodes BIT-IDENTICALLY to baseline on the same image") {
    // a complete scan script reconstructs the exact quantized
    // coefficients, so the IDCT inputs — and therefore every output
    // pixel — must equal the sequential encoding's, bit for bit, on
    // ANY content and ANY quantization (full-range noise maximizes
    // coefficient variety and refinement-chain depth)
    val gen = for {
      w <- Gen.choose(3, 41)
      h <- Gen.choose(3, 41)
      q <- Gen.oneOf(1, 16)
      split <- Gen.oneOf(false, true)
      be <- Gen.oneOf(false, true)
      tiled <- Gen.oneOf(None, Some((16, 8)))
    } yield (w, h, q, split, be, tiled)
    samples(gen, 25, 0x77E65).foreach { case (w, h, qv, split, be, tiled) =>
      val qt = Array.fill(64)(qv)
      val px = noisy(w, h, w * 2003 + h)
      val dir = tmpDir("tifjpgp")
      graft.JpegFixture.writeJpegTiff(s"$dir/seq.tif", px, w, h, qt,
        split = split, tiled = tiled, bigendian = be)
      graft.JpegFixture.writeJpegTiffProgressive(s"$dir/prog.tif",
        (x, y) => px(y * w + x) & 0xff, w, h, qt, prec = 8, split = split,
        tiled = tiled, bigendian = be)
      val seqB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/seq.tif"))
      val prgB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/prog.tif"))
      val a = Tiff.decode(seqB, Tiff.fromBytes(seqB)).toList
      val b = Tiff.decode(prgB, Tiff.fromBytes(prgB)).toList
      assert(a.size == w * h && b.size == w * h)
      assert(a == b, s"progressive != baseline [w=$w h=$h q=$qv split=$split be=$be tiled=$tiled]")
    }
  }

  test("progressive restart markers: DRI streams decode identically to restart-free ones") {
    val (w, h) = (40, 24)
    val px = noisy(w, h, 99)
    val qt = Array.fill(64)(1)
    val dir = tmpDir("tifjpgpr")
    graft.JpegFixture.writeJpegTiffProgressive(s"$dir/plain.tif",
      (x, y) => px(y * w + x) & 0xff, w, h, qt, prec = 8, split = false)
    graft.JpegFixture.writeJpegTiffProgressive(s"$dir/rst.tif",
      (x, y) => px(y * w + x) & 0xff, w, h, qt, prec = 8, split = false,
      restartInterval = 2)
    val pb = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/plain.tif"))
    val rb = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/rst.tif"))
    assert(Tiff.decode(pb, Tiff.fromBytes(pb)).toList ==
      Tiff.decode(rb, Tiff.fromBytes(rb)).toList)
  }

  test("12-bit progressive SOF2 decodes bit-identically to 12-bit SOF1") {
    val gen = Gen.zip(Gen.choose(8, 32), Gen.choose(8, 32), Gen.oneOf(false, true))
    samples(gen, 10, 0x77E66).foreach { case (w, h, be) =>
      val rng = new scala.util.Random(w * 31 + h)
      // DC-deep block-constant plus moderate noise: full-range noise
      // would push the SEQUENTIAL fixture encoder past the Annex-K AC
      // size ceiling (its table stops at size 10); the refinement
      // chains still run 12 bits deep through the DC path
      val base = Array.fill((h / 8 + 1) * (w / 8 + 1))(rng.nextInt(3840))
      val px = Array.tabulate(w * h)(i =>
        base((i / w / 8) * (w / 8 + 1) + (i % w) / 8) + rng.nextInt(256))
      val qt = Array.fill(64)(1)
      val dir = tmpDir("tifjpgp12")
      graft.JpegFixture.writeJpegTiff12(s"$dir/seq.tif", px, w, h, qt,
        split = false, bigendian = be)
      graft.JpegFixture.writeJpegTiffProgressive(s"$dir/prog.tif",
        (x, y) => px(y * w + x), w, h, qt, prec = 12, split = false,
        bigendian = be)
      val seqB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/seq.tif"))
      val prgB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/prog.tif"))
      val info = Tiff.fromBytes(prgB)
      assert(info.bitsPerSample == 12 && info.dtype == "uint16")
      assert(Tiff.decode(seqB, Tiff.fromBytes(seqB)).toList ==
        Tiff.decode(prgB, info).toList,
        s"12-bit progressive != SOF1 [w=$w h=$h be=$be]")
    }
  }

  test("progressive scan-script violations fail LOUD (never garbage reconstruction)") {
    import graft.JpegFixture.ProgScan
    val px: (Int, Int) => Int = (x, y) => (x * 37 + y * 11) % 256
    val qt = Array.fill(64)(1)
    def stream(script: Seq[ProgScan]): Array[Byte] =
      graft.JpegFixture.progressiveStream(px, 16, 16, qt, prec = 8,
        withTables = true, script = script)
    // refinement before the coefficient's first scan
    val e1 = intercept[JpegDecoder.JpegError](JpegDecoder.decodeRaster(None,
      stream(Seq(ProgScan(1, 63, 1, 0))), 16, 16, littleEndian = true))
    assert(e1.getMessage.contains("before its first scan"), e1.getMessage)
    // the same coefficient rescanned at Ah=0
    val e2 = intercept[JpegDecoder.JpegError](JpegDecoder.decodeRaster(None,
      stream(Seq(ProgScan(0, 0, 0, 1), ProgScan(0, 0, 0, 0))), 16, 16, littleEndian = true))
    assert(e2.getMessage.contains("rescanned"), e2.getMessage)
    // a skipped successive-approximation step (chain at Al=2, refine Ah=1)
    val e3 = intercept[JpegDecoder.JpegError](JpegDecoder.decodeRaster(None,
      stream(Seq(ProgScan(0, 0, 0, 2), ProgScan(0, 0, 1, 0))), 16, 16, littleEndian = true))
    assert(e3.getMessage.contains("chain stands at"), e3.getMessage)
    // a DC scan must be DC-only (Ss=0 with Se>0)
    val e4 = intercept[JpegDecoder.JpegError](JpegDecoder.decodeRaster(None,
      stream(Seq(ProgScan(0, 5, 0, 0))), 16, 16, littleEndian = true))
    assert(e4.getMessage.contains("DC-only"), e4.getMessage)
    // a SEQUENTIAL frame whose SOS carries progressive parameters
    val seq = graft.JpegFixture.scanStream(Array.fill(256)(7.toByte), 16, 16,
      qt, withTables = true)
    var i = 0
    var sos = -1
    while (i + 1 < seq.length && sos < 0) {
      if ((seq(i) & 0xff) == 0xff && (seq(i + 1) & 0xff) == 0xda) sos = i
      i += 1
    }
    val patched = seq.clone()
    patched(sos + 7) = 1 // Ss = 1 in a SOF0 frame
    val e5 = intercept[JpegDecoder.JpegError](
      JpegDecoder.decode(None, patched, 16, 16))
    assert(e5.getMessage.contains("sequential scan with progressive"), e5.getMessage)
  }

  test("a tables-only stream decodes nothing; a scan without SOF fails") {
    val t = graft.JpegFixture.tablesStream(ones)
    val e = intercept[IllegalArgumentException](JpegDecoder.decode(None, t, 8, 8))
    assert(e.getMessage.contains("no SOS"))
    // abbreviated scan WITHOUT its tag-347 tables: Huffman tables missing
    val scan = graft.JpegFixture.scanStream(Array.fill(64)(7.toByte), 8, 8, ones,
      withTables = false)
    val e2 = intercept[IllegalArgumentException](JpegDecoder.decode(None, scan, 8, 8))
    assert(e2.getMessage.contains("never defined"))
  }
}
