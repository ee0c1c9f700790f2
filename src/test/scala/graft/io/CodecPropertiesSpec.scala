package graft.io

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the binary codecs: every write/read combination
  * must roundtrip pixel-exact for arbitrary shapes — edge strips/tiles,
  * 1-pixel rasters, all supported compressions. (The fixture writers are
  * test-scope, but a writer/reader disagreement would invalidate every
  * decoder spec, so the pair is pinned property-style.) Plain scalacheck
  * generators with fixed seeds — deterministic, offline-classpath only. */
class CodecPropertiesSpec extends AnyFunSuite with graft.TmpDirs {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val dims = for {
    az <- Gen.choose(1, 23)
    rg <- Gen.choose(1, 23)
  } yield (az, rg)

  test("LZW encode/decode roundtrips arbitrary byte content") {
    val cases = samples(Gen.zip(Gen.choose(0, 4000), Gen.choose(2, 40)), 30, 0xA11CE)
    cases.foreach { case (n, alphabet) =>
      val rng = new scala.util.Random(n * 31 + alphabet)
      val raw = Array.fill(n)((rng.nextInt(alphabet) & 0xff).toByte)
      val enc = graft.Fixtures.lzwEncode(raw)
      val dec = Tiff.lzwDecode(enc, 0, enc.length, raw.length)
      assert(dec.toSeq == raw.toSeq, s"n=$n alphabet=$alphabet")
    }
  }

  test("PackBits encode/decode roundtrips arbitrary byte content, incl. no-op bytes") {
    val cases = samples(Gen.zip(Gen.choose(0, 4000), Gen.choose(2, 40)), 30, 0x9ACB5)
    cases.foreach { case (n, alphabet) =>
      val rng = new scala.util.Random(n * 37 + alphabet)
      val raw = Array.fill(n)((rng.nextInt(alphabet) & 0xff).toByte)
      val enc = graft.Fixtures.packBitsEncode(raw)
      val dec = Tiff.packBitsDecode(enc, 0, enc.length, raw.length)
      assert(dec.toSeq == raw.toSeq, s"n=$n alphabet=$alphabet")
      // a −128 control byte is a no-op the decoder must skip (TIFF 6.0
      // §9 says writers shouldn't emit it but readers must tolerate it)
      val noop = Array((-128).toByte) ++ enc ++ Array((-128).toByte)
      val dec2 = Tiff.packBitsDecode(noop, 0, noop.length, raw.length)
      assert(dec2.toSeq == raw.toSeq, s"no-op injection broke n=$n")
    }
    // a literal run that overruns its block fails loudly
    val bad = Array[Byte](5, 1, 2) // control promises 6 literals, 2 present
    val e = intercept[IllegalArgumentException](Tiff.packBitsDecode(bad, 0, 3, 6))
    assert(e.getMessage.contains("overruns"))
  }

  test("PackBits TIFF roundtrip: strip and tile layouts, both byte orders") {
    val gen = Gen.zip(dims, Gen.oneOf(0, 1), Gen.oneOf(false, true))
    samples(gen, 20, 0x9ACB6).foreach { case ((az, rg), tileFlag, be) =>
      val tiled = if (tileFlag == 1) Some((5, 3)) else None
      val p = graft.Fixtures.grdProducts.head.copy(az = az, rg = rg)
      val dir = tmpDir("tifpb")
      val path = s"$dir/${p.name}"
      graft.Fixtures.writeTiff(path, p, idx = 1, compression = 32773,
        tiled = tiled, bigendian = be)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.compression == 32773 && info.littleEndian == !be)
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == az * rg, s"dims=($az,$rg) tiled=$tiled be=$be")
      assert(px.forall { case (a, r, v) => v == graft.Fixtures.pixelValue(1, a, r) },
        s"dims=($az,$rg) tiled=$tiled be=$be")
    }
  }

  test("TIFF strip/tile × compression × predictor roundtrip on random shapes") {
    val gen = Gen.zip(dims, Gen.oneOf(1, 5, 8, 32773), Gen.oneOf(0, 1))
    samples(gen, 25, 0xBEEF1).foreach { case ((az, rg), compression, tileFlag) =>
      val tiled = if (tileFlag == 1) Some((5, 3)) else None
      val p = graft.Fixtures.grdProducts.head.copy(az = az, rg = rg)
      val dir = tmpDir("tifprop")
      val path = s"$dir/${p.name}"
      graft.Fixtures.writeTiff(path, p, idx = 1, compression = compression, tiled = tiled)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val px = Tiff.decode(bytes, Tiff.fromBytes(bytes)).toSeq
      assert(px.size == az * rg, s"dims=($az,$rg) c=$compression tiled=$tiled")
      assert(px.forall { case (a, r, v) => v == graft.Fixtures.pixelValue(1, a, r) },
        s"dims=($az,$rg) c=$compression tiled=$tiled")
    }
  }

  test("TIFF float32 predictor-3 roundtrip (strips and tiles, LZW and deflate)") {
    val gen = Gen.zip(dims, Gen.oneOf(5, 8), Gen.oneOf(0, 1))
    samples(gen, 20, 0xF10A7).foreach { case ((az, rg), compression, tileFlag) =>
      val tiled = if (tileFlag == 1) Some((5, 3)) else None
      val p = graft.Fixtures.grdProducts.head.copy(az = az, rg = rg)
      val dir = tmpDir("tiffp3")
      val path = s"$dir/${p.name}"
      graft.Fixtures.writeTiff(path, p, idx = 1, dtype = "float32",
        compression = compression, tiled = tiled, predictor = 3)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.predictor == 3 && info.dtype == "float32")
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == az * rg, s"dims=($az,$rg) c=$compression tiled=$tiled")
      assert(px.forall { case (a, r, v) => v == graft.Fixtures.pixelValue(1, a, r).toFloat.toDouble },
        s"dims=($az,$rg) c=$compression tiled=$tiled")
    }
  }

  test("BigTIFF (magic 43) roundtrip across compression, layout, dtype and predictor") {
    val gen = Gen.zip(dims, Gen.oneOf(1, 5, 8, 32773), Gen.oneOf(0, 1), Gen.oneOf(1, 2, 3))
    samples(gen, 20, 0xB16B1).foreach { case ((az, rg), compression, tileFlag, predictor) =>
      val tiled = if (tileFlag == 1) Some((5, 3)) else None
      val dtype = if (predictor == 3) "float32" else "uint16"
      val p = graft.Fixtures.grdProducts.head.copy(az = az, rg = rg)
      val dir = tmpDir("bigtiff")
      val path = s"$dir/${p.name}"
      graft.Fixtures.writeTiff(path, p, idx = 1, dtype = dtype,
        compression = compression, tiled = tiled, predictor = predictor, bigtiff = true)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.width == rg && info.height == az)
      // metadata survives the BigTIFF container too
      assert(info.gdalXml.exists(_.contains("NUMBER_OF_AZIMUTH_SAMPLES")))
      assert(info.rpc.exists(_.length == 92))
      val expected = (a: Int, r: Int) =>
        if (dtype == "float32") graft.Fixtures.pixelValue(1, a, r).toFloat.toDouble
        else graft.Fixtures.pixelValue(1, a, r)
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == az * rg, s"dims=($az,$rg) c=$compression tiled=$tiled p=$predictor")
      assert(px.forall { case (a, r, v) => v == expected(a, r) },
        s"dims=($az,$rg) c=$compression tiled=$tiled p=$predictor")
    }
  }

  test("HDF5 contiguous vs chunked(+filters) agree on random shapes, incl. slice reads") {
    val gen = Gen.zip(dims, Gen.choose(1, 9), Gen.choose(1, 9),
      Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true), Gen.oneOf(false, true)))
    samples(gen, 25, 0xCAFE2).foreach { case ((az, rg), ch, cw, (deflate, shuffle, fletcher)) =>
      val vals = Array.tabulate(az * rg)(i => (i * 7 % 1000).toFloat)
      val dir = tmpDir("h5prop")
      val path = s"$dir/x.h5"
      graft.Fixtures.writeH5(path, Seq(
        "contig" -> graft.Fixtures.H5F32(Seq(az, rg), vals),
        "chunked" -> graft.Fixtures.H5F32(Seq(az, rg), vals, chunks = Some((ch, cw)),
          deflate = deflate, shuffle = shuffle, fletcher32 = fletcher)))
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val f = Hdf5.fromBytes(bytes)
      val e = f.rootEntries.toMap
      val contig = f.dataset("contig", e("contig"))
      val chunked = f.dataset("chunked", e("chunked"))
      val a = f.readDoubles(contig).toSeq
      val b = f.readDoubles(chunked).toSeq
      assert(a == vals.map(_.toDouble).toSeq && b == a,
        s"dims=($az,$rg) chunk=($ch,$cw) f=($deflate,$shuffle,$fletcher)")
      // index-0 slice reads agree with the full read on BOTH layouts —
      // the plane-streaming path the netCDF import uses
      (0 until az).foreach { i =>
        val row = a.slice(i * rg, (i + 1) * rg)
        assert(f.readSlice0(contig, i).toSeq == row, s"contig slice $i")
        assert(f.readSlice0(chunked, i).toSeq == row,
          s"chunked slice $i dims=($az,$rg) chunk=($ch,$cw) f=($deflate,$shuffle,$fletcher)")
      }
    }
  }

  test("HDF5 nbit int32 chunks decode exact across precision/offset, incl. filter chains") {
    // values carry bits only inside [offset, offset+precision) and keep
    // the span's top bit clear, so the precision-lossy unpack must be
    // value-exact; shuffle/gzip/fletcher32 stack above nbit like a
    // low-level-HDF5 dcpl would order them
    val gen = for {
      (az, rg)  <- dims
      ch        <- Gen.choose(1, 9)
      cw        <- Gen.choose(1, 9)
      precision <- Gen.choose(2, 31)
      offset    <- Gen.choose(0, 32 - precision)
      chain     <- Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true), Gen.oneOf(false, true))
    } yield (az, rg, ch, cw, precision, offset, chain)
    samples(gen, 25, 0x5B17).foreach {
      case (az, rg, ch, cw, precision, offset, (deflate, shuffle, fletcher)) =>
        val rng = new scala.util.Random(az * 31 + rg * 7 + precision * 3 + offset)
        val vals = Array.fill(az * rg)(
          if (precision == 2) rng.nextInt(2) << offset
          else (rng.nextInt(1 << math.min(precision - 1, 30))) << offset)
        val dir = tmpDir("h5nbit")
        graft.Fixtures.writeH5(s"$dir/x.h5", Seq(
          "n" -> graft.Fixtures.H5I32C(Seq(az, rg), vals, chunks = (ch, cw),
            nbit = Some((precision, offset)),
            deflate = deflate, shuffle = shuffle, fletcher32 = fletcher)))
        val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/x.h5")))
        val ds = f.dataset("n", f.rootEntries.toMap.apply("n"))
        val got = f.readDoubles(ds).toSeq
        assert(got == vals.map(_.toDouble).toSeq,
          s"dims=($az,$rg) chunk=($ch,$cw) prec=$precision off=$offset chain=($deflate,$shuffle,$fletcher)")
    }
  }

  test("HDF5 integer scale-offset decodes exact: auto + fixed minbits, negatives, fill=0") {
    val gen = for {
      (az, rg) <- dims
      ch       <- Gen.choose(1, 9)
      cw       <- Gen.choose(1, 9)
      base     <- Gen.choose(-50000, 50000)
      span     <- Gen.choose(1, 4000)
      fixed    <- Gen.oneOf(0, 0, 24) // mostly auto; fixed width must fit span+fill
      chain    <- Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true))
    } yield (az, rg, ch, cw, base, span, fixed, chain)
    samples(gen, 25, 0x5CA1E).foreach {
      case (az, rg, ch, cw, base, span, fixed, (deflate, fletcher)) =>
        val rng = new scala.util.Random(az * 131 + rg * 17 + base)
        // ~1 in 6 values is the h5py default fill (0) — exercises the
        // reserved all-ones fill code next to real offsets
        val vals = Array.fill(az * rg)(
          if (rng.nextInt(6) == 0) 0 else base + rng.nextInt(span))
        val dir = tmpDir("h5soint")
        graft.Fixtures.writeH5(s"$dir/x.h5", Seq(
          "s" -> graft.Fixtures.H5I32C(Seq(az, rg), vals, chunks = (ch, cw),
            soMinbits = Some(fixed), deflate = deflate, fletcher32 = fletcher)))
        val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/x.h5")))
        val ds = f.dataset("s", f.rootEntries.toMap.apply("s"))
        val got = f.readDoubles(ds).toSeq
        assert(got == vals.map(_.toDouble).toSeq,
          s"dims=($az,$rg) chunk=($ch,$cw) base=$base span=$span fixed=$fixed chain=($deflate,$fletcher)")
    }
  }

  test("HDF5 big-endian scale-offset: full-width chunks swap back from the LE store") {
    // H5Z__scaleoffset_convert canonicalizes BE datasets to LE before
    // compressing, so BOTH the packed and the full-width (minbits ==
    // size*8) payloads are order-free/LE on disk; the decoder must emit
    // dataset-order (BE) bytes in both shapes. The full-width path is the
    // r12-advisor finding: a verbatim copy would hand LE bytes to a BE
    // dtype and decode silently byte-swapped.
    val gen = for {
      (az, rg) <- dims
      ch       <- Gen.choose(1, 9)
      cw       <- Gen.choose(1, 9)
      base     <- Gen.choose(-50000, 50000)
      span     <- Gen.choose(1, 4000)
      full     <- Gen.oneOf(false, true) // packed vs forced full-width
      chain    <- Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true))
    } yield (az, rg, ch, cw, base, span, full, chain)
    samples(gen, 20, 0xBE50).foreach {
      case (az, rg, ch, cw, base, span, full, (deflate, fletcher)) =>
        val rng = new scala.util.Random(az * 131 + rg * 17 + base + 1)
        val vals = Array.fill(az * rg)(
          if (rng.nextInt(6) == 0) 0 else base + rng.nextInt(span))
        val dir = tmpDir("h5sobe")
        graft.Fixtures.writeH5(s"$dir/x.h5", Seq(
          "s" -> graft.Fixtures.H5I32C(Seq(az, rg), vals, chunks = (ch, cw),
            soMinbits = Some(if (full) 32 else 0), be = true,
            deflate = deflate, fletcher32 = fletcher)))
        val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/x.h5")))
        val ds = f.dataset("s", f.rootEntries.toMap.apply("s"))
        val got = f.readDoubles(ds).toSeq
        assert(got == vals.map(_.toDouble).toSeq,
          s"dims=($az,$rg) chunk=($ch,$cw) base=$base span=$span full=$full chain=($deflate,$fletcher)")
    }
  }

  test("HDF5 float D-scale scale-offset matches the llroundf-lossy expectation") {
    val gen = for {
      (az, rg) <- dims
      ch       <- Gen.choose(1, 9)
      cw       <- Gen.choose(1, 9)
      scale    <- Gen.choose(0, 4)
      chain    <- Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true), Gen.oneOf(false, true))
    } yield (az, rg, ch, cw, scale, chain)
    samples(gen, 25, 0xD5CA1E).foreach {
      case (az, rg, ch, cw, scale, (deflate, shuffle, fletcher)) =>
        val rng = new scala.util.Random(az * 19 + rg * 3 + scale)
        val vals = Array.fill(az * rg)(
          if (rng.nextInt(6) == 0) 0.0f else (rng.nextInt(40000) - 20000) / 100.0f)
        val p10 = math.pow(10.0, scale).toFloat
        def llround(x: Float): Double = {
          val y = (x * p10).toDouble
          if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
        }
        // fill (0.0f) survives exactly; everything else rounds to 10^-scale
        val expect = vals.map(v =>
          if (v == 0.0f) 0.0 else (llround(v) / p10.toDouble).toFloat.toDouble).toSeq
        val dir = tmpDir("h5sof")
        graft.Fixtures.writeH5(s"$dir/x.h5", Seq(
          "d" -> graft.Fixtures.H5F32(Seq(az, rg), vals, chunks = Some((ch, cw)),
            scaleoffset = Some(scale),
            deflate = deflate, shuffle = shuffle, fletcher32 = fletcher)))
        val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/x.h5")))
        val ds = f.dataset("d", f.rootEntries.toMap.apply("d"))
        val got = f.readDoubles(ds).toSeq
        assert(got == expect,
          s"dims=($az,$rg) chunk=($ch,$cw) scale=$scale chain=($deflate,$shuffle,$fletcher)")
    }
  }
}
