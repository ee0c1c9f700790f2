package graft.io

import graft.{Fixtures, SparkFunSuite}
import org.apache.spark.sql.functions._

/** The SLC DataSource V2 must agree row-for-row with the codec's
  * whole-file decode, answer bare count(*) from headers, and prove
  * chunk-level pruning on a chunked dataset. LIMIT, DESC top-N and
  * header min/max run on both formats in [[GraftTiffDsv2Spec]]. */
class GraftSlcDsv2Spec extends SparkFunSuite {

  private lazy val slcDir: String = Fixtures.writeH5Stack(tmpDir("dsv2slc"))

  private def v2 = spark.read.format("graft-slc").load(slcDir)

  /** Expected rows `(path, azimuth, range, real, imag)` from the codec's
    * whole-file decode — no Spark involved. */
  private lazy val slcRows: Seq[Seq[Any]] = Fixtures.codecRows(slcDir)

  test("reads the same rows as SlcH5Source") {
    val want = slcRows.toSet
    val got = v2.select("path", "azimuth", "range", "real", "imag")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("azimuth predicates stay exact through the bounded read") {
    val want = slcRows.map(_.tail).filter(r => r(0) == 3 || r(0) == 4).toSet
    val got = v2.filter(col("azimuth") >= 3 && col("azimuth") <= 4)
      .select("azimuth", "range", "real", "imag")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("bare count(*) answers from the dataspace dims: zero data blocks read") {
    val want = slcRows.size.toLong
    Hdf5.blocksRead.set(0)
    val got = v2.count()
    assert(got == want && got > 0)
    assert(Hdf5.blocksRead.get() == 0,
      "a pushed count(*) must not read any data block")
  }

  test("a narrow azimuth bound on a CHUNKED dataset reads fewer chunks") {
    val dir = tmpDir("dsv2slcchunk")
    val p = Fixtures.slcProducts.head
    val n = p.az * p.rg
    val re = Array.tabulate(n)(i => (i % 97).toFloat)
    Fixtures.writeH5(s"$dir/${p.name}", Seq(
      "s_i" -> Fixtures.H5F32(Seq(p.az, p.rg), re,
        chunks = Some((2, p.rg)), deflate = true),
      "s_q" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(-_),
        chunks = Some((2, p.rg)), deflate = true)))
    val df = spark.read.format("graft-slc").load(dir)
    Hdf5.blocksRead.set(0)
    df.filter(col("azimuth") >= 0).count()
    val full = Hdf5.blocksRead.get()
    Hdf5.blocksRead.set(0)
    assert(df.filter(col("azimuth") === 0).count() == p.rg)
    val pruned = Hdf5.blocksRead.get()
    assert(full > 0 && pruned < full,
      s"azimuth=0 should touch fewer chunks ($pruned vs $full)")
  }

  test("static path pushdown plans only the named raster") {
    spark.sparkContext
    val files = GraftRasterSource.listRasters(RasterFormat.Slc, slcDir).map(_._1)
    assert(files.size >= 2)
    val target = files.head.replaceFirst("^file:/*", "/")
    // azimuth conjunct keeps the query off the header-count path; a
    // DSv2 scan's RDD partition count IS its planned input partitions
    val q = v2.filter(col("path") === target && col("azimuth") >= 0)
      .select("path", "azimuth", "range", "real")
    assert(q.rdd.getNumPartitions == 1,
      s"expected 1 planned raster, got ${q.rdd.getNumPartitions} of ${files.size}")
    val got = q.count()
    val want = v2.select("path", "azimuth", "range", "real")
      .filter(col("path") === target).count()
    assert(got == want && got > 0)
    assert(v2.filter(col("path") === "/nope.h5" && col("azimuth") >= 0)
      .select("path", "azimuth").rdd.getNumPartitions == 0)
  }
}
