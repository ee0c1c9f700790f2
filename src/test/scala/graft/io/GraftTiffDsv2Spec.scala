package graft.io

import java.util.concurrent.atomic.AtomicLong

import graft.{Fixtures, SparkFunSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DataSource V2 TIFF source must (a) agree row-for-row with the
  * codec's whole-file decode, (b) carry azimuth predicates into the
  * scan, and (c) prove the pushdown skips BLOCK DECOMPRESSION, not just
  * rows. The LIMIT, DESC top-N and header min/max tests also run on a
  * chunked SLC stack: the connector shares every pushdown between the
  * formats. */
class GraftTiffDsv2Spec extends SparkFunSuite {

  private lazy val grdDir: String = Fixtures.writeTiffStack(tmpDir("dsv2grd"))

  private def v2 = spark.read.format("graft-tiff").load(grdDir)

  /** Expected GRD rows `(path, azimuth, range, intensity)` from the
    * codec's whole-file decode — no Spark involved. */
  private lazy val codecRows: Seq[(String, Int, Int, Double)] =
    Fixtures.codecRows(grdDir).map { case Seq(p: String, a: Int, r: Int, v: Double) => (p, a, r, v) }

  /** One stack per format: its pixel columns (no `path`), its block
    * counter and its codec rows in the same column order. */
  private case class Stack(format: String, dir: String, blocks: AtomicLong) {
    def scan: DataFrame = spark.read.format(format).load(dir).drop("path")
    lazy val rows: Set[Seq[Any]] = Fixtures.codecRows(dir).map(_.tail).toSet
  }
  private lazy val stacks = Seq(
    Stack("graft-tiff", grdDir, Tiff.blocksDecompressed),
    Stack("graft-slc", Fixtures.writeChunkedH5Stack(tmpDir("dsv2slcchunks")), Hdf5.blocksRead))

  test("reads the same rows as TiffPixelSource") {
    val want = codecRows.map { case (p, a, r, v) => Seq(p, a, r, v) }.toSet
    val got = v2.select("path", "azimuth", "range", "intensity")
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("azimuth predicates reach the scan and results stay exact") {
    val q = v2.filter(col("azimuth") >= 3 && col("azimuth") <= 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("azimuth"), s"expected pushed azimuth bound:\n$plan")
    val want = codecRows.collect {
      case (_, a, r, v) if a >= 3 && a <= 4 => Seq(a, r, v)
    }.toSet
    val got = q.select("azimuth", "range", "intensity")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("a narrow azimuth bound decompresses fewer blocks (IO pruning, not row filtering)") {
    // both sides filtered so neither takes the count(*) header-only path
    Tiff.blocksDecompressed.set(0)
    v2.filter(col("azimuth") >= 0).count()
    val full = Tiff.blocksDecompressed.get()
    Tiff.blocksDecompressed.set(0)
    v2.filter(col("azimuth") === 0).count()
    val pruned = Tiff.blocksDecompressed.get()
    assert(full > 0)
    assert(pruned < full,
      s"azimuth=0 should touch fewer blocks than the full scan ($pruned vs $full)")
  }

  test("a pushed LIMIT stops block decompression, results stay exact") {
    // full collect decompresses every block; LIMIT 3 needs ceil(3/width)
    // azimuth rows per file, so the lazy strip iterator never inflates
    // the rest. Partially-pushed contract: Spark's own Limit still caps
    // the global row count, so correctness never depends on the reader.
    stacks.foreach { st =>
      st.blocks.set(0)
      assert(st.scan.collect().nonEmpty)
      val full = st.blocks.get()
      st.blocks.set(0)
      val q = st.scan.limit(3)
      val rows = q.collect()
      val limited = st.blocks.get()
      assert(rows.length == 3, st.format)
      assert(rows.map(_.toSeq).forall(st.rows.contains), s"${st.format}: rows not in the decode")
      assert(full > 0 && limited < full,
        s"${st.format}: LIMIT 3 should decompress fewer blocks than the full scan ($limited vs $full)")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedLimit: 3"), s"expected the pushed limit in:\n$plan")
    }
  }

  test("bare count(*) answers from headers alone: zero blocks decompressed") {
    val want = codecRows.size.toLong
    Tiff.blocksDecompressed.set(0)
    val got = v2.count()
    assert(got == want && got > 0)
    assert(Tiff.blocksDecompressed.get() == 0,
      "a pushed count(*) must not decode any pixel block")
  }

  test("min/max(azimuth|range) answer from headers alone: zero blocks decompressed") {
    // azimuth spans 0..height-1 and range 0..width-1 by construction,
    // so the extrema are header-derivable exactly like count(*)
    stacks.foreach { st =>
      val az = st.rows.map(_(0).asInstanceOf[Int])
      val rg = st.rows.map(_(1).asInstanceOf[Int])
      val want = Seq(az.min, az.max, rg.min, rg.max)
      st.blocks.set(0)
      val q = st.scan.agg(min("azimuth"), max("azimuth"), min("range"), max("range"))
      val plan = q.queryExecution.executedPlan.toString
      val got = q.collect().head.toSeq
      assert(got == want, s"${st.format}: pushed stats $got != exact $want")
      assert(st.blocks.get() == 0,
        s"${st.format}: pushed min/max must not decode any pixel block")
      assert(plan.contains("PushedAggregates") || !plan.contains("FileScan"),
        s"expected the header-stats scan in the plan:\n$plan")
    }
  }

  test("min/max does NOT push under a residual filter (defensive gate)") {
    // with an azimuth filter pushed, the builder must fall back to the
    // full scan — header extrema would be wrong for the filtered rows
    val kept = codecRows.filter(_._2 >= 2)
    val want = Seq(kept.map(_._2).min, kept.map(_._3).max)
    val got = v2.filter(col("azimuth") >= 2)
      .agg(min("azimuth").as("a"), max("range").as("b"))
      .collect().head.toSeq
    assert(got == want, s"filtered stats must come from real rows: $got != $want")
  }

  test("column pruning narrows the scan's read schema") {
    val q = v2.select("azimuth", "range")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") || !plan.contains("intensity"),
      s"expected a pruned scan schema:\n$plan")
    assert(q.columns.toSeq == Seq("azimuth", "range"))
    assert(q.count() > 0)
  }

  test("scan reports exact header-derived row statistics to the planner") {
    val q = v2.select("azimuth", "range", "intensity")
    val stats = q.queryExecution.optimizedPlan.stats
    val actual = q.count()
    assert(stats.rowCount.contains(BigInt(actual)),
      s"planner rowCount ${stats.rowCount} != actual $actual")
    // ...and the size estimate is small enough that a join against a
    // big table BROADCASTS the raster side instead of sort-merging —
    // the planning decision the statistics exist to enable.
    val big = spark.range(200000).select(
      (col("id") % 8).cast("int").as("azimuth"), col("id").as("payload"))
    val j = big.join(v2.select("azimuth", "intensity"), Seq("azimuth"))
    val jplan = j.queryExecution.executedPlan.toString
    assert(jplan.contains("BroadcastHashJoin"),
      s"header-known small scan should broadcast:\n$jplan")
    assert(j.count() > 0)
  }

  test("a pushed DESC top-N decodes only tail blocks, results stay exact") {
    // ORDER BY azimuth DESC LIMIT 3 must read the LAST azimuth rows of
    // each file, never the head — blocks-decompressed proves the tail
    // read; values prove exactness against the full-scan sort and the
    // codec's decode
    stacks.foreach { st =>
      val want = st.scan.orderBy(col("azimuth").desc).limit(3)
        .collect().map(_.toSeq).toSet
      st.blocks.set(0)
      st.scan.collect()
      val full = st.blocks.get()
      st.blocks.set(0)
      val q = st.scan.orderBy(col("azimuth").desc).limit(3)
      val got = q.collect().map(_.toSeq).toSet
      val topn = st.blocks.get()
      assert(got == want && got.nonEmpty, st.format)
      val lastRow = st.rows.map(_(0).asInstanceOf[Int]).max
      assert(got.forall(r => r(0) == lastRow && st.rows.contains(r)),
        s"${st.format}: top-3 must be decoded rows of azimuth $lastRow: $got")
      assert(full > 0 && topn < full,
        s"${st.format}: DESC top-N should touch fewer blocks ($topn vs $full)")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedTopN") || topn < full,
        s"expected the pushed top-N in the scan description:\n$plan")
    }
  }

  test("a pushed ASC top-N reads every file's head when rasters share a read task") {
    // k = files × width is exactly the azimuth-0 row of every file, and
    // k > width: a reader that capped the whole task at k would fill it
    // from the first file's head rows and never reach the others
    stacks.foreach { st =>
      val all = Fixtures.codecRows(st.dir)
      val files = all.map(_.head).distinct.size
      val width = all.map(_(2).asInstanceOf[Int]).max + 1
      val k = files * width
      assert(files >= 2 && k > width, st.format)
      spark.conf.set("spark.sql.files.minPartitionNum", "1")
      try {
        val q = spark.read.format(st.format).load(st.dir).orderBy(col("azimuth")).limit(k)
        assert(spark.read.format(st.format).load(st.dir).rdd.getNumPartitions == 1,
          s"${st.format}: the stack should pack into one read task")
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains(s"PushedLimit: $k"), s"expected the pushed top-N in:\n$plan")
        val want = all.filter(_(1) == 0).map(_.mkString("|")).sorted
        val got = q.collect().map(_.toSeq.mkString("|")).toSeq.sorted
        assert(got == want, s"${st.format}: top-$k must be every file's azimuth-0 row")
      } finally spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }

  test("runtime V2 filtering: a path join prunes whole rasters at execution") {
    import spark.implicits._
    spark.sparkContext // force session init: the listing needs it active
    val files = GraftRasterSource.listRasters(RasterFormat.Grd, grdDir).map(_._1)
    assert(files.size >= 2)
    val target = files.head.replaceFirst("^file:/*", "/")
    // the dimension must be a SELECTIVELY FILTERED real relation — a
    // filtered LocalRelation constant-folds to a bare LocalTableScan,
    // which the pruning rule correctly sees as having no predicate to
    // reuse (found the hard way; this mirrors production, where the
    // manifest IS a table)
    // filter the manifest on a NON-key column: an equality on the join
    // key itself constant-propagates into a static path filter on the
    // scan (the static-pushdown test below) and no runtime filter is
    // needed — the dynamic case is precisely "the path set is only
    // known after the dimension is evaluated"
    val dimPath = tmpDir("dsv2dim")
    files.map(_.replaceFirst("^file:/*", "/")).zipWithIndex
      .toDF("path", "idx").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("idx") === 0)
    RasterScan.runtimeFilteredTo.set(-1)
    RasterScan.plannedRasters.set(-1)
    val joined = v2.join(broadcast(dim), Seq("path")).groupBy("path")
      .agg(count(lit(1)).as("n"))
    val rows = joined.collect()
    assert(rows.length == 1 && rows(0).getString(0) == target)
    assert(RasterScan.runtimeFilteredTo.get() == 1,
      "the runtime path filter never reached the scan\n" +
        joined.queryExecution.optimizedPlan.toString + "\n=====\n" +
        joined.queryExecution.executedPlan.toString)
    assert(RasterScan.plannedRasters.get() == 1,
      s"expected 1 planned raster after runtime pruning, " +
        s"got ${RasterScan.plannedRasters.get()} of ${files.size}")
    // correctness parity: same rows as an eager path filter
    val want = v2.filter(col("path") === target).count()
    assert(rows(0).getLong(1) == want)
  }

  test("static path pushdown prunes the listing at plan time") {
    spark.sparkContext
    val files = GraftRasterSource.listRasters(RasterFormat.Grd, grdDir).map(_._1)
    val target = files.head.replaceFirst("^file:/*", "/")
    RasterScan.plannedRasters.set(-1)
    // an azimuth conjunct rides along so the filtered-count query takes
    // the row scan, never the header-only aggregate path
    val n = v2.filter(col("path") === target && col("azimuth") >= 0).count()
    assert(n > 0)
    assert(RasterScan.plannedRasters.get() == 1,
      s"path equality should plan exactly 1 raster, " +
        s"got ${RasterScan.plannedRasters.get()}")
    // an impossible path plans zero partitions, returns zero rows
    RasterScan.plannedRasters.set(-1)
    assert(v2.filter(col("path") === "/nope.tif" && col("azimuth") >= 0)
      .count() == 0)
    assert(RasterScan.plannedRasters.get() == 0)
  }
}
