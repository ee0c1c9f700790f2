package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.core.{Cube, CubeConfig}
import graft.io.{CubeBuilder, CubeSource, CubeWriter}
import graft.meta.{CubePlanner, MetadataCrawler}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The four workloads. Each runs set-up (inputs, warm-up operations
  * whose outputs are checked), then a closed loop of whole cycles sized
  * from `--seconds` (see [[loop]]). Untraced runs report the end-to-end
  * metrics; traced runs alternate untraced and traced cycles and report
  * the per-layer metrics plus the difference.
  */
object Workloads {

  val byName: Map[String, Ctx => Unit] = Map(
    "grd_ingest" -> grdIngest,
    "slc_archive_plan" -> slcArchivePlan,
    "cube_serve" -> cubeServe,
    "curation_mix" -> curationMix)

  val TileSide = 256
  /** Nominal cycle times on 4 cores: a GRD build, an SLC archive build,
    * a serve cycle, a query pass. */
  val GrdCycleS = 2.5
  val SlcCycleS = 8.0
  val ServeCycleS = 3.5
  val CurationCycleS = 8.0
  /** Lookups and windows per serve cycle; each cycle also opens the
    * store once and runs one tiling epoch. */
  val ServeReads = 6
  val CorpusSeed = 20240601L

  /** Result-object metrics of an untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_mean_ms" -> "ms")

  /** Result-object metrics of a traced run; a layer the workload does
    * not call reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "meta.crawl_s" -> "s", "meta.crawl_jobs" -> "count", "meta.crawl_bytes_per_file" -> "KB",
    "meta.plan_s" -> "s", "meta.plan_jobs" -> "count", "meta.survivor_ratio" -> "ratio",
    "io.decode_s" -> "s", "io.decode_task_cpu_s" -> "s", "io.decode_mpix" -> "Mpx",
    "io.decode_read_ratio" -> "ratio", "io.assemble_s" -> "s", "io.assemble_jobs" -> "count",
    "io.write_s" -> "s", "io.write_bytes" -> "bytes", "io.write_files" -> "count",
    "io.write_shuffle_bytes" -> "bytes", "io.load_s" -> "s", "io.read_files_per_op" -> "count",
    "io.read_bytes_per_op" -> "bytes", "io.rows_scanned_per_row_returned" -> "ratio",
    "core.product_index_ms" -> "ms", "core.metadata_ms" -> "ms", "core.band_values_ms" -> "ms",
    "core.jobs_per_lookup" -> "count", "core.tiles_s" -> "s", "core.tiles_shuffle_bytes" -> "bytes",
    "operators.build_s" -> "s", "operators.exec_s" -> "s", "operators.eager_jobs" -> "count",
    "operators.task_cpu_s" -> "s", "operators.shuffle_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes", "operators.store_builds" -> "count",
    "operators.dedup_s" -> "s", "operators.curation_s" -> "s", "operators.tokenize_s" -> "s",
    "operators.search_s" -> "s", "operators.vector_s" -> "s", "operators.sketch_s" -> "s",
    "operators.relational_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s", "spark.jit_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  // ------------------------------------------------------------ helpers

  private def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs the measuring phase as a fixed number of whole cycles:
    * `--seconds` divided by the workload's nominal cycle time (twice that
    * in a traced run, whose iterations hold an untraced and a traced
    * cycle), at least one. Every run of a workload thus measures the same
    * operations, however fast they go. */
  private def loop(ctx: Ctx, nominalS: Double)(cycle: Int => Unit): Unit = {
    val per = if (ctx.opts.trace) 2 * nominalS else nominalS
    val n = math.max(1, math.round(ctx.opts.seconds / per).toInt)
    for (i <- 0 until n) cycle(i)
  }

  /** Times one attempted operation; a failure counts as +Inf. */
  private def timed(ctx: Ctx, into: ArrayBuffer[Double])(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = ctx.attempt(f).isDefined
    into += (if (ok) elapsedMs(t0) else Double.PositiveInfinity)
  }

  private def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(c => delete(c.getPath))
    f.delete()
  }

  /** Data files of a cube store (checksums and markers excluded). */
  private def storeFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(f => f.getName.endsWith(".parquet") || f.getName == "_attrs.json")
  }

  /** Generates the inputs `times` times into fresh directories and
    * keeps the last; reports the median generation time. */
  private def generate[T](ctx: Ctx, name: String, times: Int)(gen: String => T): T = {
    val ms = ArrayBuffer.empty[Double]
    var out: Option[T] = None
    for (g <- 0 until times) {
      val dir = s"${ctx.opts.work}/$name-$g"
      val t0 = System.nanoTime()
      out = Some(gen(dir))
      ms += elapsedMs(t0)
      if (g < times - 1) delete(dir)
    }
    ctx.line("setup.generate_ms", Stats.median(ms.toSeq), "ms", s"  median of $times")
    phase(ctx, "inputs generated")
    out.get
  }

  /** A set-up milestone: seconds since JVM start. */
  private def phase(ctx: Ctx, what: String): Unit = ctx.note(f"setup ${ctx.sinceStartS}%8.3f s  $what")

  private def reportSetup(ctx: Ctx): Unit = {
    if (ctx.opts.trace) ctx.line("setup_s", ctx.sinceStartS, "s", "  JVM start to end of warm-up")
    else ctx.metric("setup_s", ctx.sinceStartS, "s", "  JVM start to end of warm-up")
    ctx.heap.reset()
  }

  /** `primary`: the workload's main operation (its median is
    * op_p50_ms); `all`: every operation of the loop (op_mean_ms). */
  private def reportOps(ctx: Ctx, primary: Seq[Double], all: Seq[Double], what: String): Unit = {
    ctx.metric("op_p50_ms", Stats.median(primary), "ms", s"  median $what, n=${primary.size}")
    ctx.metric("op_mean_ms", all.sum / all.size, "ms", s"  mean of all operations, n=${all.size}")
    ctx.line("peak_heap_mb", ctx.heap.peakMb, "MB", "  highest heap in use after a collection while measuring")
    // the second collection frees what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    ctx.line("live_heap_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB",
      "  heap in use after a full collection at the end")
    ctx.note(all.take(60).map(Stats.fmt).mkString("samples_ms ", " ", if (all.size > 60) " ..." else ""))
  }

  private def tailLine(ctx: Ctx, name: String, lat: Seq[Double]): Unit = Stats.tail(lat) match {
    case Some((p, v)) => ctx.line(name, v, "ms", f"  p$p%.1f of n=${lat.size}")
    case None         => ctx.line(name, Stats.percentile(lat, 100), "ms", s"  max: with n=${lat.size} no percentile has 10 samples above it")
  }

  private def rate(ctx: Ctx, name: String, work: Double, ms: Double, unit: String, note: String): Unit =
    ctx.line(name, work / (ms / 1e3), unit, note)

  /** Traced-run bookkeeping: GC and JIT deltas around traced operations
    * and the matched untraced/traced operation times. */
  private final class TraceRun(ctx: Ctx) {
    val tracer = new Tracer(ctx.spark)
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    var gcMs, jitMs = 0L
    var ops = 0
    /** Spans before this index are set-up work, not loop operations. */
    var loopStart = 0

    def tracedOp(f: => Unit): Unit = {
      val gc0 = ctx.heap.gcMs; val jit0 = ctx.heap.jitMs
      tracer.newOp()
      timed(ctx, traced)(f)
      gcMs += ctx.heap.gcMs - gc0; jitMs += ctx.heap.jitMs - jit0
      ops += 1
    }

    def median(name: String, f: Span => Double): Double = {
      val xs = tracer.named(name).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }

    def finish(): Unit = {
      tracer.close()
      val roots = tracer.spans.drop(loopStart).filter(_.parent == -1)
      val per = math.max(ops, 1).toDouble
      ctx.metric("spark.jobs", roots.map(s => tracer.inclusive(s).jobs).sum / per, "count", "  per traced operation")
      ctx.metric("spark.tasks", roots.map(s => tracer.inclusive(s).tasks).sum / per, "count", "  per traced operation")
      ctx.metric("spark.gc_s", gcMs / 1e3 / per, "s", "  per traced operation")
      ctx.metric("spark.jit_ms", jitMs / per, "ms", "  per traced operation")
      val overhead = traced.sum / traced.size - plain.sum / plain.size
      ctx.metric("trace.overhead_ms", overhead, "ms",
        f"  mean traced ${traced.sum / traced.size}%.1f ms (n=${traced.size}) - untraced ${plain.sum / plain.size}%.1f ms (n=${plain.size})")
      val path = s"${ctx.opts.traces}/${ctx.opts.workload}-seed${ctx.opts.seed}.jsonl"
      tracer.dump(path)
      ctx.note(s"spans ${tracer.spans.size} written to ${new File(path).getCanonicalPath}")
      tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        ctx.note(f"span $n%-28s n=${ss.size}%4d self_ms_total=${ss.map(tracer.selfMs).sum}%10.1f")
      }
    }
  }

  // ------------------------------------------------- ingest workloads

  private def checkStore(ctx: Ctx, stack: Rasters.Stack, dir: String, slc: Boolean): Unit = {
    val cube = Cube.load(ctx.spark, dir)
    val layers = cube.layers.orderBy("band_index").select("band_index", "product_file").collect()
    ctx.check(layers.length == stack.bands.size, s"layers ${layers.length} != expected ${stack.bands.size}")
    val dims = cube.dimensions
    ctx.check(dims("Azimuth") == stack.az && dims("Range") == stack.rg,
      s"dimensions $dims != ${stack.az}x${stack.rg}")
    val names = layers.map(r => Option(r.getString(1)).filter(_ != Cube.NoneValue))
    ctx.check(names.count(_.isDefined) == stack.survivors.size,
      s"survivors ${names.count(_.isDefined)} != expected ${stack.survivors.size}")
    ctx.check(names.toSeq == stack.bands.map(_.product.map(_.name)), "band order or survivor names differ")
    val valueCols = if (slc) Seq("real", "imag") else Seq("intensity")
    val sums = cube.pixels.groupBy("band_index")
      .agg(sum(col(valueCols.head).cast("double")), valueCols.tail.map(c => sum(col(c).cast("double"))): _*)
      .collect().map(r => r.getInt(0) -> valueCols.indices.map(i => r.getDouble(i + 1))).toMap
    stack.bands.zipWithIndex.foreach { case (b, i) =>
      val got = sums.getOrElse(i, valueCols.map(_ => 0.0))
      ctx.check(got == b.sums, s"band $i sums $got != expected ${b.sums}")
    }
  }

  /** One traced build, with each lazy boundary materialized inside its
    * own span. */
  private def tracedBuild(ctx: Ctx, t: Tracer, stack: Rasters.Stack, config: CubeConfig, out: String): Unit =
    t.span("ingest") {
      val files = MetadataCrawler.listRasterFiles(stack.dir)
      val crawled = t.span("meta.crawl") {
        val c = MetadataCrawler.crawlRasterFiles(ctx.spark, files).cache()
        c.count()
        c
      }
      val layers = t.span("meta.plan") {
        val l = t.span("meta.plan.call")(new CubePlanner(config).plan(crawled)).cache()
        l.count()
        l
      }
      t.span("io.decode") {
        val paths = layers.filter(col("product_fpath").isNotNull).select("product_fpath")
          .collect().map(_.getString(0)).toSeq
        val n = paths.groupBy(CubeSource.forPath).map { case (src, ps) => src.readPixels(ctx.spark, ps).count() }.sum
        ctx.check(n == stack.survivorPixels, s"decoded $n pixels != expected ${stack.survivorPixels}")
      }
      layers.unpersist(); crawled.unpersist()
      val cube = t.span("io.assemble")(CubeBuilder.fromFiles(ctx.spark, files, config))
      t.span("io.write")(CubeWriter.write(cube, out))
    }

  private def ingestLayers(ctx: Ctx, run: TraceRun, stack: Rasters.Stack, lastOut: String): Unit = {
    val t = run.tracer
    val survivorBytes = stack.survivors.map(p => new File(s"${stack.dir}/${p.name}").length).sum
    val crawlBytes = run.median("meta.crawl", _.readBytes.toDouble)
    ctx.metric("meta.crawl_s", run.median("meta.crawl", _.ms) / 1e3, "s")
    ctx.metric("meta.crawl_jobs", run.median("meta.crawl", s => t.inclusive(s).jobs.toDouble), "count")
    ctx.metric("meta.crawl_bytes_per_file", crawlBytes / stack.products.size / 1024, "KB",
      f"  ${crawlBytes / 1024}%.0f KB read / ${stack.products.size} files")
    ctx.metric("meta.plan_s", run.median("meta.plan", _.ms) / 1e3, "s")
    ctx.metric("meta.plan_jobs", run.median("meta.plan.call", s => t.inclusive(s).jobs.toDouble), "count")
    ctx.metric("meta.survivor_ratio", stack.survivors.size.toDouble / stack.products.size, "ratio",
      s"  ${stack.survivors.size} non-gap layers / ${stack.products.size} crawled products")
    val decodeS = run.median("io.decode", _.ms) / 1e3
    val decodeRead = run.median("io.decode", _.readBytes.toDouble)
    ctx.metric("io.decode_s", decodeS, "s")
    ctx.metric("io.decode_task_cpu_s", run.median("io.decode", s => t.inclusive(s).cpuNs / 1e9), "s")
    ctx.metric("io.decode_mpix", stack.survivorPixels / 1e6, "Mpx")
    ctx.metric("io.decode_read_ratio", decodeRead / survivorBytes, "ratio",
      f"  ${decodeRead / 1024}%.0f KB read / $survivorBytes%d B of surviving payloads")
    ctx.metric("io.assemble_s", run.median("io.assemble", s => s.ms - t.inclusive(s).metaJobMs) / 1e3, "s",
      "  fromFiles span minus its graft.meta jobs")
    ctx.metric("io.assemble_jobs", run.median("io.assemble", s => { val c = t.inclusive(s); (c.jobs - c.metaJobs).toDouble }), "count")
    val writeMs = run.median("io.write", _.ms)
    ctx.metric("io.write_s", (writeMs / 1e3 - decodeS), "s", f"  write span ${writeMs / 1e3}%.3f s - decode ${decodeS}%.3f s fused into it")
    val files = storeFiles(lastOut)
    ctx.metric("io.write_bytes", files.map(_.length).sum.toDouble, "bytes")
    ctx.metric("io.write_files", files.size.toDouble, "count")
    ctx.metric("io.write_shuffle_bytes", run.median("io.write", s => t.inclusive(s).shuffleWrite.toDouble), "bytes")
  }

  private def ingest(ctx: Ctx, name: String, slc: Boolean, cycleS: Double)(gen: String => Rasters.Stack)(
      named: (Rasters.Stack, Double) => Unit): Unit = {
    val stack = generate(ctx, name, 3)(gen)
    val config = CubeConfig.fromJsonString(stack.configJson)
    var outN = 0
    def nextOut(): String = { outN += 1; s"${ctx.opts.work}/store-$outN" }
    def build(out: String): Unit = CubeWriter.write(Cube.fromDirectory(ctx.spark, stack.dir, config), out)

    val warm = nextOut()
    build(warm)
    phase(ctx, "warm-up build 1")
    checkStore(ctx, stack, warm, slc)
    phase(ctx, "warm-up output checked")
    delete(warm)
    val warm2 = nextOut()
    build(warm2)
    phase(ctx, "warm-up build 2")
    delete(warm2)
    reportSetup(ctx)

    var last: String = null
    def rotate(out: String): Unit = { if (last != null) delete(last); last = out }
    if (!ctx.opts.trace) {
      val lat = ArrayBuffer.empty[Double]
      loop(ctx, cycleS) { _ => val out = nextOut(); timed(ctx, lat)(build(out)); rotate(out) }
      checkStore(ctx, stack, last, slc)
      reportOps(ctx, lat.toSeq, lat.toSeq, "build + store write")
      named(stack, Stats.median(lat.toSeq))
      ctx.line("store_bytes_per_input_byte", storeFiles(last).map(_.length).sum.toDouble /
        stack.survivors.map(p => new File(s"${stack.dir}/${p.name}").length).sum, "ratio",
        "  store data files / surviving input files")
    } else {
      val run = new TraceRun(ctx)
      loop(ctx, cycleS) { _ =>
        val out = nextOut(); timed(ctx, run.plain)(build(out)); rotate(out)
        val out2 = nextOut(); run.tracedOp(tracedBuild(ctx, run.tracer, stack, config, out2)); rotate(out2)
      }
      checkStore(ctx, stack, last, slc)
      ingestLayers(ctx, run, stack, last)
      run.finish()
    }
    ctx.note(s"inputs ${stack.products.size} products, ${stack.bands.size} bands, ${stack.survivors.size} survivors, " +
      s"${stack.survivorPixels} surviving pixels, ${stack.inputBytes} input bytes")
  }

  def grdIngest(ctx: Ctx): Unit =
    ingest(ctx, "grd", slc = false, GrdCycleS)(dir => Rasters.grdStack(dir, ctx.opts.seed, ctx.sizes.grdProducts, ctx.sizes.grdSide)) {
      (stack, p50) => rate(ctx, "ingest_mpix_per_s", stack.survivorPixels / 1e6, p50, "Mpx/s",
        s"  ${stack.survivorPixels} surviving pixels / median build")
    }

  def slcArchivePlan(ctx: Ctx): Unit =
    ingest(ctx, "slc", slc = true, SlcCycleS)(dir => Rasters.slcArchive(dir, ctx.opts.seed, ctx.sizes.slcDays, ctx.sizes.slcWindowDays, ctx.sizes.slcSide)) {
      (stack, p50) => rate(ctx, "archive_products_per_s", stack.products.size, p50, "1/s",
        s"  ${stack.products.size} crawled products / median build")
    }

  // --------------------------------------------------------- cube_serve

  def cubeServe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val stack = generate(ctx, "grd", 3)(dir => Rasters.grdStack(dir, ctx.opts.seed, ctx.sizes.grdProducts, ctx.sizes.grdSide))
    val store = s"${ctx.opts.work}/cube"
    val config = CubeConfig.fromJsonString(stack.configJson)
    CubeWriter.write(Cube.fromDirectory(spark, stack.dir, config), store)
    phase(ctx, "cube built")
    checkStore(ctx, stack, store, slc = false)
    phase(ctx, "cube checked")
    val products = stack.survivors.toIndexedSeq
    val rnd = new scala.util.Random(ctx.opts.seed)
    val win = math.min(ctx.sizes.windowSide, stack.az)
    val tiles = stack.bands.size.toLong * ((stack.az + TileSide - 1) / TileSide) * ((stack.rg + TileSide - 1) / TileSide)
    var cube = Cube.load(spark, store)

    def sumOf(rows: Array[Row]): Long = rows.iterator.map(_.getAs[Number](2).longValue).sum
    def checkLookup(p: Rasters.Product, rows: Array[Row], md: Map[String, String]): Unit = {
      ctx.check(rows.length == p.az * p.rg, s"lookup ${p.name}: ${rows.length} rows")
      ctx.check(sumOf(rows) == stack.bands.find(_.product.contains(p)).get.sums.head.toLong, s"lookup ${p.name}: checksum")
      ctx.check(md.get("product_file").contains(p.name), s"lookup ${p.name}: metadata ${md.get("product_file")}")
    }
    def window(b: Int, a0: Int, r0: Int): DataFrame =
      cube.bandValues(b).filter(col("azimuth").between(a0, a0 + win - 1) && col("range").between(r0, r0 + win - 1))
    def checkWindow(b: Int, a0: Int, r0: Int, rows: Array[Row]): Unit = {
      val p = products(b)
      var want = 0L
      for (a <- a0 until a0 + win; r <- r0 until r0 + win) want += Rasters.grdValue(p, a, r)
      ctx.check(rows.length == win * win, s"window $b@$a0,$r0: ${rows.length} rows")
      ctx.check(sumOf(rows) == want, s"window $b@$a0,$r0: checksum")
    }
    def epoch(): Unit = cube.tiles(TileSide).write.format("noop").mode("overwrite").save()

    val loads, lookups, windows, epochs, all = ArrayBuffer.empty[Double]
    /** One cycle: open the store, ServeReads lookup/window pairs, one epoch. */
    def cycle(tracer: Option[Tracer]): Unit = {
      def sp[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))
      def req(into: ArrayBuffer[Double])(f: => Unit): Unit = {
        tracer.foreach(_.newOp())
        val before = into.size
        timed(ctx, into)(f)
        all += into(before)
      }
      req(loads) { cube = sp("io.load")(Cube.load(spark, store)) }
      for (_ <- 0 until ServeReads) {
        val p = products(rnd.nextInt(products.size))
        var rows: Array[Row] = null
        var md: Map[String, String] = null
        req(lookups)(sp("core.lookup") {
          tracer match {
            case None =>
              rows = cube.productValues(p.name).collect()
              md = cube.metadataByProduct(p.name)
            case Some(t) =>
              val idx = t.span("core.product_index")(cube.productIndex(p.name))
              rows = t.span("core.band_values")(cube.bandValues(idx).collect())
              md = t.span("core.metadata")(cube.metadataByProduct(p.name))
          }
        })
        if (rows != null && md != null) checkLookup(p, rows, md)
        val b = rnd.nextInt(products.size)
        val a0 = rnd.nextInt(stack.az - win + 1)
        val r0 = rnd.nextInt(stack.rg - win + 1)
        var wrows: Array[Row] = null
        req(windows) { wrows = sp("core.window")(window(b, a0, r0).collect()) }
        if (wrows != null) checkWindow(b, a0, r0, wrows)
      }
      req(epochs)(sp("core.tiles")(epoch()))
    }

    cycle(None) // warm-up, checked
    cycle(None)
    Seq(loads, lookups, windows, epochs, all).foreach(_.clear())
    phase(ctx, "warm-up cycles")
    reportSetup(ctx)
    if (!ctx.opts.trace) {
      loop(ctx, ServeCycleS)(_ => cycle(None))
      reportOps(ctx, lookups.toSeq, all.toSeq, s"lookup; cycle = load + $ServeReads x (lookup, window) + epoch")
      ctx.line("lookup_p50_ms", Stats.median(lookups.toSeq), "ms", s"  n=${lookups.size}")
      tailLine(ctx, "lookup_tail_ms", lookups.toSeq)
      ctx.line("window_p50_ms", Stats.median(windows.toSeq), "ms", s"  n=${windows.size}, ${win}x$win")
      tailLine(ctx, "window_tail_ms", windows.toSeq)
      rate(ctx, "epoch_tiles_per_s", tiles.toDouble, Stats.median(epochs.toSeq), "1/s",
        s"  $tiles tiles of ${TileSide}^2 / median epoch, n=${epochs.size}")
      ctx.line("load_p50_ms", Stats.median(loads.toSeq), "ms", s"  n=${loads.size}")
    } else {
      val run = new TraceRun(ctx)
      // the ingest layers: one traced build of the same stack
      val traced = s"${ctx.opts.work}/cube-traced"
      run.tracer.newOp()
      ctx.attempt(tracedBuild(ctx, run.tracer, stack, config, traced))
      checkStore(ctx, stack, traced, slc = false)
      ingestLayers(ctx, run, stack, traced)
      run.loopStart = run.tracer.spans.size
      // a traced cycle's requests are matched against an untraced cycle's
      loop(ctx, ServeCycleS) { _ =>
        val n0 = all.size
        cycle(None)
        run.plain ++= all.drop(n0)
        val n1 = all.size
        val gc0 = ctx.heap.gcMs; val jit0 = ctx.heap.jitMs
        cycle(Some(run.tracer))
        run.gcMs += ctx.heap.gcMs - gc0; run.jitMs += ctx.heap.jitMs - jit0
        run.traced ++= all.drop(n1)
        run.ops += all.size - n1
      }
      val t = run.tracer
      val reads = t.named("core.lookup") ++ t.named("core.window")
      val pixelSpans = t.named("core.band_values") ++ t.named("core.window")
      val returned = t.named("core.band_values").size.toLong * stack.az * stack.rg + t.named("core.window").size.toLong * win * win
      val scanned = pixelSpans.map(s => t.inclusive(s).scanRows).sum
      ctx.metric("io.load_s", run.median("io.load", _.ms) / 1e3, "s")
      ctx.metric("io.read_files_per_op", reads.map(s => t.inclusive(s).scanFiles).sum.toDouble / reads.size, "count",
        s"  files scanned / ${reads.size} lookups and windows")
      ctx.metric("io.read_bytes_per_op", reads.map(s => t.inclusive(s).inBytes).sum.toDouble / reads.size, "bytes",
        s"  task input bytes / ${reads.size} lookups and windows")
      ctx.metric("io.rows_scanned_per_row_returned", scanned.toDouble / returned, "ratio",
        s"  $scanned pixel rows scanned / $returned returned")
      ctx.metric("core.product_index_ms", run.median("core.product_index", _.ms), "ms")
      ctx.metric("core.metadata_ms", run.median("core.metadata", _.ms), "ms")
      ctx.metric("core.band_values_ms", run.median("core.band_values", _.ms), "ms")
      ctx.metric("core.jobs_per_lookup", run.median("core.lookup", s => t.inclusive(s).jobs.toDouble), "count")
      ctx.metric("core.tiles_s", run.median("core.tiles", _.ms) / 1e3, "s")
      ctx.metric("core.tiles_shuffle_bytes", run.median("core.tiles", s => t.inclusive(s).shuffleWrite.toDouble), "bytes")
      run.finish()
    }
    ctx.note(s"inputs ${stack.bands.size} bands of ${stack.az}x${stack.rg}, $tiles tiles per epoch")
  }

  // ------------------------------------------------------- curation_mix

  /** The curation queries by family, every family at least once;
    * bpe_encode_docs reads its merges from the signature store. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_minhash_lsh"),
    "curation" -> Seq("decontaminate_ngram"),
    "tokenize" -> Seq("bpe_encode_docs"),
    "search" -> Seq("bm25_search"),
    "vector" -> Seq("ann_ivf_q8"),
    "sketch" -> Seq("hll_distinct_users"),
    "relational" -> Seq("q1_agg", "j13_asof_join_native"))

  def curationMix(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sf = generate(ctx, "corpus", 1) { dir => Corpus.write(spark, dir, CorpusSeed, ctx.sizes.corpusScale); dir }
    val registry = graft.SparkEntry.queries
    val order = new scala.util.Random(ctx.opts.seed).shuffle(Families.flatMap(_._2))
    val familyOf = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val storeRoot = new File(s"${ctx.opts.work}/sigstore")
    def stores: Int = Option(storeRoot.listFiles()).fold(0)(_.count(_.isDirectory))

    // warm-up pass: collect every result and check it; builds the stores
    val got = order.map { q =>
      q -> ctx.attempt(ResultHash.of(registry(q)(spark, sf))).getOrElse((-1L, "failed"))
    }.toMap
    if (!ctx.opts.train) ResultHash.compare(ctx, got, ctx.opts.expected, ctx.opts.record)
    phase(ctx, "warm-up pass checked")
    reportSetup(ctx)
    def run(q: String): Unit = registry(q)(spark, sf).write.format("noop").mode("overwrite").save()
    val storesBefore = stores

    if (!ctx.opts.trace) {
      val lat = ArrayBuffer.empty[Double]
      val passes = ArrayBuffer.empty[Double]
      loop(ctx, CurationCycleS) { _ =>
        val n0 = lat.size
        order.foreach(q => timed(ctx, lat)(run(q)))
        passes += lat.drop(n0).sum
      }
      reportOps(ctx, passes.toSeq, passes.toSeq, s"pass of ${order.size} queries through the noop sink")
      ctx.line("curation_pass_s", Stats.median(passes.toSeq) / 1e3, "s", s"  median of ${passes.size} passes")
      ctx.line("query_p50_ms", Stats.median(lat.toSeq), "ms", s"  n=${lat.size}")
    } else {
      val tr = new TraceRun(ctx)
      val t = tr.tracer
      loop(ctx, CurationCycleS) { _ =>
        order.foreach(q => timed(ctx, tr.plain)(run(q)))
        order.foreach { q =>
          tr.tracedOp(t.span(s"operators.${familyOf(q)}") {
            val df = t.span("operators.build")(registry(q)(spark, sf))
            t.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
          })
        }
      }
      val passes = tr.ops.toDouble / order.size
      def perPass(name: String, f: Span => Double): Double = t.named(name).map(f).sum / passes
      ctx.metric("operators.build_s", perPass("operators.build", _.ms) / 1e3, "s", "  per pass")
      ctx.metric("operators.exec_s", perPass("operators.exec", _.ms) / 1e3, "s", "  per pass")
      ctx.metric("operators.eager_jobs", perPass("operators.build", s => t.inclusive(s).jobs.toDouble), "count", "  per pass")
      val ops = Families.map(f => s"operators.${f._1}")
      def opsSum(f: Counters => Long): Double = ops.map(n => perPass(n, s => f(t.inclusive(s)).toDouble)).sum
      ctx.metric("operators.task_cpu_s", opsSum(_.cpuNs) / 1e9, "s", "  per pass")
      ctx.metric("operators.shuffle_bytes", opsSum(_.shuffleWrite), "bytes", "  per pass")
      ctx.metric("operators.spill_bytes", opsSum(_.spill), "bytes", "  per pass")
      ctx.metric("operators.store_builds", (stores - storesBefore).toDouble, "count",
        s"  new signature-store directories while timed ($storesBefore built in set-up)")
      Families.foreach { case (f, _) => ctx.metric(s"operators.${f}_s", perPass(s"operators.$f", _.ms) / 1e3, "s", "  per pass") }
      tr.finish()
    }
    ctx.note(s"query order ${order.mkString(",")}")
  }
}

/** Input sizes. The GRD stack is shared by grd_ingest and cube_serve;
  * `windowSide` is the side of a cube_serve window read. */
final case class Sizes(
    grdProducts: Int, grdSide: Int, slcDays: Int, slcWindowDays: Int, slcSide: Int,
    windowSide: Int, corpusScale: Double)

object Sizes {
  val Full = Sizes(24, 256, 300, 60, 32, 128, 1.0)
  /** The build's class-loading training run: every code path, tiny inputs. */
  val Train = Sizes(12, 64, 40, 10, 16, 32, 0.05)
}

/** Order-insensitive result fingerprints for the curation queries. */
object ResultHash {
  private val Sig = new java.math.MathContext(6)

  private def canon(v: Any): String = v match {
    case null                        => "null"
    case d: Double                   => num(d)
    case f: Float                    => num(f.toDouble)
    case b: java.math.BigDecimal     => num(b.doubleValue)
    case r: Row                      => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]  => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte]              => a.map("%02x".format(_)).mkString
    case other                       => other.toString
  }

  /** Six significant digits: the last bits of a floating-point sum
    * depend on how rows were partitioned. */
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toPlainString

  /** (row count, hex of the wrapping sum of per-row MD5 prefixes). */
  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = rows.iterator.map { r =>
      val d = md.digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(d).getLong
    }.foldLeft(0L)(_ + _)
    (rows.length.toLong, f"${df.columns.mkString(",").hashCode}%08x$h%016x")
  }

  def compare(ctx: Ctx, got: Map[String, (Long, String)], path: String, record: Boolean): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (record) {
      val root = mapper.createObjectNode()
      root.put("corpus_seed", Workloads.CorpusSeed)
      root.put("corpus_scale", Sizes.Full.corpusScale)
      val qs = root.putObject("queries")
      got.toSeq.sortBy(_._1).foreach { case (q, (n, h)) => qs.putObject(q).put("rows", n).put("hash", h) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
      ctx.note(s"recorded ${got.size} query fingerprints to $path")
    } else {
      val root = mapper.readTree(new File(path))
      ctx.check(root.get("corpus_seed").asLong == Workloads.CorpusSeed &&
        root.get("corpus_scale").asDouble == Sizes.Full.corpusScale, s"$path was recorded for another corpus")
      got.toSeq.sortBy(_._1).foreach { case (q, (n, h)) =>
        val e = root.get("queries").get(q)
        ctx.check(e != null, s"$q: no expected fingerprint")
        if (e != null) {
          ctx.check(e.get("rows").asLong == n, s"$q: $n rows, expected ${e.get("rows").asLong}")
          ctx.check(e.get("hash").asText == h, s"$q: content hash $h, expected ${e.get("hash").asText}")
        }
      }
    }
  }
}
