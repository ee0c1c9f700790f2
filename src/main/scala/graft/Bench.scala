package graft

import org.apache.spark.sql.SparkSession

/** Driver benchmark contract: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is materialized through the noop datasource so the full
  * plan (including sorts and all output columns) executes — `count()`
  * would let Catalyst collapse sorts and prune every value column.
  * A short untimed warmup absorbs JVM/codegen startup so the first
  * query's time is not inflated.
  *
  * Methodology (reported as `"method"` in the JSON line): each query is
  * timed twice and the BEST of the two runs is reported, after an
  * untimed warm-up pass at a strictly smaller scale factor — JIT /
  * first-touch / codegen-cache noise masqueraded as a 4.7× per-query
  * regression in round 4. Best-of-2 still cannot defend against HOST
  * contention inflating both runs of one query, so a trailing
  * per-query per-SF median (bench_history_<sf>.tsv, last 9 runs) arms an outlier
  * tripwire: wall > 3× median triggers a third run, and the artifact
  * records `reruns` + `rerun_queries` so a contention window either
  * self-corrects or ships visibly flagged. Between timed runs every persisted RDD
  * (`localCheckpoint` blocks) is dropped: leftover blocks from earlier
  * queries occupy the storage half of unified memory (storage below
  * `spark.memory.storageFraction` is eviction-protected), forcing later
  * queries' aggregates to spill — measured as the round-4 vector-family
  * slowdown.
  *
  * SELF-DIAGNOSIS: the bench attaches a SparkListener and reports, for
  * the best run of each query, summed task CPU time, input bytes read,
  * and JVM GC time alongside the wall clock (`"diag"`, aligned with the
  * sorted keys of `"queries"` to keep the stdout line inside the
  * driver's tail budget; legend in `"diag_legend"`). An inflated run
  * now carries its own explanation: wall ≫ task-CPU on a trivial scan
  * plan is environment (I/O stall / CPU contention / scheduling), not
  * the query — the round-5 artifact's 15-30× filter-family multiples
  * were exactly that shape, but unprovable from the artifact alone.
  * Snapshots are taken behind a listener-bus drain barrier
  * ([[org.apache.spark.GraftBusDrain]]) so async task-end events can't
  * leak across query boundaries.
  */
object Bench {

  /** Per-task counters summed over one timed run (reset between runs). */
  private final class DiagListener
      extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val inBytes = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    def reset(): Unit = { cpuNs.set(0); gcMs.set(0); inBytes.set(0); jobs.set(0) }
  }

  /** (wall sec, task-cpu sec, input MB, gc ms) for one run, plus the
    * attribution gauges: `buildMs` is DataFrame CONSTRUCTION time
    * (SQL parse through the seven-scanner channel + eager analysis +
    * store-existence probes — all driver-side, invisible to task CPU),
    * the remainder of the wall is optimize/plan/schedule/execute;
    * `jitMs` is this run's JIT compiler-thread time delta and `ccMb`
    * the CodeHeap bytes in use after the run — when the code cache
    * thrashes, late queries show interpreted-execution CPU inflation
    * with jitMs churn and ccMb pinned at the reserve (the round-7/9
    * failure signature, now self-identifying in the artifact). */
  private final case class RunStats(wall: Double, cpu: Double, mb: Double,
      gc: Long, buildMs: Long, jitMs: Long, ccMb: Long, buildJobs: Long)

  /** CodeHeap pools (segmented cache: non-nmethods / profiled /
    * non-profiled) or the single CodeCache pool on unsegmented JVMs. */
  private val codePools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .toSeq
  }
  private def codeCacheUsedMb: Long =
    codePools.map(_.getUsage.getUsed).sum >> 20
  private def codeCachePeakMb: Long =
    codePools.map(_.getPeakUsage.getUsed).sum >> 20
  private def jitTotalMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.SparkUtil.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        // the status store retains 1000 executions / 100k tasks by
        // default even with the UI off — ~315 executions of driver-side
        // churn the later (alphabetically) queries pay for
        .config("spark.sql.ui.retainedExecutions", "25")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Drop leftover localCheckpoint blocks so one query's pinned tables
      * can't squat in protected storage memory during the next one. */
    def dropCheckpointBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

    val diag = new DiagListener
    spark.sparkContext.addSparkListener(diag)
    def drainBus(): Unit =
      try org.apache.spark.GraftBusDrain.drain(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }

    def run(name: String): RunStats = {
      drainBus(); diag.reset()
      val jit0 = jitTotalMs
      val t0 = System.nanoTime()
      // Phase split: DataFrame construction is eager through parse +
      // analysis (spark.sql analyzes eagerly; so does every Dataset
      // transformation) and through the store-existence probes — all
      // DRIVER time that task CPU can never explain. The noop save then
      // covers optimize/plan/schedule/execute.
      var tBuild = t0
      var buildJobs = 0L
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        tBuild = System.nanoTime()
        // jobs submitted DURING construction (localCheckpoint pins,
        // dynamic-probe enumerations, fixpoint count()s) are eagerly
        // executed work, not driver overhead — the bus drain here makes
        // the counter exact and its cost lands in the execute phase
        drainBus()
        buildJobs = diag.jobs.get
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val t1 = System.nanoTime()
      drainBus()
      val st = RunStats((t1 - t0) / 1e9, diag.cpuNs.get / 1e9,
        diag.inBytes.get / 1e6, diag.gcMs.get,
        buildMs = (tBuild - t0) / 1000000, jitMs = jitTotalMs - jit0,
        ccMb = codeCacheUsedMb, buildJobs = buildJobs)
      dropCheckpointBlocks()
      st
    }

    // untimed warmup: JVM + codegen + parquet footer caches
    run("q1_agg")
    // untimed one-time store builds (moved verbatim to StorePrebuild in
    // r16 so Verify's parallel dump can prebuild serially first): the
    // *_stored queries measure the amortized READ path; live builds are
    // timed by their live twins
    StorePrebuild.all(spark, sfDir)

    val names = SparkEntry.queries.keys.toSeq.sorted

    // Untimed warmup pass over EVERY query at a STRICTLY SMALLER scale
    // factor: whole-stage codegen classes are cached by source and C2
    // JIT state is shared across scale factors, so this absorbs the
    // compile cost that otherwise lands on whichever queries run first
    // (measured: the first expensive query paid 2-3× its steady-state
    // time, and the penalty moved around with alphabetical order).
    // Never warm on the benchmark dataset itself (that would pre-fill
    // page/footer/store caches for the timed pass) and never "warm" on a
    // LARGER sibling; with no smaller sibling, skip the warmup.
    def sfOf(p: java.nio.file.Path): Option[Double] =
      "sf([0-9.]+)$".r.findFirstMatchIn(p.getFileName.toString)
        .flatMap(m => m.group(1).toDoubleOption)
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
      for {
        target <- sfOf(p)
        parent <- Option(p.getParent)
        cand = parent.resolve("sf0.01")
        candSf <- sfOf(cand)
        if candSf < target && java.nio.file.Files.isDirectory(cand)
      } yield cand.toString
    }
    warmDir.foreach { wd =>
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, wd)
          .write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      dropCheckpointBlocks()
    }

    // Trailing per-query history (bench_history.tsv: name then recent
    // best walls): best-of-2 cannot defend against a loaded HOST
    // inflating both runs of one query — the r8 official artifact
    // carried a 4.69 s dup_graph_pagerank that every committed run
    // priced at 1.4-1.8 s. Any query whose best-of-2 wall exceeds 3×
    // its trailing median triggers a third run and the artifact records
    // which queries self-corrected (`reruns`/`rerun_queries`), so a
    // contention outlier either heals or ships with its own flag.
    // Locale.ROOT: f"%.3f" uses the default locale, whose decimal comma
    // on non-English systems would silently produce invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // per-SF history: walls are only comparable within one scale factor
    val histPath = java.nio.file.Paths.get(
      "bench_history_" + java.nio.file.Paths.get(sfDir).getFileName + ".tsv")
    val history: Map[String, Seq[Double]] =
      if (java.nio.file.Files.exists(histPath))
        scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(histPath)).asScala
          .map(_.split("\\s+").toSeq)
          .collect { case name +: vals if vals.nonEmpty =>
            name -> vals.flatMap(_.toDoubleOption)
          }.toMap
      else Map.empty
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2)
    }

    // Quiet-box pre-flight (r13 verdict #1): this run's walls become
    // every future round's band denominator, so REFUSE to start the
    // timed pass while the canary drift factor says the box is
    // throttled — sleep-and-reprobe with backoff, then proceed loudly
    // un-quiet if it never settles (the driver's budget is finite).
    // The canary runs are also extra warmup for a dozen queries; the
    // timed pass is best-of-2, so the cache-warmth asymmetry vs the
    // other queries is absorbed by the second run as usual.
    val preflightFactors = scala.collection.mutable.ListBuffer.empty[Double]
    var preflightQuiet = true
    locally {
      import graft.tools.QuietBox
      var deciding = true
      while (deciding) {
        // best-of-2 per canary, like the timed pass: the trailing
        // medians are best-of-2 walls, so a single (first, cold-cache)
        // probe run is biased high and can spuriously refuse a quiet
        // box — one 30 s sleep + an extra probe for nothing (advisor
        // r14; the second run also absorbs the same-SF warmup asymmetry
        // the canaries used to carry into the timed pass).
        val walls = QuietBox.CanaryQueries.filter(names.contains)
          .map { n =>
            val first = run(n).wall
            val second = run(n).wall
            n -> math.min(first, second)
          }.toMap
        preflightFactors += QuietBox.factor(walls, history)
        QuietBox.decide(preflightFactors.toSeq) match {
          case QuietBox.Retry(sleepSec) =>
            System.err.println(f"[bench] preflight factor=${preflightFactors.last}%.3f " +
              f"> ${QuietBox.FactorThreshold} — box busy, sleeping ${sleepSec}s before re-probe")
            Thread.sleep(sleepSec * 1000L)
          case QuietBox.Proceed(quiet) =>
            preflightQuiet = quiet
            deciding = false
        }
      }
      if (!preflightQuiet)
        System.err.println("[bench] preflight NEVER QUIET after " +
          s"${preflightFactors.size} probes — proceeding, artifact flagged")
    }

    // Best-of-2: the min discards one-off JIT/first-touch/GC hiccups
    // that a single sample can't distinguish from a real regression.
    // The diag triple travels with the BEST run (same run the wall
    // number describes — mixing runs would fabricate impossible ratios).
    // Both walls ship in bench_diag (r11 verdict #5): best-of-2 reports
    // min, but noise-vs-creep classification needs the SPREAD — a query
    // whose two runs straddle the band is host noise, one whose both
    // runs sit above it is a real shift. `otherWall` = the non-best
    // runs' minimum (2nd best), so [wall, wall_other] brackets the run.
    val rerunNames = scala.collection.mutable.ListBuffer.empty[String]
    val results = names.map { n =>
      val a = run(n)
      val b = run(n)
      var best = if (a.wall <= b.wall) a else b
      var other = math.max(a.wall, b.wall)
      val med = history.get(n).filter(_.size >= 3).map(median)
      if (med.exists(m => best.wall > 3 * m)) {
        rerunNames += n
        val c = run(n)
        if (c.wall < best.wall) { other = best.wall; best = c }
        else other = math.min(other, c.wall)
      }
      n -> (best, other)
    }
    // roll the history forward with this run's final walls (trailing 9)
    locally {
      val byName = results.toMap
      val lines = names.map { n =>
        val walls = (history.getOrElse(n, Nil) :+ byName(n)._1.wall).takeRight(9)
        (n +: walls.map(fmt)).mkString(" ")
      }
      java.nio.file.Files.writeString(histPath, lines.mkString("", "\n", "\n"))
    }
    // Task-cpu/GC plausibility (r14 verdict): the r13 close shipped a
    // 259 cpu-s / 1.3 s-GC diag where every adjacent run read 675–945 /
    // 8–17 s — an under-ticking per-task TIME meter that nothing
    // cross-checked (bench_ab.sh adjudicates on task-cpu). Same
    // trailing-median machinery as the wall band, pointed at the cpu
    // column: per-query best-run cpu history in its own TSV (plus the
    // run-total GC as a reserved pseudo-row), suite factor = median
    // cur/median ratio over meaningful-cpu queries, flagged loudly
    // outside [0.55, 1.8] (GC: order-of-magnitude only).
    val cpuHistPath = java.nio.file.Paths.get(
      "bench_cpu_history_" + java.nio.file.Paths.get(sfDir).getFileName + ".tsv")
    val cpuHistory: Map[String, Seq[Double]] =
      if (java.nio.file.Files.exists(cpuHistPath))
        scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(cpuHistPath)).asScala
          .map(_.split("\\s+").toSeq)
          .collect { case name +: vals if vals.nonEmpty =>
            name -> vals.flatMap(_.toDoubleOption)
          }.toMap
      else Map.empty
    val gcTotalMs = results.map(_._2._1.gc).sum.toDouble
    val cpuFactor = graft.tools.CpuBand.factor(
      results.map { case (n, (v, _)) => n -> v.cpu }.toMap, cpuHistory)
    val gcFactorV = graft.tools.CpuBand.gcFactor(gcTotalMs, cpuHistory)
    val cpuSuspect = graft.tools.CpuBand.suspect(cpuFactor, gcFactorV)
    if (cpuSuspect)
      System.err.println(f"[bench] CPU METER SUSPECT: suite cpu factor " +
        s"${cpuFactor.map(f => fmt(f)).getOrElse("n/a")} / gc factor " +
        s"${gcFactorV.map(f => fmt(f)).getOrElse("n/a")} outside " +
        s"[${graft.tools.CpuBand.LowThreshold},${graft.tools.CpuBand.HighThreshold}] " +
        "(gc [0.2,5.0]) vs trailing medians — task-cpu columns in this " +
        "artifact are NOT trustworthy for bench_ab.sh adjudication")
    locally {
      val byName = results.toMap
      val lines = names.map { n =>
        val cpus = (cpuHistory.getOrElse(n, Nil) :+ byName(n)._1.cpu).takeRight(9)
        (n +: cpus.map(fmt2)).mkString(" ")
      } :+ ((graft.tools.CpuBand.GcTotalRow +:
        (cpuHistory.getOrElse(graft.tools.CpuBand.GcTotalRow, Nil) :+ gcTotalMs)
          .takeRight(9).map(v => math.round(v).toString)).mkString(" "))
      java.nio.file.Files.writeString(cpuHistPath, lines.mkString("", "\n", "\n"))
    }
    // Millisecond precision keeps the line short: the driver captures a
    // bounded stdout tail, and 60+ full-precision doubles overflowed it
    // in round 3 (parsed=null) — and the round-14 line, grown to 453
    // queries PLUS a per-query aligned diag array, overflowed it again
    // (BENCH_r14 parsed:null cost round 15 its entire PERF comparison).
    // The line now carries ONLY what the driver parses — per-query walls
    // and run totals; the full per-query 9-field attribution lives in
    // bench_diag.json (committed beside the history), keyed by name.
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + fmt(v.wall) }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1.wall).sum
    val totalCpu = results.map(_._2._1.cpu).sum
    val totalMb = results.map(_._2._1.mb).sum
    val totalGc = results.map(_._2._1.gc).sum
    // Corpus fingerprint: cross-round per-query comparisons are only
    // meaningful on the same generated corpus (the round-7 testdata
    // regeneration changed overlap-family costs 1.6×); these three
    // numbers let a later reader see a data change in the artifact
    // itself instead of inferring it from cost shifts.
    val fp = {
      import org.apache.spark.sql.functions._
      val docs = graft.util.Tables.documents(spark, sfDir)
      val distinctTokens = docs
        .select(explode_outer(graft.functions.WsTokens.ws_tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t"))).first().getLong(0)
      val nDocs = docs.count()
      val maxBucket = operators.SignatureStore.ensureMinhashBands(spark, sfDir)
        .groupBy("band", "key").count().agg(max("count")).first().getLong(0)
      s""""corpus_fp":{"n_docs":$nDocs,"distinct_tokens":$distinctTokens,"max_band_bucket":$maxBucket}"""
    }
    val rerunsJson = rerunNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full per-query attribution lives in bench_diag.json (committed
    // beside the history) — the stdout line stays inside the driver's
    // tail budget and carries only the two JVM-health gauges the r9
    // verdict asked for: CodeHeap peak usage (a peak at the reserve ⇒
    // interpreted-execution thrash explains CPU inflation) and total
    // JIT compiler-thread time.
    locally {
      val entries = results.map { case (n, (v, otherWall)) =>
        s""""$n":[${fmt(v.wall)},${fmt2(v.cpu)},${math.round(v.mb)},${v.gc},${v.buildMs},${v.jitMs},${v.ccMb},${v.buildJobs},${fmt(otherWall)}]"""
      }.mkString("{", ",", "}")
      val diagJson =
        s"""{"legend":"[wall_sec,task_cpu_sec,input_mb,gc_ms,build_ms,jit_ms,code_cache_used_mb,eager_build_jobs,wall_other_sec] per best run; build_ms = DataFrame construction (parse+analyze+store probes, driver-side); eager_build_jobs = Spark jobs submitted DURING construction (localCheckpoint pins, probe enumerations, fixpoint counts) — build_ms with eager_build_jobs>0 is executed work, build_ms with 0 is pure Catalyst/driver overhead; wall-build = optimize/plan/schedule/execute; wall_other_sec = the run best-of-2/3 DISCARDED (2nd-best wall) — [wall, wall_other] is this run's spread, the noise-vs-creep denominator graft.tools.BenchBand reads","sf":"$sfDir",${graft.tools.QuietBox.json(preflightFactors.toSeq, preflightQuiet)},${graft.tools.CpuBand.json(cpuFactor, gcFactorV)},"code_cache_peak_mb":$codeCachePeakMb,"jit_total_ms":$jitTotalMs,"queries":$entries}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_diag.json"), diagJson + "\n")
    }
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""task_cpu_sec":${fmt(totalCpu)},"input_mb":${math.round(totalMb)},"gc_ms":$totalGc,$fp,""" +
      s""""code_cache_peak_mb":$codeCachePeakMb,"jit_total_ms":$jitTotalMs,""" +
      s""""reruns":${rerunNames.size},"rerun_queries":$rerunsJson,""" +
      s""""preflight_factor":${fmt(preflightFactors.last)},"preflight_attempts":${preflightFactors.size},"preflight_quiet":$preflightQuiet,""" +
      s"""${graft.tools.CpuBand.json(cpuFactor, gcFactorV)},""" +
      s""""sf":"$sfDir","method":"best-of-2 + third run when wall > 3x trailing median (bench_history_<sf>.tsv); per-query phase/JIT/cpu/gc attribution in bench_diag.json"}"""
    // Belt and braces for the driver's parser: raw stdout (run /
    // outputStrategy = StdoutOutput strips sbt's [info] prefix) AND a
    // known file in the repo root.
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last.json"), line + "\n")
    spark.stop()
  }
}
