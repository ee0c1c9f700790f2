package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --traces <dir> --expected <file> [--record]
  * [--train]`.
  *
  * `--train` runs the comma-separated workloads once each on tiny inputs
  * and prints no result; the build uses it to record a class-data-sharing
  * archive.
  *
  * One client thread runs one workload as a closed loop (each request
  * starts when the previous one returned) on `local[<cores>]`. The last
  * stdout line is the result object; the lines before it are the report.
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traces: String, expected: String, record: Boolean, train: Boolean)

  def parse(args: Array[String]): Opts = {
    val (flags, pairs) = args.partition(a => a == "--record" || a == "--train")
    val kv = pairs.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("traces"), need("expected"), flags.contains("--record"), flags.contains("--train"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workloads = if (opts.train) opts.workload.split(",").toSeq else Seq(opts.workload)
    workloads.foreach(w => require(Workloads.byName.contains(w),
      s"unknown workload $w; one of ${Workloads.byName.keys.mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.util.SparkUtil.builder(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.graft.sigstore.root", s"${opts.work}/sigstore")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctxs = workloads.map(w => new Ctx(spark, opts.copy(workload = w)))
    ctxs.head.note(f"setup ${ctxs.head.sinceStartS}%8.3f s  Spark session started")
    try ctxs.foreach(c => Workloads.byName(c.opts.workload)(c))
    finally spark.stop()
    ctxs.foreach(_.printReport())
    if (!opts.train) println(ctxs.head.resultJson(ctxs.head.correct))
    sys.exit(if (ctxs.forall(_.correct)) 0 else 1)
  }
}

/** One run's state: options, failure counts, check results and the
  * metrics it reports. */
final class Ctx(val spark: SparkSession, val opts: Main.Opts) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  var attempted = 0L
  var failed = 0L
  val mismatches = ArrayBuffer.empty[String]
  /** The result object's metrics: end-to-end untraced, per-layer traced. */
  val expected: Seq[(String, String)] = if (opts.trace) Workloads.PerLayer else Workloads.EndToEnd
  private val values = LinkedHashMap.empty[String, Double]
  /** Report lines: named metrics with units and their bases. */
  val report = ArrayBuffer.empty[String]
  val heap = new HeapWatch
  val sizes: Sizes = if (opts.train) Sizes.Train else Sizes.Full

  def correct: Boolean = mismatches.isEmpty

  def check(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  /** A metric of the result object, also printed as a report line. */
  def metric(name: String, value: Double, unit: String, note: String = ""): Unit = {
    require(expected.contains(name -> unit), s"$name [$unit] is not a result metric of this run")
    values(name) = value
    line(name, value, unit, note)
  }

  def line(name: String, value: Double, unit: String, note: String = ""): Unit =
    report += f"metric $name%-36s ${Stats.fmt(value)}%14s $unit%-8s$note"

  def note(s: String): Unit = report += s

  /** Runs `f` as one attempted operation; a failure is counted and
    * yields None (a missed latency limit for the caller). */
  def attempt[T](f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
  }

  /** Setup time so far: JVM start to now. */
  def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def printReport(): Unit = {
    println(s"workload ${opts.workload} seed ${opts.seed} seconds ${opts.seconds} trace ${if (opts.trace) 1 else 0}")
    report.foreach(println)
    println(s"operations attempted $attempted failed $failed error_rate ${if (attempted == 0) 0.0 else failed.toDouble / attempted}")
    mismatches.take(20).foreach(m => println(s"MISMATCH $m"))
  }

  /** Per-layer metrics of layers the workload does not call are 0. */
  def resultJson(ok: Boolean): String = {
    val ms = expected.map { case (k, u) => s""""$k": {"value": ${Stats.json(values.getOrElse(k, 0.0))}, "unit": "$u"}""" }
    s"""{"correct": $ok, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Heap in use after each collection, and its peak over a window. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools.contains(pool) => u.getUsed
      }.sum
      if (used > peak) peak = used
    }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Starts a new window. */
  def reset(): Unit = peak = 0L

  /** Peak live heap in MB since [[reset]]; the current heap use when no
    * collection ran in the window. */
  def peakMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peak > 0) peak else now) / 1048576.0
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; failed operations enter as +Inf. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    * above it: (percentile, value). None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10)
      .map(p => (p, percentile(xs, p)))

  def fmt(v: Double): String =
    if (v.isInfinite) "inf" else if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"

  /** JSON number with all digits; an infinite latency (every sample
    * failed) becomes the largest double. */
  def json(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) java.lang.Double.MAX_VALUE.toString else v.toString
}
