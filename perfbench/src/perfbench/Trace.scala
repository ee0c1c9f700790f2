package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one span. Jobs, tasks and scans count for the
  * innermost open span only; [[Tracer.inclusive]] adds the children. */
final class Counters {
  var jobs, metaJobs, metaJobMs, tasks, cpuNs, shuffleWrite, spill = 0L
  var inBytes, inRecords, outBytes, outRecords, scanFiles, scanRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; metaJobs += o.metaJobs; metaJobMs += o.metaJobMs; tasks += o.tasks
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
    outRecords += o.outRecords; scanFiles += o.scanFiles; scanRows += o.scanRows
  }
}

/** A timed call into one layer. `readBytes` is what the process read
  * from files while the span was open, children included. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end = 0L
  var readBytes = 0L
  val c = new Counters
  def ms: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into graft, kept in memory.
  *
  * Spark work is attributed through a local property that jobs inherit:
  * the listener maps each job's stages to the span that was open when the
  * job started, and task metrics follow their stage. A job whose first
  * user frame lies in `graft.meta` is counted as planner work, which lets
  * a span around `CubeBuilder.fromFiles` separate the planner it re-runs
  * from the rest of the build. Scan counters come from the executed
  * plans of finished queries. Every span start and end drains the
  * listener bus, so events land in the span that caused them.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = null
  private var opId = 0
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long, Boolean)]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    org.apache.spark.BenchAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Starts a new operation id for the spans that follow. */
  def newOp(): Unit = opId += 1

  def span[T](name: String)(f: => T): T = {
    org.apache.spark.BenchAccess.drain(sc)
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opId, System.nanoTime())
    spans += s
    stack = s :: stack
    current = s
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    val read0 = Tracer.processReadBytes()
    try f
    finally {
      org.apache.spark.BenchAccess.drain(sc)
      s.end = System.nanoTime()
      s.readBytes = Tracer.processReadBytes() - read0
      stack = stack.tail
      current = stack.headOption.orNull
      sc.setLocalProperty(Key, prev)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(s.c)
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  // ------------------------------------------------------------ listener

  private def spanOf(p: java.util.Properties): Span =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(id => spans(id.toInt)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      e.stageIds.foreach(stageSpan.put(_, s))
      // long call site: line 0 is the Spark entry point, then user frames
      val userFrame = e.stageInfos.headOption.toSeq
        .flatMap(_.details.linesIterator.drop(1)).find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      val meta = userFrame.exists(_.startsWith("graft.meta."))
      jobStart.put(e.jobId, (s, e.time, meta))
      s.c.synchronized { s.c.jobs += 1; if (meta) s.c.metaJobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (s, t0, meta) =>
      if (meta) s.c.synchronized { s.c.metaJobMs += e.time - t0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.c.synchronized {
      s.c.tasks += 1
      s.c.cpuNs += m.executorCpuTime
      s.c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.c.inBytes += m.inputMetrics.bytesRead
      s.c.inRecords += m.inputMetrics.recordsRead
      s.c.outBytes += m.outputMetrics.bytesWritten
      s.c.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    if (s != null) {
      val scans = collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
      s.c.synchronized {
        scans.foreach { f =>
          s.c.scanFiles += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          s.c.scanRows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---------------------------------------------------------------- dump

  def dump(path: String): Unit = {
    val t0 = spans.headOption.fold(0L)(_.start)
    val lines = spans.map { s =>
      val c = s.c
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfMs(s)}%.3f,"jobs":${c.jobs},"meta_jobs":${c.metaJobs},"tasks":${c.tasks},""" +
        f""""task_cpu_ms":${c.cpuNs / 1e6}%.3f,"shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
        f""""input_bytes":${c.inBytes},"input_records":${c.inRecords},"output_bytes":${c.outBytes},""" +
        f""""scan_files":${c.scanFiles},"scan_rows":${c.scanRows},"read_bytes":${s.readBytes}}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Bytes this process read through read(2) so far (`rchar` of
    * /proc/self/io); 0 where the file does not exist. */
  def processReadBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().find(_.startsWith("rchar:")).fold(0L)(_.drop(6).trim.toLong)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }
}
