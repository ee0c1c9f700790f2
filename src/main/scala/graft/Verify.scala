package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name subset (local iteration
    // only — the driver always invokes with exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.SparkUtil.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Overlap independent query dumps (guide §2.6): each query writes its
    // own directory and shares no mutable state, so a small pool lets the
    // next dump's jobs back-fill the current one's stage tails — the
    // oracle pass is the driver's verify-stage budget, and serial dumps
    // left most cores idle between tiny jobs. Results are byte-identical
    // per query; only submission order changes. Failures stay per-query.
    // Store faces are built on first use, once per directory: concurrent
    // first calls serialize on SignatureStore's build lock.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val work = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        java.util.concurrent.CompletableFuture.runAsync(() => {
          spark.sparkContext.setJobDescription(s"verify: $name")
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally spark.sparkContext.setJobDescription(null)
        }, pool)
      }
    work.foreach(_.join())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
