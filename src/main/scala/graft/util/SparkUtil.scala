package graft.util

import org.apache.spark.sql.SparkSession

/** Session defaults shared by Verify, perfbench and the tests.
  *
  * Scale posture: shuffle partitions sized to local cores (`local[n]`
  * with n = `SPARK_GRAFT_CPUS`, default 4); AQE on so skewed joins /
  * small post-shuffle partitions are re-planned at runtime, which is
  * also what we'd want on a real cluster.
  *
  * The codegen cache bound is a static conf: Spark's `CodeGenerator`
  * sizes its class cache once per JVM, from the active session's conf
  * at the first codegen. So the bound holds only when a session built
  * here is the first to run codegen in the JVM.
  */
object SparkUtil {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession.Builder =
    configure(SparkSession.builder().master(master))

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // parallelismFirst stays at its TRUE default deliberately: an r8
    // experiment with `parallelismFirst=false` cut latency-bound walls
    // (ann_pq_stored 2.2→1.3 s) but coalesced the CPU-dense mid-size
    // shuffles of the dedup/ann families onto 1-2 cores (advisory
    // 64 MB ≫ their shuffle bytes, yet their CPU is seconds) — net
    // +17 s wall / +70 s skew across the bench. Byte-based coalescing
    // only works when bytes predict CPU; these operators are
    // hash/array-heavy per byte, so parallelism must win.
    // events.parquet stores TIMESTAMP(NANOS); read as epoch-nanos Long.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Compress persisted disk blocks (localCheckpoint / DISK_ONLY
    // spill): the default leaves them raw, and a checkpointed long-key
    // candidate table is 3-5× larger raw than lz4'd — the bitext ANN
    // 100× point (200k vectors, ~350M-row shortlist build) exhausted an
    // 80 GB spill volume on raw blocks. Storage pressure, not CPU, is
    // the binding constraint for checkpoint-heavy plans at scale.
    .config("spark.rdd.compress", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)

  /** Generated classes kept, keyed by source text (Spark's default is
    * 100). One pass of perfbench's `curation_mix` queries compiles about
    * 160 classes, so under the default every pass evicted its own
    * classes and recompiled all of them through Janino. At 2 000, about
    * 12 times that working set, a repeated pass compiles next to nothing
    * (0–8 classes on a 4-core VM). A pass over the whole registry (458
    * queries at sf0.001) compiles 7 127 classes, so it misses in an LRU
    * of 2 000 and of 4 096 alike; a bound above that working set would
    * only pin more Metaspace. The bound stays finite so that a session
    * of ever-new plans cannot pin their classes without limit. */
  val CodegenCacheMaxEntries: Int = 2000

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
