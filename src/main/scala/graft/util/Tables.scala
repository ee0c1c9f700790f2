package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * All loads are plain parquet scans — Catalyst pushes filters/projections
  * down to the scan, so callers should not pre-materialize anything.
  */
object Tables {

  /** Per-session memo of loaded parquet relations. Every
    * `spark.read.parquet` pays a driver round of file listing + footer
    * schema inference and allocates a fresh `LogicalRelation`; at 400+
    * queries × several tables × warmup+2 runs that re-read is the
    * single largest slice of the per-query construction floor
    * (measured: ~100 ms build for a one-table window query, r10
    * verdict #3). The testdata tables are immutable for a session's
    * lifetime, so the RESOLVED relation is safe to pin and reuse —
    * every downstream plan then analyzes on top of an
    * already-resolved subtree. Weak session keys: the memo dies with
    * the session. */
  private val tableMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, DataFrame]]())

  /** Loaded parquet at `path`, memoized per session. */
  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    val perSession = tableMemo.synchronized {
      var m = tableMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        tableMemo.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate(path, spark.read.parquet(path))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetCached(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Floor-division ns→µs over the `ts_ns` column, matching DuckDB's
    * `epoch_us(TIMESTAMP_NS)` for EVERY input. The engines' default
    * operators disagree only below the epoch: DuckDB `epoch_us` floors
    * (verified: −500 ns → −1 µs) while Spark `div` truncates toward zero
    * (−500 ns → 0 µs), so a pre-1970 sub-µs timestamp lands in different
    * hour/day buckets. `pmod` is non-negative, so `x − pmod(x, 1000)` is
    * an exact multiple of 1000 and the `div` is a true floor. Downstream
    * bucket divisions need no adjustment: DuckDB integer `//` truncates
    * toward zero exactly like Spark `div` (verified: −7 // 3 = −2), so
    * once the µs values agree the buckets agree. */
  val epochUsFloorSql = "(ts_ns - pmod(ts_ns, 1000)) div 1000"

  /** events.parquet has shipped with two physical `ts` encodings across
    * testdata generations, and this reader adapts to both so every
    * consumer sees the same two columns — `ts` (micros-precision
    * TimestampType, matching DuckDB's epoch_us exactly) and `ts_ns`
    * (epoch-nanos Long, matching DuckDB's epoch_ns exactly):
    *
    *   - TIMESTAMP(NANOS): Spark cannot read it natively;
    *     `spark.sql.legacy.parquet.nanosAsLong` (set in
    *     [[SparkUtil.configure]]) turns the column into epoch-nanos
    *     Long, and `ts` floors to micros (see [[epochUsFloorSql]]).
    *   - TIMESTAMP(MICROS): read as timestamp (NTZ when the writer
    *     didn't adjust to UTC — the session timezone is pinned UTC, so
    *     the NTZ→instant cast is value-preserving); `ts_ns` is the
    *     exact ×1000 widening, which is precisely what DuckDB's
    *     epoch_ns returns for a micros value.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr(epochUsFloorSql)))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
