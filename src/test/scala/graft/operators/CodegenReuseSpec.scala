package graft.operators

import graft.{SparkEntry, SparkFunSuite}
import graft.util.SparkUtil
import org.apache.spark.metrics.source.CodegenMetrics

/** A repeated curation query reuses its generated classes: the second
  * cycle of perfbench's `curation_mix` queries compiles next to nothing.
  * Under Spark's 100-entry default codegen cache one cycle (about 160
  * classes) evicts its own classes, so every cycle recompiles them all.
  * The compile counter is JVM-global; suites run one after another in
  * the forked test JVM, so nothing else compiles meanwhile. */
class CodegenReuseSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** The eight queries of perfbench's `curation_mix`, one per family
    * (two relational). */
  private val curationMix = Seq(
    "dedup_minhash_lsh", "decontaminate_ngram", "bpe_encode_docs", "bm25_search",
    "ann_ivf_q8", "hll_distinct_users", "q1_agg", "j13_asof_join_native")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second curation_mix cycle compiles at most a tenth of the first cycle's classes") {
    spark.conf.set("spark.graft.sigstore.root", tmpDir("codegenreuse"))
    try {
      def cycle(): Seq[(String, Long)] = curationMix.map { q =>
        val c0 = compiles
        SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
        q -> (compiles - c0)
      }
      val first = cycle()
      val second = cycle()
      val counts = s"compiles per query, cycle 1: $first; cycle 2: $second"
      info(counts)
      assert(first.map(_._2).sum > 0, counts)
      assert(second.map(_._2).sum * 10 <= first.map(_._2).sum, counts)
    } finally spark.conf.unset("spark.graft.sigstore.root")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SparkUtil.CodegenCacheMaxEntries.toString)
  }
}
