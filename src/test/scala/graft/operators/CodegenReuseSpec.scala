package graft.operators

import graft.{Fixtures, SparkEntry, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import graft.io.CubeWriter
import graft.util.SparkUtil
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** A repeated curation query reuses its generated classes: the second
  * cycle of perfbench's `curation_mix` queries compiles next to nothing,
  * and a cube window read with new bounds compiles nothing at all.
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
    withStoreRoot(tmpDir("codegenreuse")) {
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
    }
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SparkUtil.CodegenCacheMaxEntries.toString)
  }

  test("a window read with new bounds and a lookup of another band compile no class") {
    // four bands, so that three lookups go to bands not read before
    val extra = Fixtures.grdProducts.head.copy(
      name = "ICEYE_GRD_54549_20210427T215124_hollow_10x10pixels_fake_3.tif",
      acquisitionEndUtc = "2021-05-10T21:51:30.025535")
    val products = Fixtures.grdProducts :+ extra
    val store = tmpDir("codegenwindow") + "/cube"
    CubeWriter.write(Cube.fromDirectory(spark,
      Fixtures.writeStack(spark, tmpDir("codegenwindowgrd"), products, slc = false), CubeConfig()), store)
    val cube = Cube.load(spark, store)
    def window(band: Int, a0: Int, r0: Int, side: Int): Array[org.apache.spark.sql.Row] =
      cube.bandValues(band).filter(col("azimuth").between(a0, a0 + side - 1) &&
        col("range").between(r0, r0 + side - 1)).collect()
    // the first window and the first lookup may compile
    assert(window(0, 0, 0, 4).length == 16)
    val first = products.head.name
    assert(cube.productValues(first).collect().length == 100)
    val c0 = compiles
    val windows = Seq((1, 2, 3, 5), (2, 5, 1, 3), (3, 6, 6, 4)).map { case (b, a0, r0, side) =>
      window(b, a0, r0, side).length -> side * side
    }
    val lookups = products.tail.map(p => cube.productValues(p.name).collect().length)
    val compiled = compiles - c0
    assert(windows.forall { case (got, want) => got == want }, s"window rows $windows")
    assert(lookups == Seq(100, 100, 100))
    assert(compiled == 0, s"$compiled classes compiled for three new windows and three lookups")
  }
}
