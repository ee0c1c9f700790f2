package graft.operators

import graft.SparkFunSuite

/** The ranked-results store face (bm25_topk, 22nd): a pure snapshot of
  * the BM25 top-10 — store reads bit-identical to the live build, k≤10
  * prefixes exact, the refresh seal idempotent, and the eval consumers
  * actually READING the face (no postings scan in their plans). */
class RankedResultsStoreSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("qid", "doc_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("store equals the live top-10 build, and the k=5 prefix is exact") {
    val live = rows(SearchQueries.bm25TopKOf(spark, sfDir))
    assert(live.nonEmpty, "fixture must produce ranked results")
    val stored = rows(SignatureStore.ensureBm25TopK(spark, sfDir))
    assert(stored == live)
    // prefix law: rank ≤ 5 of the k=10 store = the k=5 retrieval that
    // bm25_search_stored runs live (row_number order is identical on
    // every prefix)
    val k5 = SearchQueries.defs("bm25_search_stored").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored.filter(_._3 <= 5).map(t => (t._1, t._2, t._4)) == k5)
    assert(stored.forall(_._3 >= 1) && stored.forall(_._3 <= 10))
    // per query: ranks are dense from 1
    val byQ = stored.groupBy(_._1)
    assert(byQ.values.forall(g => g.map(_._3) == (1L to g.size).toSet))
  }

  test("refresh seal: rebuild-and-swap serves the same snapshot") {
    val before = rows(SignatureStore.ensureBm25TopK(spark, sfDir))
    SignatureStore.refreshBm25TopK(spark, sfDir)
    val after = rows(SignatureStore.ensureBm25TopK(spark, sfDir))
    assert(after == before)
  }

  test("a failed refresh at any step serves the same snapshot") {
    import graft.io.RasterTestFs
    RasterTestFs.withScheme(spark) {
      withStoreRoot(s"${RasterTestFs.Scheme}://${tmpDir("topkcrash")}") {
        val before = rows(SignatureStore.ensureBm25TopK(spark, sfDir))
        RasterTestFs.resetCalls()
        SignatureStore.refreshBm25TopK(spark, sfDir)
        val calls = RasterTestFs.mutatingCalls
        assert(calls >= 3, s"$calls creates, renames and deletes")
        (1L to calls).foreach { n =>
          RasterTestFs.failOnce(n)
          scala.util.Try(SignatureStore.refreshBm25TopK(spark, sfDir))
          RasterTestFs.resetCalls()
          assert(rows(SignatureStore.ensureBm25TopK(spark, sfDir)) == before, s"a failure at mutating call $n")
        }
      }
    }
  }

  test("eval consumers read the face, never the postings store") {
    // a store root longer than the 100 characters of a scan location
    // that Spark prints: the face is found by its scan's root path
    withStoreRoot(tmpDir("longroot") + "/a-store-root-longer-than-a-printed-scan-location" * 2) {
      for (name <- Seq("search_snippet_window", "search_rank_overlap_rbo",
          "mine_hard_negatives", "hybrid_search_rrf")) {
        val df = SearchQueries.defs(name).build(spark, sfDir)
        val plan = df.queryExecution.sparkPlan
        val locs = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.mkString(",")
        }
        // snippet pins its bounded inputs with localCheckpoint (the face
        // read happens inside the pinned block, invisible to the final
        // plan); the un-pinned consumers must show the face scan itself
        if (name != "search_snippet_window")
          assert(locs.exists(_.contains("bm25_topk")),
            s"$name must read the ranked-results face:\n$plan")
        assert(!locs.exists(_.contains("bm25_postings")),
          s"$name must not re-run retrieval over the postings store:\n$plan")
      }
    }
  }
}
