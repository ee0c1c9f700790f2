package graft.io

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the scale-critical paths: these are the
  * properties that keep the engine viable at 100 TB, so they are pinned
  * by test, not just by inspection.
  */
class PlanAssertSpec extends SparkFunSuite {

  lazy val storeDir: String = {
    val grdDir = Fixtures.writeGrdStack(spark, tmpDir("planassert"))
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val dir = tmpDir("planstore")
    CubeWriter.write(cube, dir)
    dir
  }

  /** A signature-store root longer than the 100 characters of a scan's
    * location that Spark prints: the store-face tests run under it, so
    * they can find a face only by its scan's root path. */
  private lazy val longStoreRoot: String = {
    val root = tmpDir("longroot") + "/a-store-root-longer-than-a-printed-scan-location" * 2
    assert(root.length >= 120, root)
    root
  }

  /** The root paths of every file scan in `df`'s physical plan, adaptive
    * stages and subqueries included. */
  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }

  /** A store-face test run under [[longStoreRoot]]. */
  private def storeTest(name: String)(body: => Unit): Unit =
    test(name)(withStoreRoot(longStoreRoot)(body))

  test("point query on a stored cube prunes band partitions and pushes pixel filters") {
    val cube = CubeReader.load(spark, storeDir)
    val q = cube.pixels
      .filter(col("band_index") === 1 && col("azimuth") === 3 && col("range") === 4)
    val plan = q.queryExecution.executedPlan.toString
    // band_index is a partition column: the scan must carry a partition
    // filter (only band_index=1 directories are read)…
    assert(plan.contains("PartitionFilters") && plan.contains("band_index"),
      s"expected band-partition pruning:\n$plan")
    // …and azimuth/range predicates must reach the parquet reader.
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(azimuth,3)"),
      s"expected pushed pixel filters:\n$plan")
    assert(q.count() == 1)
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val cube = CubeReader.load(spark, storeDir)
    val q = cube.pixels.select("azimuth", "intensity")
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.exists(s => s.contains("azimuth") && s.contains("intensity")
      && !s.contains("range")), s"expected pruned read schema, got $readSchema:\n$plan")
  }

  test("cube build band-tagging joins broadcast (pixels never shuffle)") {
    val grdDir = Fixtures.writeGrdStack(spark, tmpDir("planbuild"))
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val plan = cube.pixels.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"band tagging must broadcast the layer table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"pixel-side sort-merge join would shuffle the pixel table:\n$plan")
  }

  test("a cube build tags pixels with one broadcast join, for every payload source") {
    Seq(Fixtures.writeGrdStack(spark, tmpDir("onejoinjson")), Fixtures.writeTiffStack(tmpDir("onejointif")),
        Fixtures.writeH5Stack(tmpDir("onejoinh5"))).foreach { dir =>
      val plan = Cube.fromDirectory(spark, dir, CubeConfig()).pixels.queryExecution.sparkPlan
      val joins = plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName }
      assert(joins == Seq("BroadcastHashJoin"), s"$dir:\n$plan")
    }
  }

  test("corpus_curation prefix sum never uses a single-partition window") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("corpus_curation").build(spark, sfDir)
    val globalWindows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"distributed prefix sum must not move all rows to one task:\n${q.queryExecution.sparkPlan}")
    assert(q.count() > 0)
  }

  test("shuffle_order global permutation never uses a single-partition window") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("shuffle_order").build(spark, sfDir)
    val globalWindows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"the epoch shuffle must not funnel the corpus through one task:\n${q.queryExecution.sparkPlan}")
    // the permutation is a bijection onto 1..N
    val positions = q.select("position").collect().map(_.getLong(0)).sorted
    assert(positions.toSeq == (1L to positions.length).toSeq)
  }

  test("dedup_lines first-occurrence window shuffles the 32-byte fingerprint, not line text") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("dedup_lines").build(spark, sfDir)
    val windows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "dedup_lines must use a window for first occurrence")
    windows.foreach { w =>
      val keys = w.partitionSpec.map(_.toString).mkString(",")
      assert(keys.contains("line_fp"),
        s"the window must partition by the md5 fingerprint, got: $keys")
      assert(!keys.matches(".*\\bline#.*"),
        s"the window must NOT shuffle the raw line string, got: $keys")
    }
    assert(q.count() > 0)
  }

  storeTest("bm25_search_stored scans corpus text only for the bounded query side") {
    val sfDir = "/root/testdata/sf0.001"
    // NOTE: bm25Rank localCheckpoints the pruned postings sliver eagerly,
    // so the plan below is the post-checkpoint remainder — which is
    // exactly the surface the contract governs: the stored path's only
    // visible documents scan is the bounded query side (stats come from
    // the doclens artifact), while the live path's stats aggregate scans
    // documents again.
    val stored = graft.operators.SearchQueries.defs("bm25_search_stored")
      .build(spark, sfDir)
    val storedPlan = stored.queryExecution.executedPlan.toString
    val storedDocScans = "documents\\.parquet".r.findAllIn(storedPlan).size
    assert(storedDocScans == 1,
      s"stored path must scan documents once (query side only):\n$storedPlan")
    assert(scanRoots(stored).exists(_.contains("bm25_doclens")),
      s"stored stats must come from the doclens artifact:\n$storedPlan")
    val live = graft.operators.SearchQueries.defs("bm25_search")
      .build(spark, sfDir)
    val livePlan = live.queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(livePlan).size >= 2,
      s"live path re-tokenizes the corpus by design:\n$livePlan")
    assert(stored.collect().sameElements(live.collect()),
      "stored and live BM25 must be bit-identical")
  }

  test("j7_star_join broadcasts every dimension; only the fact join shuffles") {
    val sfDir = "/root/testdata/sf0.001"
    val plan = graft.SparkEntry.queries("j7_star_join")(spark, sfDir)
      .queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val broadcasts = joins.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    // 5 joins total (region→nation, nation→supplier, orders⋈lineitem,
    // customer, supplier); the four dimension joins must broadcast (at
    // tiny SF the planner may legitimately broadcast the fact join too)
    assert(joins.length == 5, s"expected 5 joins:\n$plan")
    assert(broadcasts >= 4,
      s"dimension joins must broadcast (got $broadcasts of ${joins.length}):\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      s"no cartesian product anywhere:\n$plan")
  }

  test("chunk_documents and mm_frame_sample stay map-only (no join, no aggregate)") {
    val sfDir = "/root/testdata/sf0.001"
    for (n <- Seq("chunk_documents", "mm_frame_sample")) {
      val plan = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.sparkPlan
      val aggs = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(aggs.isEmpty && joins.isEmpty,
        s"$n must be a pure map stage (explode + projection):\n$plan")
    }
  }

  test("tokenizer encode faces: one exchange (the per-doc aggregate), no join, no window") {
    // the 100 TB claim for both subword encoders is "stateless
    // projection pipelined into the corpus scan" — the trained model
    // rides the plan as a literal, so the ONLY shuffle is the per-doc
    // count aggregate, and nothing joins or windows
    val sfDir = "/root/testdata/sf0.001"
    for (n <- Seq("bpe_encode_docs", "unigram_encode_docs",
        "bpe_encode_docs_stored", "unigram_encode_docs_stored")) {
      val plan = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.sparkPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(joins.isEmpty && windows.isEmpty,
        s"$n must not join or window — the model is a plan literal:\n$plan")
      // per-doc aggregate + the final ORDER BY's range exchange
      assert(exchanges.size <= 2, s"$n shuffles more than agg+sort:\n$plan")
    }
  }

  test("ann_ivf centroid assignment is a hash aggregate, not a window sort") {
    val sfDir = "/root/testdata/sf0.001"
    val e = graft.util.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val centroids = e.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val queries = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val q = graft.operators.VectorQueries.ivfTopK(e, centroids, queries, nprobe = 2, k = 3)
    val plan = q.queryExecution.sparkPlan
    // windows remain only on per-query stages (partitioned by qid);
    // the corpus-sized assignment stage must be an aggregate
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty), s"global window in IVF plan:\n$plan")
    val hasAgg = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.name == "vec_id") => a
    }
    assert(hasAgg.nonEmpty, s"expected max_by hash aggregate on vec_id:\n$plan")
  }

  test("sample_fixed_stratum gets a map-side per-group limit below the shuffle") {
    // The rank filter directly atop the window must trigger
    // InferWindowGroupLimit: each task then forwards at most n rows per
    // stratum, so few-strata skew cannot funnel the corpus through the
    // per-lang window tasks.
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("sample_fixed_stratum").build(spark, sfDir)
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("WindowGroupLimit"),
      s"expected a WindowGroupLimit (map-side top-n per stratum):\n$planStr")
    assert(q.count() > 0)
  }

  test("vocab_topk is windowless: heap top-K + partition-local rank") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("vocab_topk").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    // the corpus-scale stage is the hash aggregate; a TakeOrdered caps
    // the result at K, and the rank is a sort + row offset within that
    // single bounded partition — no WindowExec anywhere in the plan
    val planStr = plan.toString
    assert(planStr.contains("TakeOrderedAndProject"),
      s"top-K must be a heap take, not a full sort:\n$planStr")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"rank must not need a window:\n$planStr")
  }

  test("dedup_incremental signs only the new batch — the store side is a parquet read") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("dedup_incremental").build(spark, sfDir)
    // count SCAN OPERATORS in the tree (a string count would also hit
    // the dynamic-partition-pruning subquery, which reuses the probe
    // broadcast at runtime rather than re-scanning)
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    val paths = scans(q.queryExecution.sparkPlan)
    assert(paths.count(_.contains("documents.parquet")) == 1,
      s"expected exactly one documents scan (the new batch); got:\n${paths.mkString("\n")}")
    assert(paths.count(_.contains("minhash_bands")) >= 1,
      s"store side must read persisted bands:\n${paths.mkString("\n")}")
    assert(q.count() > 0)
  }

  test("j5 as-of join is one partitioned window pass — no per-row probe join") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j5_asof_join").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"as-of must be a user-partitioned window, got:\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("BroadcastNestedLoopJoin") && !planStr.contains("CartesianProduct"),
      s"as-of must not degenerate to a nested-loop join:\n$planStr")
  }

  test("j6 range join runs as an equi-join on (user, bucket), never a nested loop") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j6_range_join").build(spark, sfDir)
    val planStr = q.queryExecution.sparkPlan.toString
    assert(!planStr.contains("BroadcastNestedLoopJoin") && !planStr.contains("CartesianProduct"),
      s"band join must stay an equi-join:\n$planStr")
    assert(planStr.contains("Join") && planStr.contains("bkt"),
      s"expected the bucket equi-join:\n$planStr")
  }

  test("kmeans_iterate: assignment and mean are hash aggregates (no corpus-wide window)") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.VectorQueries.defs("kmeans_iterate").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"global window in kmeans plan:\n$plan")
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.exists(_.groupingExpressions.exists(_.name == "vec_id")),
      s"expected max_by assignment aggregate:\n$plan")
    assert(aggs.exists(_.groupingExpressions.exists(_.name == "pos0")),
      s"expected per-dimension mean aggregate:\n$plan")
  }

  test("corpus_pipeline_full: no global window, no nested loop anywhere in the DAG") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("corpus_pipeline_full").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"global window in the pipeline plan:\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("BroadcastNestedLoopJoin") && !planStr.contains("CartesianProduct"),
      s"pipeline must stay on hash/broadcast joins:\n$planStr")
  }

  test("gopher_rules is a pure map stage: the whole rule battery runs in the scan") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("gopher_rules").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(aggs.isEmpty && joins.isEmpty,
      s"all five rules must be per-row projections (no shuffle before the sort):\n$plan")
    assert(q.count() > 0)
  }

  test("importance_weights joins its 1024-slot frequency tables by broadcast only") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("importance_weights").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"the bounded bucket tables must broadcast — the token stream never shuffles by token:\n$plan")
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"no global window in the scoring plan:\n$plan")
  }

  test("dedup_keep_best picks per cluster with a keyed window over the persisted store") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("dedup_keep_best").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"the argmax must be cluster-keyed, never a global sort:\n$plan")
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scans(plan).exists(_.contains("clusters")),
      s"cluster assignments must come from the persisted store:\n${scans(plan).mkString("\n")}")
  }

  test("semantic_outliers and label_noise_audit: broadcast-only joins, keyed windows") {
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("semantic_outliers", "label_noise_audit")) {
      val q = graft.operators.VectorQueries.defs(name).build(spark, sfDir)
      val plan = q.queryExecution.sparkPlan
      // the corpus-sided own⋈nearest-other join keys on vec_id (a
      // co-partitioned id join — sort-merge is the right call at scale);
      // every OTHER join carries a taxonomy-bounded centroid side and
      // must broadcast
      val badSortMerge = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if !j.leftKeys.exists(_.references.exists(_.name == "vec_id")) => j
      }
      assert(badSortMerge.isEmpty,
        s"$name: the centroid side is taxonomy-bounded — those joins must broadcast:\n$plan")
      val globalWindows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$name: the bottom-k must be keyed (or TakeOrdered), never a global window:\n$plan")
    }
  }

  test("length_quality_spearman ranks with source-keyed windows only") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("length_quality_spearman").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"both rank windows must partition by source — never a global sort:\n$plan")
  }

  test("boilerplate_report shuffles fingerprints only and never broadcasts the fp set") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("boilerplate_report").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"no global window in the report plan:\n$plan")
    // the raw `line` string must never be a shuffle key — only its md5
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.outputPartitioning.toString
    }
    assert(exchanges.forall(!_.contains("line#")),
      s"shuffle keys must be fingerprints, not line text: ${exchanges.mkString(" | ")}")
  }

  test("ann_pq_adc: codebook/table joins broadcast; no sort-merge on the (m, code) keys") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.PqQueries.defs("ann_pq_adc").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    // the ADC candidate join (codes ⋈ query distance table on m, code)
    // must be a broadcast hash join: the corpus-cardinality code stream
    // never shuffles on the 128-key (m, code) space
    assert(bhj.exists(j => j.leftKeys.map(_.toString).mkString(",").contains("m#")
      || j.rightKeys.map(_.toString).mkString(",").contains("m#")),
      s"expected the (m, code) joins to broadcast:\n$plan")
    val smjOnCode = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.leftKeys.map(_.toString).exists(_.startsWith("m#")) => j
    }
    assert(smjOnCode.isEmpty,
      s"a sort-merge join on (m, code) would shuffle the code table onto 128 keys:\n$plan")
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"shortlist/top-k windows must be qid-keyed:\n$plan")
  }

  test("mmr_rerank shortlist broadcasts the query side, never a cartesian product") {
    val sfDir = "/root/testdata/sf0.001"
    import graft.operators.RerankQueries
    val e = graft.util.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < RerankQueries.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cand = RerankQueries.bruteShortlist(e, queries)
    val plan = cand.queryExecution.sparkPlan
    assert(plan.toString.contains("BroadcastNestedLoopJoin"),
      s"the bounded query set must broadcast over the streaming corpus:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      s"a cartesian product would shuffle the corpus against itself:\n$plan")
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"shortlist top-N must be qid-keyed:\n$plan")
  }

  test("key_skew_report is two bare aggregates: no join, no window, exact bounds hold") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.DriftQueries.defs("key_skew_report").build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"the skew rollup must not join anything:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window — the rollup is map-side-combinable aggregation:\n$plan")
    // max ≥ mean ⇒ skew_x1e6 ≥ 1e6 (floor can land exactly on 1e6);
    // a single key can at most own the whole type ⇒ share ≤ 1e6
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(5) >= 999999L && r.getLong(4) <= 1000000L),
      rows.mkString("; "))
  }

  test("source_length_drift emits a bounded grid with tv2 in [0, 2e6]") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.DriftQueries.defs("source_length_drift").build(spark, sfDir)
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 2000000L),
      rows.mkString("; "))
    val globalWindows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("q3_unshipped_topk: heap-bounded top-k, date filters pushed to the scans") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q3_unshipped_topk").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a per-partition heap, not a global sort:\n$plan")
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThan(l_shipdate") || plan.contains("l_shipdate")),
      s"the shipdate predicate must reach the lineitem scan:\n$plan")
    assert(q.count() > 0)
  }

  storeTest("phrase_search_stored probes the bigram registry, never re-tokenizes corpus") {
    val sfDir = "/root/testdata/sf0.001"
    val stored = graft.operators.SearchQueries.defs("phrase_search_stored")
      .build(spark, sfDir)
    val plan = stored.queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans == 1,
      s"stored path must scan documents once (the bounded phrase side only):\n$plan")
    assert(scanRoots(stored).exists(_.contains("phrase_bigrams")),
      s"corpus bigrams must come from the persisted registry:\n$plan")
    val live = graft.operators.SearchQueries.defs("phrase_search").build(spark, sfDir)
    val livePlan = live.queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(livePlan).size >= 2,
      s"live path runs the positional pass over corpus text by design:\n$livePlan")
  }

  test("q10_returned_topk: heap top-k, pushed predicates, no forced broadcasts") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q10_returned_topk").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a per-partition heap, not a global sort:\n$plan")
    assert(plan.contains("l_returnflag"),
      s"the returnflag predicate must reach the lineitem scan:\n$plan")
    assert(plan.contains("o_orderdate"),
      s"the date-window predicate must reach the orders scan:\n$plan")
    // the logical plan must carry no broadcast hints: scale sides are
    // AQE's runtime call, not the query author's
    val logical = q.queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"),
      s"q10 must not force any broadcast:\n$logical")
    assert(q.count() > 0)
  }

  test("kmv_merge_shingles: both k-th mins are TakeOrdered heaps, not global sorts") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.SketchQueries.defs("kmv_merge_shingles").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"merged and direct k-th mins must both be per-partition heaps:\n$plan")
    val row = q.collect().head
    assert(row.getAs[Long]("merge_exact") == 1L,
      "the KMV merge law must hold bit-for-bit on real data")
  }

  test("bm25_prf_expansion: both rounds read the postings store, corpus text untouched") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.SearchQueries.defs("bm25_prf_expansion").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the bounded query side AND the pruned postings slivers are pinned
    // during build (bm25Rank checkpoints eagerly), so the final plan
    // touches NO document text at all; the postings artifact's on-disk
    // presence proves both rounds read the store, not the corpus
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans == 0,
      s"PRF's final plan must not rescan documents (query side is pinned):\n$plan")
    val base = graft.operators.SignatureStore.defaultBase(spark, sfDir)
    val marker = new org.apache.hadoop.fs.Path(
      s"${graft.operators.SignatureStore.bm25PostingsDir(base)}/_manifest.json")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker), "the postings artifact must exist after the build")
    assert(q.count() > 0)
  }

  test("q2_min_cost_supplier decorrelates to one window pass over one fact scan") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q2_min_cost_supplier")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the textbook form re-joins the supply aggregate against its own
    // min — two fact-derived shuffles and a join; the decorrelated form
    // must read lineitem ONCE and take the per-part min as a window
    assert("lineitem\\.parquet".r.findAllIn(plan).size == 1,
      s"Q2 shape must not rescan the fact table for the min:\n$plan")
    val windows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1 && windows.head.partitionSpec.nonEmpty,
      s"expected exactly one keyed window (the per-part min):\n$plan")
    assert(q.count() > 0)
  }

  test("q11_value_concentration derives the total from the aggregate, not a rescan") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q11_value_concentration")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert("lineitem\\.parquet".r.findAllIn(plan).size <= 2,
      s"the global total must fold from the per-part aggregate:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row scalar side must broadcast:\n$plan")
    assert(q.count() > 0)
  }

  test("q16_supplier_variety: anti-join blocklist + two-stage distinct count") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q16_supplier_variety")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"the supplier blocklist must be a left-anti join:\n$plan")
    // COUNT(DISTINCT) must run as the partial-distinct aggregate pair,
    // never a single-task collapse
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"count-distinct must partial-aggregate:\n$plan")
    assert(q.count() > 0)
  }

  test("q19_banded_revenue: disjunction envelopes reach BOTH scans") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q19_banded_revenue")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("l_quantity"),
      s"the quantity envelope must reach the lineitem scan:\n$plan")
    assert(plan.contains("p_brand") && plan.contains("p_size"),
      s"the brand/size envelopes must reach the part scan:\n$plan")
    assert(q.count() == 1)
  }

  test("o10/a8: every ranking and cohort window is keyed (no global window)") {
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("o10_window_ranks", "a8_cohort_matrix")) {
      val q = graft.operators.RelationalQueries.defs(name).build(spark, sfDir)
      val globalWindows = q.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty, s"$name must not use a single-partition window")
      assert(q.count() > 0, name)
    }
    // cohort ages are non-negative by construction (first week is min)
    val m = graft.operators.RelationalQueries.defs("a8_cohort_matrix")
      .build(spark, sfDir).collect()
    assert(m.forall(_.getAs[Long]("age_wk") >= 0L))
  }

  test("j10 interval-overlap join runs bucketed — no nested loop, no cartesian") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j10_interval_overlap")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the no-equi-key overlap join must run on the manufactured bucket key:\n$plan")
    assert(q.count() > 0)
  }

  test("q20 decorrelates the per-part total: one lineitem scan, no join-back") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("q20_dominant_stockists")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert("lineitem\\.parquet".r.findAllIn(plan).size == 1,
      s"the correlated threshold must be a window, not a re-scan:\n$plan")
    assert(q.count() > 0)
  }

  test("embedding_pca_power: covariance is join-free; iterations never sort-merge") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.VectorQueries.defs("embedding_pca_power")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"every join is D-row sized and must broadcast:\n$plan")
    val rows = q.collect()
    assert(rows.length == 16)
    // the reported direction is max-normalized: some |component| = 1000
    assert(rows.map(r => math.abs(r.getAs[Long]("pc1_milli"))).max == 1000L)
  }

  test("j11 naive band join is auto-rewritten onto the bucket key by the rule") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j11_band_join_auto")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("band_bucket"),
      s"BandJoinRewrite must have fired on the declarative form:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"the naive band join must not plan a nested loop:\n$plan")
    assert(q.count() > 0)
  }

  test("j16 naive abs-band join is auto-rewritten onto the bucket key") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j16_abs_band_auto")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("band_bucket"),
      s"the symmetric spelling must rewrite:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"no nested loop allowed:\n$plan")
    assert(q.count() > 0)
  }

  test("o13 grouped top-k partial-aggregates below the exchange (no window, no global sort)") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("o13_grouped_topk_agg")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the typed Aggregator plans as ObjectHashAggregate/SortAggregate
    // pairs (partial + final): each map task reduces to <= k rows per
    // group before the exchange
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected a typed-aggregate pair:\n$plan")
    assert(!plan.contains("Window"),
      s"grouped top-k must not fall back to a window sort:\n$plan")
    assert(q.count() > 0)
  }

  storeTest("bool_search_and_stored intersects the postings artifact, never re-tokenizing corpus") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.SearchQueries.defs("bool_search_and_stored")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(scanRoots(q).exists(_.contains("bm25_postings")),
      s"stored conjunctive search must read the postings store:\n$plan")
    // exactly one documents scan (the bounded query side); the corpus
    // text is served by the artifact
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans <= 1, s"expected <=1 documents scan, got $docScans:\n$plan")
    assert(q.count() > 0)
  }

  test("j14 interval-dim join broadcasts the 8-row campaign table (no fact shuffle for the join)") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j14_campaign_windows")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // a constant-size interval dim is the one case where the nested
    // loop IS the right plan — the build side is 8 rows
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast nested loop against the campaign dim:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the fact side must not shuffle for the join:\n$plan")
    assert(q.count() == 8)
  }

  test("a filtered dim join against a partitioned store prunes partitions dynamically (DPP)") {
    val dir = tmpDir("dppstore")
    spark.range(0, 1000)
      .selectExpr("id", "id % 20 AS band")
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/fact")
    spark.range(0, 20).selectExpr("id AS band", "id % 10 AS keep")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("keep") === 1)
    val q = fact.join(dim, Seq("band")).groupBy("band").count()
    val plan = q.queryExecution.executedPlan.toString
    // the store layouts in this repo partition by band/batch_id/day for
    // exactly this: a selective dim filter reaches the fact scan as a
    // runtime partition filter, so only matching directories are read
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the band scan:\n$plan")
    assert(q.count() == 2)
  }

  storeTest("mm_keyframe_pick_stored reads the frame-diff artifact, never re-deriving pairs") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.Multimodal.defs("mm_keyframe_pick_stored")
      .build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(scanRoots(q).exists(_.contains("frame_diffs")),
      s"stored keyframe pick must read the frame-diff store:\n$plan")
    assert(!plan.toLowerCase.contains("documents.parquet"),
      s"the stored twin must not touch document text:\n$plan")
    assert(q.count() > 0)
  }

  test("count_min_tokens is ONE corpus pass: the vocab fold scans documents, nothing after does") {
    val sfDir = "/root/testdata/sf0.001"
    // the vocab fold is the single corpus pass…
    val vocab = graft.operators.SketchQueries.tokenVocab(
      graft.util.Tables.documents(spark, sfDir))
    val vocabPlan = vocab.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(vocabPlan).size == 1,
      s"the vocab fold reads the corpus exactly once:\n$vocabPlan")
    // …and the full query's final plan reads NO parquet at all: the
    // cells and the exact audit both consume the checkpointed vocab
    val q = graft.operators.SketchQueries.defs("count_min_tokens").build(spark, sfDir)
    val finalPlan = q.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("FileScan parquet"),
      s"post-vocab stages must never re-read the corpus:\n$finalPlan")
    assert(q.count() > 0)
  }

  storeTest("count_min_serve reads the cell store only — zero corpus bytes in the plan") {
    val sfDir = "/root/testdata/sf0.001"
    graft.operators.SignatureStore.ensureCountMin(spark, sfDir).count() // build once
    val q = graft.operators.SketchQueries.defs("count_min_serve").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"serving from the sketch must never scan the corpus:\n$plan")
    assert(scanRoots(q).exists(_.contains("count_min")),
      s"expected the cell-store read in the plan:\n$plan")
    assert(q.count() == 5)
  }

  test("j20: Bloom gate broadcasts feed the probe below the exact merge join") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("j20_bloom_semi_reduction")
      .build(spark, sfDir)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // the exact semi join must stay shuffle-shaped (the at-scale form —
    // a broadcast here would make the Bloom gate pointless)
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftSemi"),
      s"exact semi join must be an SMJ:\n$plan")
    // both salted word-table gates execute as broadcast joins (they are
    // the pre-exchange reduction; 16 words, never a shuffle)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected two broadcast Bloom-word gates:\n$plan")
  }

  storeTest("hll_serve reads the register store only — zero event bytes in the plan") {
    val sfDir = "/root/testdata/sf0.001"
    graft.operators.SignatureStore.ensureHll(spark, sfDir).count() // build once
    val q = graft.operators.SketchQueries.defs("hll_serve").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"),
      s"serving distinct counts from the registers must never scan events:\n$plan")
    assert(scanRoots(q).exists(_.contains("hll")),
      s"expected the register-store read in the plan:\n$plan")
    assert(q.count() == 5)
  }

  storeTest("quantile_bins_serve reads the bin store only — zero corpus bytes in the plan") {
    val sfDir = "/root/testdata/sf0.001"
    graft.operators.SignatureStore.ensureQuantileBins(spark, sfDir).count() // build once
    val q = graft.operators.SketchQueries.defs("quantile_bins_serve").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"serving percentiles from the bins must never scan the corpus:\n$plan")
    assert(scanRoots(q).exists(_.contains("quantile_bins")),
      s"expected the bin-store read in the plan:\n$plan")
    assert(q.count() > 0)
  }

  test("kmv_jaccard_sources: nested loops only pair aggregated sources, never member streams") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.SketchQueries.defs("kmv_jaccard_sources").build(spark, sfDir)
    // the s1<s2 pair table is a legitimate (taxonomy²) cross join; the
    // pair×member marking must stay equi — so every nested-loop node
    // may only see DISTINCT-aggregated source lists on both sides,
    // never a raw member/hash stream
    val bnl = q.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, "expected the pairs cross join to exist")
    bnl.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        val aggs = side.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(aggs.nonEmpty,
          s"nested-loop input is not aggregate-bounded:\n$side")
      }
    }
  }

  storeTest("heavy_hitters_serve reads the MG summary store only — zero corpus bytes in the plan") {
    val sfDir = "/root/testdata/sf0.001"
    val (c, _) = graft.operators.SignatureStore.ensureHeavyHitters(spark, sfDir)
    c.count() // build once
    val q = graft.operators.SketchQueries.defs("heavy_hitters_serve").build(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"serving heavy hitters from the summaries must never scan the corpus:\n$plan")
    assert(scanRoots(q).exists(_.contains("mg_counters")),
      s"expected the counter-store read in the plan:\n$plan")
    assert(q.count() > 0)
  }

  test("u5_scd2_intervals: both window passes share one user-keyed exchange and sort") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.RelationalQueries.defs("u5_scd2_intervals").build(spark, sfDir)
    q.collect() // materialize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // one hash exchange + sort for the user-keyed windows, one range
    // exchange + sort for the presentation orderBy — a second
    // window-induced shuffle or sort would break the single-pass claim
    def count(marker: String) = marker.r.findAllIn(plan).size
    assert(count("""\bExchange (hash|range)partitioning""") == 2,
      s"expected 2 exchanges (window + output sort):\n$plan")
    assert(count("""\bSort \[""") == 2,
      s"expected 2 sorts (window + presentation):\n$plan")
  }

  test("sample_weighted_systematic: prefix sum is the two-pass scaffold, no global window") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.CurationQueries.defs("sample_weighted_systematic").build(spark, sfDir)
    val globalWindows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"the weight prefix sum must not funnel the corpus through one task:\n${q.queryExecution.sparkPlan}")
    // Σpicks == k exactly: systematic selection drops k probes on the
    // cumulative-weight axis and each lands in exactly one interval
    assert(q.agg(org.apache.spark.sql.functions.sum("picks")).first().getLong(0) == 64L)
  }

  test("ranked evals and ABC cumulative never use a single-partition window") {
    // eval_roc_auc / eval_pr_auc / supplier_pareto_abc all need a GLOBAL
    // ordered prefix (cumulative negatives, rank+running positives,
    // cumulative revenue) — pinned here to the two-pass ranged scaffold,
    // never a partitionSpec-empty WindowExec at corpus cardinality.
    val sfDir = "/root/testdata/sf0.001"
    val defs = graft.operators.DriftQueries.defs ++
      graft.operators.RelationalQueries.defs
    for (name <- Seq("eval_roc_auc", "eval_pr_auc", "supplier_pareto_abc")) {
      val q = defs(name).build(spark, sfDir)
      val globalWindows = q.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$name must rank through rangedOffsets, not one task:\n${q.queryExecution.sparkPlan}")
      assert(q.count() > 0, name)
    }
  }

  test("cf_item_item and nb_lang_classifier plans stay free of cartesian corpus products") {
    // The CF pair explode must ride the per-order equi-join and NB's
    // test-side scoring must join the likelihood dim — a
    // CartesianProductExec anywhere means a corpus×corpus blowup at
    // scale. (The intended tiny crossJoins — language alphabet, vocab
    // size — broadcast and never plan as CartesianProduct.)
    val sfDir = "/root/testdata/sf0.001"
    val defs = graft.operators.DriftQueries.defs ++
      graft.operators.TextQueries.defs
    for (name <- Seq("cf_item_item", "nb_lang_classifier")) {
      val q = defs(name).build(spark, sfDir)
      val cartesian = q.queryExecution.sparkPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesian.isEmpty,
        s"$name must not materialize a cartesian product:\n${q.queryExecution.sparkPlan}")
      assert(q.count() > 0, name)
    }
  }

  test("blocklist_phrase_scan: one corpus scan, no containment theta-join") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.TextQueries.defs("blocklist_phrase_scan")
      .build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("documents") => s
    }
    assert(scans.size == 1,
      s"the automaton reads the corpus ONCE, got ${scans.size} scans:\n$plan")
    val nlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nlj.isEmpty,
      s"the contains() theta-join shape must not appear:\n$plan")
  }

  test("count_min_native: one corpus scan through the typed-imperative fold") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.operators.SketchQueries.defs("count_min_native")
      .build(spark, sfDir)
    val plan = q.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("documents") => s
    }
    assert(scans.size == 1,
      s"the native fold reads the corpus ONCE, got ${scans.size}:\n$plan")
    // TypedImperativeAggregate plans as ObjectHashAggregate
    assert(plan.toString.contains("ObjectHashAggregate"),
      s"expected the object-hash aggregate path:\n$plan")
  }

  test("whole-stage codegen covers the text-stats pipeline shape") {
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("token "), col("id").cast("string")).as("text"))
    val q = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      length(col("text")).as("n_chars"))
      .filter(col("n_tokens") > 0)
    // codegen stages print as "*(n)" in the simple plan string
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected a whole-stage-codegen stage:\n$plan")
  }
}
