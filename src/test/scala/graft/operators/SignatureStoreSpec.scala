package graft.operators

import graft.SparkFunSuite
import graft.util.Tables

/** The persisted signature store must be a pure amortization: candidates
  * derived from the parquet store are bit-identical to the live
  * recompute-from-text path. */
class SignatureStoreSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("stored minhash bands reproduce the live LSH candidate pairs") {
    val docs = Tables.documents(spark, sfDir)
    val live = TextQueries.bandedPairs(TextQueries.minhashBandsOf(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live.nonEmpty, "fixture corpus must produce candidates")

    val base = tmpDir("sigstore")
    SignatureStore.write(spark, sfDir, base)
    val stored = TextQueries.bandedPairs(SignatureStore.readMinhashBands(spark, base))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == live)
  }

  test("simhash signatures roundtrip through the store") {
    val docs = Tables.documents(spark, sfDir)
    val live = TextQueries.simhashSigsOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val base = tmpDir("sigstore2")
    SignatureStore.write(spark, sfDir, base)
    val stored = SignatureStore.readSimhash(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stored == live && live.nonEmpty)
  }

  test("ensureMinhashBands is idempotent (second call is a pure read)") {
    val bands1 = SignatureStore.ensureMinhashBands(spark, sfDir).count()
    val bands2 = SignatureStore.ensureMinhashBands(spark, sfDir).count()
    assert(bands1 == bands2 && bands1 > 0)
  }

  test("event-transition store serves o6/o7 bit-identically and never rescans events") {
    for (name <- Seq("o6_transitions", "o7_top_paths")) {
      val live = RelationalQueries.defs(name).build(spark, sfDir)
      val stored = RelationalQueries.defs(name + "_stored").build(spark, sfDir)
      assert(stored.collect().sameElements(live.collect()),
        s"$name stored twin must be bit-identical to live")
      // the user-keyed lead window runs ONLY in the store build; the
      // stored plan reads the taxonomy-bounded artifact and must carry
      // neither a user_id window nor a raw events scan
      val plan = stored.queryExecution.sparkPlan
      val userWindows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.exists(_.toString.contains("user_id")) => w
      }
      assert(userWindows.isEmpty, s"$name stored plan re-windows users:\n$plan")
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.forall(
        _.metadata.get("Location").forall(_.contains("event_transitions"))),
        s"$name stored plan must scan only the transition artifact:\n$plan")
    }
  }

  test("a data-file-less stream subtree does not brick the store") {
    // Regression: a micro-batch where every doc was gated away leaves
    // minhash_bands_stream/ holding only _SUCCESS; reading it threw
    // "Unable to infer schema" and made the healthy batch subtree
    // unreadable too.
    import spark.implicits._
    val base = tmpDir("sigempty")
    val docs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    SignatureStore.publish(spark, SignatureStore.minhashDir(base) -> TextQueries.minhashBandsOf(docs))
    // empty stream write, same shape maintainSignatures produces
    TextQueries.minhashBandsOf(docs.limit(0))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id", "band")
      .parquet(SignatureStore.streamDir(SignatureStore.minhashDir(base)))
    val got = SignatureStore.readMinhashBands(spark, base)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
  }

  test("re-sent stream docs do not duplicate band rows (bucket counts stay honest)") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val base = tmpDir("sigdup")
    val docs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    SignatureStore.publish(spark, SignatureStore.minhashDir(base) -> TextQueries.minhashBandsOf(docs))
    // the same doc signed again by a stream append (different batch_id,
    // so the replay guard can't collapse it)
    TextQueries.minhashBandsOf(docs).withColumn("batch_id", lit(7L))
      .write.partitionBy("batch_id", "band")
      .parquet(SignatureStore.streamDir(SignatureStore.minhashDir(base)))
    val rows = SignatureStore.readMinhashBands(spark, base).collect()
    val live = TextQueries.minhashBandsOf(docs).count()
    assert(rows.length == live, "union must deduplicate (doc_id, band, key)")
  }

  test("canonical selection survives a cluster whose min label is outside the corpus") {
    // Regression scenario: stream-appended signatures introduce graph
    // nodes absent from `documents`; if such a node is the component
    // minimum, cluster_id must re-anchor to the min CORPUS member or the
    // canonical filter (cluster_id = doc_id) drops the whole cluster.
    // Exercised at the clusterAssignments level by planting a store
    // where doc 5 (not in the corpus slice) bridges docs of the corpus.
    import spark.implicits._
    val base = tmpDir("sigstream_canon")
    withStoreRoot(base) {
      // same text => identical minhash bands => guaranteed LSH collision
      val batchDocs = Tables.documents(spark, sfDir)
      val sb = SignatureStore.defaultBase(spark, sfDir)
      // build the batch store for the corpus, then append a stream doc
      // sharing doc 0's text signature (-5 < every corpus id)
      SignatureStore.write(spark, sfDir, sb)
      val firstText = batchDocs.orderBy("doc_id").limit(1)
        .collect().head.getAs[String]("text")
      TextQueries.minhashBandsOf(
        Seq((-5L, firstText)).toDF("doc_id", "text"))
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
        .write.partitionBy("batch_id", "band")
        .parquet(SignatureStore.streamDir(SignatureStore.minhashDir(sb)))
      val assigns = TextQueries.clusterAssignments(spark, sfDir)
      val ids = assigns.select("cluster_id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(-5L), "labels must re-anchor inside the corpus")
      // every cluster keeps exactly one canonical member
      val clusters = assigns.groupBy("cluster_id").count().count()
      val canonicals = assigns.filter(org.apache.spark.sql.functions
        .col("cluster_id") === org.apache.spark.sql.functions.col("doc_id")).count()
      assert(canonicals == clusters, "one canonical per cluster, none dropped")
    }
  }

  test("store works end-to-end through explicit file:-scheme URIs (Hadoop FS path)") {
    val schemedInput = s"file://$sfDir"
    val schemedRoot = s"file://${tmpDir("sigroot")}"
    withStoreRoot(schemedRoot) {
      // fingerprint resolves through the Hadoop FileSystem (content-based,
      // not a degenerate path-only key)
      val base = SignatureStore.defaultBase(spark, schemedInput)
      assert(base.startsWith(schemedRoot))
      val viaScheme = SignatureStore.ensureMinhashBands(spark, schemedInput)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // second call must hit the store (idempotent through the scheme too)
      val again = SignatureStore.ensureMinhashBands(spark, schemedInput)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val live = TextQueries.minhashBandsOf(Tables.documents(spark, sfDir))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(viaScheme == live && again == live && live.nonEmpty)
    }
  }

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.select("j", "slot", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("concurrent first ensureCountMin calls build the store once and all read it") {
    // four threads race the FIRST build on a fresh store root: an
    // unserialized check-then-write lets several `overwrite` jobs write
    // one directory at once, which fails or corrupts the face
    val live = cells(SketchQueries.countMinCells(
      SketchQueries.tokenVocab(Tables.documents(spark, sfDir))))
    assert(live.nonEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try withStoreRoot(tmpDir("sigrace")) {
      type Cells = Set[(Int, Long, Long)]
      val calls = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Cells] {
        def call(): Cells = cells(SignatureStore.ensureCountMin(spark, sfDir))
      }))
      calls.foreach(c => assert(c.get() == live, "every caller must read the live cells"))
    } finally pool.shutdown()
  }

  test("corpora whose path and listing strings share a 32-bit hash get different store bases") {
    import spark.implicits._
    // "Aa" and "BB" have the same String.hashCode, and so do the two
    // fingerprint strings below: same file names, sizes and mtimes
    val root = tmpDir("sigbases")
    val dirs = Seq("Aa", "BB").map(n => s"$root/$n")
    Seq((1L, "alpha")).toDF("doc_id", "text").coalesce(1).write.parquet(s"${dirs(0)}/documents.parquet")
    val copy = new java.io.File(s"${dirs(1)}/documents.parquet")
    assert(copy.mkdirs())
    new java.io.File(s"${dirs(0)}/documents.parquet").listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, copy.toPath.resolve(f.getName)))
    for (d <- dirs; f <- new java.io.File(s"$d/documents.parquet").listFiles())
      assert(f.setLastModified(1700000000000L))
    assert(s"${dirs(0)}#x".hashCode == s"${dirs(1)}#x".hashCode)
    val bases = dirs.map(SignatureStore.defaultBase(spark, _))
    assert(bases.distinct.size == 2, s"one base for two corpora: $bases")
  }
}
