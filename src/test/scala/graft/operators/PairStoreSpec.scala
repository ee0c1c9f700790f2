package graft.operators

import graft.SparkFunSuite
import graft.util.Tables
import org.apache.spark.sql.functions._

/** The candidate-pair store (21st family) must be a pure amortization
  * of the banded self-join: store reads bit-identical to a live
  * enumeration, the incremental delta law exact (delta × all equals
  * the rows a full rebuild gains), replayed appends idempotent, and
  * the compaction seal equal to a from-scratch rebuild. */
class PairStoreSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("k8 and oph pair stores equal the live banded self-join") {
    val root = tmpDir("pairstore")
    withStoreRoot(root) {
      val docs = Tables.documents(spark, sfDir)
      val liveK8 = pairSet(TextQueries.bandedPairs(TextQueries.minhashBandsOf(docs)))
      val liveOph = pairSet(TextQueries.bandedPairs(TextQueries.ophBandsOf(docs)))
      assert(liveK8.nonEmpty && liveOph.nonEmpty, "fixture must produce candidates")
      assert(pairSet(SignatureStore.ensureK8Pairs(spark, sfDir)) == liveK8)
      assert(pairSet(SignatureStore.ensureOphPairs(spark, sfDir)) == liveOph)
      // idempotent: second call is a pure read with the same rows
      assert(pairSet(SignatureStore.ensureK8Pairs(spark, sfDir)) == liveK8)
    }
  }

  test("delta law: pairs(batch) ∪ deltaPairs(delta, all) = pairs(all)") {
    val docs = Tables.documents(spark, sfDir)
    val allBands = TextQueries.minhashBandsOf(docs).localCheckpoint()
    val oldBands = allBands.filter(col("doc_id") % 10 =!= 0)
    val deltaBands = allBands.filter(col("doc_id") % 10 === 0)
    val full = pairSet(TextQueries.bandedPairs(allBands))
    val old = pairSet(TextQueries.bandedPairs(oldBands))
    val delta = pairSet(TextQueries.deltaPairs(deltaBands, allBands))
    assert(old.subsetOf(full))
    assert((old ++ delta) == full,
      s"missing=${(full -- old -- delta).take(5)} extra=${(delta -- full).take(5)}")
    // every delta pair touches a delta doc
    assert(delta.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 })
  }

  test("delta law holds under the degenerate-bucket cap") {
    import spark.implicits._
    // 9 docs share one (band,key) bucket; cap 5 drops the bucket from
    // BOTH the rebuild and the delta (the guard counts over `all`)
    val all = (1L to 9L).map(i => (i, 0, 42L)).toDF("doc_id", "band", "key")
      .unionByName(Seq((1L, 1, 7L), (2L, 1, 7L)).toDF("doc_id", "band", "key"))
    val delta = all.filter(col("doc_id") <= 2)
    val full = pairSet(TextQueries.bandedPairs(all, maxBucket = 5))
    assert(full == Set((1L, 2L))) // only the small band-1 bucket survives
    val d = pairSet(TextQueries.deltaPairs(delta, all, maxBucket = 5))
    assert(d == Set((1L, 2L)), s"capped bucket must not leak pairs: $d")
  }

  test("streamed pair deltas serve through readPairs and replay idempotently") {
    val base = tmpDir("pairstream")
    val docs = Tables.documents(spark, sfDir)
    val allBands = TextQueries.minhashBandsOf(docs).localCheckpoint()
    val oldBands = allBands.filter(col("doc_id") % 10 =!= 0)
    val deltaBands = allBands.filter(col("doc_id") % 10 === 0)
    // batch face: pairs among the old docs
    SignatureStore.publish(spark, SignatureStore.pairsDir(base, "k8") -> TextQueries.bandedPairs(oldBands))
    // stream delta for epoch 3, written twice (at-least-once replay)
    SignatureStore.appendPairsDelta(spark, base, "k8", deltaBands, allBands, 3L)
    SignatureStore.appendPairsDelta(spark, base, "k8", deltaBands, allBands, 3L)
    val served = pairSet(SignatureStore.readPairs(spark, base, "k8"))
    val full = pairSet(TextQueries.bandedPairs(allBands))
    assert(served == full, "batch ∪ delta must serve the full pair set")
    // row-level: no duplicates survive the union-distinct
    val n = SignatureStore.readPairs(spark, base, "k8").count()
    assert(n == full.size)
  }

  test("compaction seal: batch subtree alone equals a fresh rebuild") {
    val root = tmpDir("paircompact")
    withStoreRoot(root) {
      val base = SignatureStore.defaultBase(spark, sfDir)
      val docs = Tables.documents(spark, sfDir)
      val allBands = TextQueries.minhashBandsOf(docs).localCheckpoint()
      // band store: full corpus; pair store: built from a PARTIAL view,
      // topped up by a stream delta (the incremental lifecycle)
      SignatureStore.publish(spark, SignatureStore.minhashDir(base) -> allBands)
      SignatureStore.publish(spark, SignatureStore.pairsDir(base, "k8") ->
        TextQueries.bandedPairs(allBands.filter(col("doc_id") % 10 =!= 0)))
      SignatureStore.appendPairsDelta(spark, base, "k8",
        allBands.filter(col("doc_id") % 10 === 0), allBands, 0L)
      SignatureStore.compactPairs(spark, base, "k8")
      // stream subtree consumed, batch face = fresh full rebuild
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        SignatureStore.streamDir(SignatureStore.pairsDir(base, "k8")))))
      val sealedOnly = pairSet(SignatureStore.readPairs(spark, base, "k8"))
      assert(sealedOnly == pairSet(TextQueries.bandedPairs(allBands)))
    }
  }

  test("maintainCandidatePairs appends bands AND pair deltas per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = tmpDir("pairmaint")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val (first, second) = docs.splitAt(docs.size / 2)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.maintainCandidatePairs(
      mem.toDF.toDF("doc_id", "text"), base)
      .option("checkpointLocation", tmpDir("pairmaint_ck")).start()
    try {
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(second: _*); q.processAllAvailable()
    } finally q.stop()
    val allBands = TextQueries.minhashBandsOf(
      docs.toDF("doc_id", "text")).localCheckpoint()
    // bands: stream subtree serves the full corpus signature set
    assert(SignatureStore.readMinhashBands(spark, base).count() == allBands.count())
    // pairs: the two deltas compose to the full self-join
    assert(pairSet(SignatureStore.readPairs(spark, base, "k8")) ==
      pairSet(TextQueries.bandedPairs(allBands)))
  }
}
