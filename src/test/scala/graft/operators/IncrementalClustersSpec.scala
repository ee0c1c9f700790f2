package graft.operators

import graft.SparkFunSuite
import graft.util.Tables
import org.apache.spark.sql.functions._

/** Incremental connected-components maintenance: ingesting a corpus in
  * ANY micro-batch split must yield cluster assignments bit-identical
  * to the one-shot batch fixpoint over the union — min-label merging is
  * associative, and the spec pins that the label-graph union-find
  * implements it exactly, including merges that join components built
  * in DIFFERENT earlier batches. */
class IncrementalClustersSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def assigns(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed ingestion in 3 batches equals the one-shot fixpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = tmpDir("incclusters")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    // interleaved thirds: near-dup families span batches, so late
    // batches MERGE components the earlier ones built separately
    val parts = (0 until 3).map(i => docs.zipWithIndex.collect {
      case (d, j) if j % 3 == i => d
    })
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.maintainClusters(
      mem.toDF.toDF("doc_id", "text"), base)
      .option("checkpointLocation", tmpDir("incclusters_ck")).start()
    try {
      parts.foreach { p => mem.addData(p: _*); q.processAllAvailable() }
    } finally q.stop()

    val allDocs = docs.toDF("doc_id", "text")
    val reference = TextQueries.clusterAssignmentsOf(
      allDocs.select("doc_id"),
      TextQueries.bandedPairs(TextQueries.minhashBandsOf(allDocs)))
    val streamed = SignatureStore.readClusters(spark, base)
    assert(assigns(streamed) == assigns(reference),
      "incremental assignments must equal the one-shot fixpoint")
    // the seal (full recompute from the maintained pair store) agrees
    SignatureStore.compactClusters(spark, base)
    assert(assigns(SignatureStore.readClusters(spark, base)) == assigns(reference))
  }

  test("a delta merging two existing components re-labels both to the min") {
    import spark.implicits._
    val base = tmpDir("incmerge")
    // plant a store with two components {1,2}->1 and {10,11}->10
    SignatureStore.publish(spark, SignatureStore.clustersDir(base) ->
      Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (99L, 99L)).toDF("doc_id", "cluster_id"))
    // one bridging pair (2, 11) merges them; endpoint 50 is brand new
    SignatureStore.updateClustersWithDelta(spark, base,
      Seq(50L).toDF("doc_id"),
      Seq((2L, 11L), (50L, 99L)).toDF("doc_a", "doc_b"))
    val got = assigns(SignatureStore.readClusters(spark, base))
    assert(got == Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L),
      (99L, 50L), (50L, 50L)),
      s"merged state wrong: $got")
  }

  test("the cluster seal heals a lost store") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = tmpDir("inccrash")
    SignatureStore.publish(spark, SignatureStore.clustersDir(base) ->
      Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("doc_id", "cluster_id"))
    // the seal can rebuild the doc universe WITHOUT the cluster store:
    // band rows + pairs are the durable roll-call
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (7L, "totally unrelated content words seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    SignatureStore.publish(spark, SignatureStore.minhashDir(base) -> TextQueries.minhashBandsOf(docs))
    SignatureStore.publish(spark, SignatureStore.pairsDir(base, "k8") ->
      TextQueries.bandedPairs(SignatureStore.readMinhashBands(spark, base)))
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(SignatureStore.clustersDir(base)), true) // total loss
    SignatureStore.compactClusters(spark, base)
    val healed = assigns(SignatureStore.readClusters(spark, base))
    assert(healed == Set((1L, 1L), (2L, 1L), (7L, 7L)),
      s"seal must re-derive every banded doc, got $healed")
  }

  test("replaying the same delta is a no-op") {
    import spark.implicits._
    val base = tmpDir("increplay")
    SignatureStore.publish(spark, SignatureStore.clustersDir(base) ->
      Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "cluster_id"))
    val delta = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    SignatureStore.updateClustersWithDelta(spark, base, Seq.empty[Long].toDF("doc_id"), delta)
    val once = assigns(SignatureStore.readClusters(spark, base))
    SignatureStore.updateClustersWithDelta(spark, base, Seq.empty[Long].toDF("doc_id"), delta)
    val twice = assigns(SignatureStore.readClusters(spark, base))
    assert(once == Set((1L, 1L), (2L, 1L)) && twice == once)
  }
}
