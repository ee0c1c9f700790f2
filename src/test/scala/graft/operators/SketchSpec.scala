package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Property pins for the sketch family ([[SketchQueries]]): the Bloom
  * gate must never lose an exact contamination (false positives are
  * priced in, false negatives are a correctness bug), and the KMV
  * estimator must stay inside its theoretical error envelope
  * (σ ≈ 1/√(k−2) ≈ 12.7 % at k=64; the pin allows 3σ).
  */
class SketchSpec extends SparkFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("bloom_decontaminate candidates are a superset of the exact contaminated set") {
    val bloom = SketchQueries.defs("bloom_decontaminate").build(spark, sfDir)
    val docs = graft.util.Tables.documents(spark, sfDir)
    val exact = CurationQueries.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000),
      minShared = 20)
      .select("train_doc").distinct().collect().map(_.getLong(0)).toSet
    val cand = bloom.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(cand),
      s"false negatives: ${exact -- cand} missing from the bloom candidates")
    // and the exact_hit flag agrees with the exact computation row by row
    val flagged = bloom.filter(col("exact_hit")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == exact, s"exact_hit flags diverge: $flagged vs $exact")
  }

  test("mg summaries satisfy the merge theorem on randomized token streams") {
    import spark.implicits._
    // 30 random corpora: skewed multinomial token draws over 3 sources
    val rng = new graft.TestRng(0x509L)
    for (trial <- 1 to 30) {
      val docs = (0 until 3).flatMap { srcI =>
        val nDocs = 1 + (rng.nextLong() % 3).toInt.abs
        (0 until nDocs).map { di =>
          // Zipf-ish: token id = min of two uniforms over a small vocab
          val toks = (0 until 40).map { _ =>
            val a = (rng.nextLong() % 17).toInt.abs
            val b = (rng.nextLong() % 17).toInt.abs
            s"t${math.min(a, b)}"
          }
          ((srcI * 10 + di).toLong, s"src$srcI", toks.mkString(" "))
        }
      }.toDF("doc_id", "source", "text")
      val v = SketchQueries.sourceTokenCounts(docs)
      val (counters, lambdas) = SketchQueries.mgSummaries(v)
      val c = counters.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val lam = lambdas.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = v.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // ≤ k positive counters per source
      assert(c.keys.groupBy(_._1).values.forall(_.size <= SketchQueries.MgK))
      // never overestimate; underestimate ≤ λ; pruned tokens ≤ λ
      c.foreach { case (k @ (src, _), v0) =>
        assert(v0 >= 1 && v0 <= exact(k), s"trial $trial: $k overestimates")
        assert(exact(k) - v0 <= lam(src), s"trial $trial: $k outside λ")
      }
      exact.foreach { case (k @ (src, _), f) =>
        if (!c.contains(k)) assert(f <= lam(src), s"trial $trial: pruned $k exceeds λ")
      }
    }
  }

  test("kmv estimate stays within 3 sigma of the exact distinct count") {
    val rows = SketchQueries.defs("kmv_distinct_tokens").build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val errPpm = r.getLong(4)
      assert(errPpm <= 381000L, // 3·(1/√62) in ppm
        s"source ${r.getString(0)}: err $errPpm ppm exceeds the 3σ envelope")
      if (r.isNullAt(2)) // fewer than k distinct tokens ⇒ sketch is exact
        assert(errPpm == 0L)
    }
  }

  test("hll_distinct_users is one aggregation chain and matches the stored face row for row") {
    val live = SketchQueries.defs("hll_distinct_users").build(spark, sfDir)
    val plan = live.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, s"expected one events scan in:\n$plan")
    assert(!plan.contains("Join"), s"expected no join in:\n$plan")
    spark.conf.set("spark.graft.sigstore.root", tmpDir("hllstore"))
    try {
      val stored = SketchQueries.defs("hll_distinct_stored").build(spark, sfDir).collect().toSeq
      assert(stored.nonEmpty && live.collect().toSeq == stored)
    } finally spark.conf.unset("spark.graft.sigstore.root")
  }
}
