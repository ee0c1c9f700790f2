package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** The trained-tokenizer artifact stores: sealed once, pure reads after,
  * stored encode ≡ live encode bit-for-bit. */
class TokenizerStoreSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def manifestMtime(dir: String): Long =
    new java.io.File(s"$dir/_manifest.json").lastModified()

  test("bpe merge store seals once; stored encode equals live encode") {
    val base = SignatureStore.defaultBase(spark, sf)
    val first = SignatureStore.ensureBpeMerges(spark, sf).collect()
    assert(first.length == 8) // K merges
    val m1 = manifestMtime(SignatureStore.bpeMergesDir(base))
    assert(m1 > 0)
    // second ensure is a pure read — the seal is never rewritten
    val second = SignatureStore.ensureBpeMerges(spark, sf).collect()
    assert(manifestMtime(SignatureStore.bpeMergesDir(base)) == m1)
    assert(first.map(_.toString).sorted.sameElements(second.map(_.toString).sorted))
    // stored face ≡ live face, row for row
    val live = BpeQueries.defs("bpe_encode_docs").build(spark, sf).collect()
    val stored = BpeQueries.defs("bpe_encode_docs_stored").build(spark, sf).collect()
    assert(live.map(_.toString).toSeq == stored.map(_.toString).toSeq)
  }

  test("unigram model store seals once; stored encode equals live encode") {
    val base = SignatureStore.defaultBase(spark, sf)
    val first = SignatureStore.ensureUnigramModel(spark, sf).collect()
    assert(first.nonEmpty)
    val m1 = manifestMtime(SignatureStore.unigramModelDir(base))
    assert(m1 > 0)
    SignatureStore.ensureUnigramModel(spark, sf).collect()
    assert(manifestMtime(SignatureStore.unigramModelDir(base)) == m1)
    val live = UnigramQueries.defs("unigram_encode_docs").build(spark, sf).collect()
    val stored = UnigramQueries.defs("unigram_encode_docs_stored").build(spark, sf).collect()
    assert(live.map(_.toString).toSeq == stored.map(_.toString).toSeq)
    // the stored model round-trips into an identical Model (scores and
    // fallback re-derive from counts deterministically): its vocab
    // matches the live face's vocab table exactly
    val vocab = UnigramQueries.defs("unigram_train_vocab").build(spark, sf).collect()
    assert(first.map(_.toString).sorted.sameElements(vocab.map(_.toString).sorted))
  }

  test("crash window: a partial write without its seal marker is rebuilt, not served") {
    import spark.implicits._
    // fresh corpus → fresh store base (defaultBase fingerprints the
    // documents listing), so this test owns the whole seal lifecycle
    val dir = tmpDir("tokstore_crash")
    // rich enough for K=8 merges (the BpeSpec training corpus shape)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++ Seq.fill(6)("newest")
    Seq((1L, words.mkString(" ")), (2L, "lowest newer"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = SignatureStore.defaultBase(spark, dir)
    val storeDir = new java.io.File(SignatureStore.bpeMergesDir(base))
    // simulate a write that crashed after some data but before the
    // manifest: a stage of garbage parquet bytes, NO _manifest.json
    val orphan = new java.io.File(storeDir, "batch-orphan")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-corrupt.parquet"),
      Array[Byte](1, 2, 3))
    assert(!new java.io.File(storeDir, "_manifest.json").exists())
    // ensure must REBUILD into a fresh stage, and the publish removes
    // the orphan; the rebuilt artifact encodes identically to live
    // training
    val merges = BpeQueries.mergesFromStore(SignatureStore.ensureBpeMerges(spark, dir))
    assert(merges.nonEmpty)
    assert(new java.io.File(storeDir, "_manifest.json").exists())
    assert(!new java.io.File(storeDir, "batch-orphan").exists())
    assert(storeDir.list().count(_.startsWith("batch-")) == 1)
    val live = BpeQueries.defs("bpe_encode_docs").build(spark, dir).collect()
    val stored = BpeQueries.defs("bpe_encode_docs_stored").build(spark, dir).collect()
    assert(live.map(_.toString).toSeq == stored.map(_.toString).toSeq)
  }

  test("an empty store read fails loudly, never a silent empty model") {
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException](
      BpeQueries.mergesFromStore(Seq.empty[(Int, String, String, Long)]
        .toDF("rank", "left_sym", "right_sym", "pair_freq")))
    assert(e1.getMessage.contains("store is empty"))
    val e2 = intercept[IllegalArgumentException](
      UnigramQueries.modelFromStore(Seq.empty[(String, Long, Int)]
        .toDF("piece", "piece_count", "score")))
    assert(e2.getMessage.contains("store is empty"))
  }
}
