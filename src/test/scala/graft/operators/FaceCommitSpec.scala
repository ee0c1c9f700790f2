package graft.operators

import scala.util.Try

import graft.SparkFunSuite
import graft.io.RasterTestFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every signature-store face publishes through one manifest rename: a
  * write that fails at any create, rename or delete reads as the face
  * before it or after it, never a mix, and a warm read of a published
  * face makes no file-system call on its batch side. */
class FaceCommitSpec extends SparkFunSuite {
  import spark.implicits._

  private def storeBase(prefix: String): String = s"${RasterTestFs.Scheme}://${tmpDir(prefix)}"

  /** Runs `op` on a fresh store made by `setup`, once per create, rename
    * and delete that a clean run of `op` makes, failing once at that
    * call. After each, `read` must give what it gave before `op` or what
    * it gives after a clean run. Returns both reads of the clean run and
    * each crashed store's base. Stores live on the test scheme. */
  private def crashAtEveryStep[T](setup: String => Unit, op: String => Unit,
      read: String => T): (T, T, Seq[String]) =
    RasterTestFs.withScheme(spark) {
      val clean = storeBase("faceclean")
      setup(clean)
      val before = read(clean)
      RasterTestFs.resetCalls()
      op(clean)
      val calls = RasterTestFs.mutatingCalls
      val after = read(clean)
      assert(calls >= 3, s"$calls creates, renames and deletes")
      (before, after, (1L to calls).map { n =>
        val base = storeBase("facecrash")
        setup(base)
        RasterTestFs.failOnce(n)
        Try(op(base))
        RasterTestFs.resetCalls()
        val got = read(base)
        assert(got == before || got == after,
          s"a failure at mutating call $n of $calls read $got; before: $before; after: $after")
        base
      })
    }

  private def cells(df: DataFrame): Set[(Int, Long, Long)] =
    df.select("j", "slot", "n").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  private def streamGone(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(SignatureStore.streamDir(dir))
    !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("a count-min compaction that fails at any step never counts the stream twice") {
    val batchDocs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val streamDocs = Seq((3L, "alpha delta")).toDF("doc_id", "text")
    def cellsOf(docs: DataFrame) = SketchQueries.countMinCells(SketchQueries.tokenVocab(docs))
    val want = cells(cellsOf(batchDocs).unionByName(cellsOf(streamDocs))
      .groupBy("j", "slot").agg(sum("n").as("n")))
    val (before, after, crashed) = crashAtEveryStep(
      base => {
        SignatureStore.publish(spark, SignatureStore.countMinDir(base) -> cellsOf(batchDocs))
        SignatureStore.appendEpoch(cellsOf(streamDocs), SignatureStore.streamDir(SignatureStore.countMinDir(base)), 0L)
      },
      base => SignatureStore.compactCountMin(spark, base),
      base => cells(SignatureStore.readCountMin(spark, base)))
    // so every crashed store reads batch + stream once; and a re-run of
    // the compaction completes it with the same cells
    assert(before == want && after == want)
    RasterTestFs.withScheme(spark) {
      crashed.foreach { base =>
        assert(cells(SignatureStore.readCountMin(spark, base)) == want, base)
        SignatureStore.compactCountMin(spark, base)
        assert(cells(SignatureStore.readCountMin(spark, base)) == want, base)
        assert(streamGone(SignatureStore.countMinDir(base)), base)
      }
    }
  }

  test("a Misra–Gries compaction that fails at any step never counts the stream twice, counters or λ") {
    // vocab > k (=8) per source, so the merge prunes and λ grows
    def doc(n: Int, shift: Int) = (1 to n).flatMap(i => Seq.fill(i)(s"tok${i + shift}")).mkString(" ")
    val batchDocs = Seq((1L, "web", doc(12, 0)), (2L, "book", doc(10, 3))).toDF("doc_id", "source", "text")
    val streamDocs = Seq((3L, "web", doc(11, 2))).toDF("doc_id", "source", "text")
    def summaries(docs: DataFrame) = SketchQueries.mgSummaries(SketchQueries.sourceTokenCounts(docs))
    def read(base: String) = {
      val (c, l) = SignatureStore.readHeavyHitters(spark, base)
      (c.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet,
        l.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    }
    val (before, after, _) = crashAtEveryStep(
      base => {
        val (bc, bl) = summaries(batchDocs)
        SignatureStore.publish(spark, SignatureStore.mgLambdasDir(base) -> bl, SignatureStore.mgCountersDir(base) -> bc)
        val (sc, sl) = summaries(streamDocs)
        SignatureStore.appendEpoch(sc, SignatureStore.streamDir(SignatureStore.mgCountersDir(base)), 0L)
        SignatureStore.appendEpoch(sl, SignatureStore.streamDir(SignatureStore.mgLambdasDir(base)), 0L)
      },
      base => SignatureStore.compactHeavyHitters(spark, base),
      read)
    // so every crashed store reads the one merged summary
    assert(before == after)
    assert(before._2.exists(_._2 > 0), s"the merge must prune: $before")
  }

  test("a BM25 compaction that fails at any step keeps every doc length and every posting") {
    val batchDocs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val streamDocs = Seq((3L, "alpha delta")).toDF("doc_id", "text")
    def read(base: String) = {
      val (p, l) = SignatureStore.readBm25(spark, base)
      (p.select("doc_id", "token", "tf", "dl").collect().map(_.toSeq).toSet,
        l.select("doc_id", "dl").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val (before, after, _) = crashAtEveryStep(
      base => {
        SignatureStore.publish(spark,
          SignatureStore.bm25PostingsDir(base) -> SearchQueries.postingsOf(batchDocs),
          SignatureStore.bm25DoclensDir(base) -> SearchQueries.doclensOf(batchDocs))
        graft.streaming.EventStream.postingsEpoch(streamDocs, 0L, base)
      },
      base => SignatureStore.compactBm25(spark, base),
      read)
    val all = batchDocs.unionByName(streamDocs)
    val postings = SearchQueries.postingsOf(all).select("doc_id", "token", "tf", "dl").collect().map(_.toSeq).toSet
    assert(before == (postings, Set((1L, 3L), (2L, 2L), (3L, 2L))) && after == before)
  }

  test("a cluster delta that fails at any step reads as the store before or after it") {
    def read(base: String) =
      SignatureStore.readClusters(spark, base).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (before, after, _) = crashAtEveryStep(
      base => SignatureStore.publish(spark, SignatureStore.clustersDir(base) ->
        Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (99L, 99L)).toDF("doc_id", "cluster_id")),
      base => SignatureStore.updateClustersWithDelta(spark, base,
        Seq(50L).toDF("doc_id"), Seq((2L, 11L), (50L, 99L)).toDF("doc_a", "doc_b")),
      read)
    assert(before != after)
  }

  test("a first BPE merge build that fails at any step publishes nothing, and the next call builds it") {
    val corpus = tmpDir("bpecrash")
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++ Seq.fill(6)("newest")
    Seq((1L, words.mkString(" ")), (2L, "lowest newer")).toDF("doc_id", "text")
      .write.parquet(s"$corpus/documents.parquet")
    def rows(df: DataFrame) = df.collect().map(_.toString).toSet
    val live = rows(BpeQueries.trainedMergesDf(spark, corpus))
    assert(live.nonEmpty)
    RasterTestFs.withScheme(spark) {
      def withRoot[T](f: java.io.File => T): T = withStoreRoot(storeBase("bperoot")) {
        f(new java.io.File(new org.apache.hadoop.fs.Path(
          SignatureStore.bpeMergesDir(SignatureStore.defaultBase(spark, corpus))).toUri.getPath))
      }
      val calls = withRoot { _ =>
        RasterTestFs.resetCalls()
        SignatureStore.ensureBpeMerges(spark, corpus)
        RasterTestFs.mutatingCalls
      }
      assert(calls >= 3, s"$calls creates, renames and deletes")
      val failed = (1L to calls).map { n =>
        withRoot { face =>
          RasterTestFs.failOnce(n)
          val failed = Try(SignatureStore.ensureBpeMerges(spark, corpus)).isFailure
          RasterTestFs.resetCalls()
          if (failed) assert(!new java.io.File(face, "_manifest.json").exists(), s"call $n published a failed build")
          assert(rows(SignatureStore.ensureBpeMerges(spark, corpus)) == live, s"call $n")
          assert(face.list().count(_.startsWith("batch-")) == 1, s"call $n left ${face.list().toSeq}")
          failed
        }
      }
      assert(failed.contains(true), s"failures at calls 1..$calls: $failed")
    }
  }

  test("warm reads of the IVF, q8 and BPE merge faces do no discovery") {
    val corpus = tmpDir("warmfaces")
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++ Seq.fill(6)("newest")
    Seq((1L, words.mkString(" ")), (2L, "lowest newer")).toDF("doc_id", "text")
      .write.parquet(s"$corpus/documents.parquet")
    RasterTestFs.withScheme(spark) {
      withStoreRoot(storeBase("warmroot")) {
        def ensureAll(): Unit = {
          SignatureStore.ensureIvfAssignments(spark, corpus, () => Seq((1L, 0L)).toDF("vec_id", "cent_id"))
          SignatureStore.ensureQuantizedVectors(spark, corpus,
            () => Seq((1L, Array[Byte](1, 2))).toDF("vec_id", "q"))
          SignatureStore.ensureBpeMerges(spark, corpus)
        }
        ensureAll()
        RasterTestFs.resetCalls()
        ensureAll()
        val calls = Seq("listStatus", "globStatus", "getFileStatus", "open", "mkdirs", "create", "rename", "delete")
          .map(m => m -> RasterTestFs.calls(m)).toMap
        assert(calls("listStatus") + calls("globStatus") + calls("open") == 0, calls)
        // no more than before the manifest, which made none of these calls
        assert(calls.values.sum == 0, calls)
        // one probe of the stream subtree for each stream-backed face (IVF
        // and q8), as before the manifest
        assert(RasterTestFs.calls("exists") == 2, RasterTestFs.calls("exists"))
      }
    }
  }

  test("a malformed face manifest is an error that names it") {
    val base = tmpDir("badface")
    SignatureStore.publish(spark, SignatureStore.countMinDir(base) -> Seq((0, 1L, 2L)).toDF("j", "slot", "n"))
    val manifest = java.nio.file.Paths.get(SignatureStore.countMinDir(base), "_manifest.json")
    for (bytes <- Seq("""{"tables": []}""", """{"format": "graft-cube", "version": 1}""")) {
      java.nio.file.Files.write(manifest, bytes.getBytes)
      val msg = intercept[java.io.IOException](SignatureStore.readCountMin(spark, base)).getMessage
      assert(msg.contains(s"$manifest is not a"), msg)
    }
  }
}
