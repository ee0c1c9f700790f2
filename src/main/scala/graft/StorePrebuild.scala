package graft

import org.apache.spark.sql.SparkSession

/** The untimed prebuild of every signature-store face, for drivers
  * that share one `spark.graft.sigstore.root`. Each face publishes
  * through one manifest rename, so a prebuild that dies leaves every
  * face built or not built, and the next call builds the missing ones.
  * Concurrent first builds inside one JVM are already safe (the store's
  * build-once lock, see [[operators.SignatureStore]]); the store has one
  * writer, so a prebuild is what keeps several drivers sharing one root
  * from racing the same build, and after it the *_stored queries read
  * the amortized store rather than the first build. */
object StorePrebuild {

  def all(spark: SparkSession, sfDir: String): Unit = {
    // dedup_minhash_lsh_stored measures the amortized read path (the
    // signature computation itself is timed live via dedup_minhash_lsh)
    operators.SignatureStore.ensureMinhashBands(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // likewise the cluster-assignment artifact corpus_curation consumes
    // (the fixpoint itself is timed live by dedup_clusters)
    operators.SignatureStore.ensureClusters(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // and the simhash / span / IVF artifacts behind the other stored
    // paths (their live builds are timed by dedup_simhash /
    // dedup_substring_removal / ann_ivf)
    operators.SignatureStore.ensureSimhash(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // candidate-pair store (21st family): the banded self-join is timed
    // live by dedup_minhash_lsh / dedup_minhash_oph; every other
    // consumer (clusters, graph family, source matrix, Venn,
    // capture–recapture) measures the amortized store-read path
    operators.SignatureStore.ensureK8Pairs(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    operators.SignatureStore.ensureOphPairs(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    operators.SignatureStore.ensureSpans(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // line registry behind dedup_lines_stored (live build timed by
    // dedup_lines) and the counted-triple artifact behind
    // o6_transitions_stored / o7_top_paths_stored (the user-keyed
    // window is timed live by o6/o7)
    operators.SignatureStore.ensureLineRegistry(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    operators.SignatureStore.ensureEventTransitions(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // phrase-bigram registry behind phrase_search_stored (the live
    // positional pass is timed by phrase_search)
    operators.SignatureStore.ensurePhraseBigrams(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // tokenizer artifacts behind bpe_encode_docs_stored /
    // unigram_encode_docs_stored (training is timed live by
    // bpe_train_merges / unigram_train_vocab)
    operators.SignatureStore.ensureBpeMerges(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    operators.SignatureStore.ensureUnigramModel(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // image fingerprints behind mm_image_phash_stored (the live
    // decode+hash is timed by mm_image_phash)
    operators.SignatureStore.ensureImagePhash(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // bm25 postings artifact behind bm25_search_stored (the live build is
    // timed by bm25_search)
    locally {
      val (postings, doclens) = operators.SignatureStore.ensureBm25(spark, sfDir)
      postings.write.format("noop").mode("overwrite").save()
      doclens.write.format("noop").mode("overwrite").save()
      // ranked-results face (22nd): retrieval is timed live by
      // bm25_search and from the postings store by bm25_search_stored;
      // the eval consumers (snippets, RBO, fusion, PRF, hard negatives,
      // packing) measure presentation cost over the persisted top-10
      operators.SignatureStore.ensureBm25TopK(spark, sfDir).write
        .format("noop").mode("overwrite").save()
    }
    locally {
      val e = graft.util.Tables.embeddings(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
      val centroids = e.orderBy("vec_id").limit(16)
        .select(org.apache.spark.sql.functions.col("vec_id").as("cent_id"),
          org.apache.spark.sql.functions.col("embedding").as("cv"))
      operators.SignatureStore.ensureIvfAssignments(spark, sfDir,
        () => operators.VectorQueries.ivfAssign(e, centroids)).write
        .format("noop").mode("overwrite").save()
      // LSH bucket artifact behind ann_lsh_bucketed_stored (the live
      // sign projection is timed by ann_lsh_bucketed)
      operators.SignatureStore.ensureLshBuckets(spark, sfDir,
        () => operators.LshPlanes.bandsOf(e)).write
        .format("noop").mode("overwrite").save()
      // int8 artifact behind ann_ivf_q8, so the query times the
      // quantized SEARCH path, not the one-time quantization build
      operators.SignatureStore.ensureQuantizedVectors(spark, sfDir,
        () => operators.VectorQueries.quantizeInt8(e)).write
        .format("noop").mode("overwrite").save()
      // PQ codebook/code artifacts (flat + residual): training is timed
      // live by ann_pq_adc / ann_ivfpq_residual; the stored twins and
      // the recall grader time the read-and-search path
      import operators.PqQueries._
      locally {
        val (cb, codes) = operators.SignatureStore.ensurePqStore(spark, sfDir,
          () => trainCodebook(e),
          cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
        cb.write.format("noop").mode("overwrite").save()
        codes.write.format("noop").mode("overwrite").save()
      }
      locally {
        import org.apache.spark.sql.functions.col
        val centroids = e.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
        val assign = operators.SignatureStore.ensureIvfAssignments(
          spark, sfDir, () => operators.VectorQueries.ivfAssign(e, centroids))
        val csub = centroidSub(centroids).localCheckpoint(eager = false)
        val (cb, codes) = operators.SignatureStore.ensureResidualPqStore(spark, sfDir,
          () => trainCodebookOn(e, residualSub(scaledSub(e), assign, csub)),
          cbStored => packCodes(pqAssign(
            residualSub(scaledSub(e), assign, csub), cbStored)))
        cb.write.format("noop").mode("overwrite").save()
        codes.write.format("noop").mode("overwrite").save()
      }
    }
  }
}
