package graft.operators

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.io.StoreCommit
import graft.util.Tables._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Persisted derived-artifact stores — the 100 TB amortization for the
  * dedup, search, sketch, vector and multimodal families.
  *
  * Live queries re-derive their artifacts from the full corpus on every
  * run (a full text scan + one md5 per shingle/token, a tokenizer pass,
  * a centroid dot per vector …). At scale that cost dominates, and it
  * is pure recomputation: artifacts only change when their inputs
  * change. This store computes them ONCE and persists them, e.g.:
  *
  *   - `minhash_bands/`: (doc_id, band, key) parquet — the LSH
  *     self-join then shuffles only the tiny key table, never the text;
  *   - `simhash/`: (doc_id, sig) parquet — 60-bit signatures; any banding
  *     scheme can be re-derived from `sig` without touching text.
  *
  * Builders live with their query families (e.g. [[TextQueries]]
  * minhashBandsOf / simhashSigsOf) so the stored and live paths are the
  * same code — the `dedup_minhash_lsh_stored` oracle asserts they stay
  * bit-identical.
  *
  * ==The store-face protocol==
  * Every family persists one or more FACES under a per-corpus base
  * ([[defaultBase]]). A face is the set of tables that one build or one
  * seal writes together: most hold one table; BM25 postings + doclens,
  * MG counters + λs, PQ and residual-PQ codebook + codes, and spans +
  * span grams hold two. Every face follows one layout, on the commit
  * protocol of the cube store ([[graft.io.StoreCommit]]):
  *
  *   - `<base>/<face>/_manifest.json` publishes the face. It names the
  *     current stage `batch-<id>`, records the schema of each table,
  *     and lists, for each stream subtree the stage already folds in,
  *     the stream files it consumed. Each table of the stage lives at
  *     `<base>/<table>/batch-<id>/` (the face's own table under
  *     `<base>/<face>/`). A face without a manifest is not built.
  *   - [[seal]] writes a face: every table into a fresh stage, then one
  *     rename of the manifest publishes it, and only then are superseded
  *     stages and the folded stream subtrees deleted. A crash at any
  *     step reads as the face before the seal or after it.
  *     [[sealOnce]] builds a face at most once per JVM: the pinned
  *     manifest on the fast path, and a per-face lock plus a re-check
  *     around the build. There is one writer per store, and the lock
  *     covers ONE JVM: drivers sharing a `spark.graft.sigstore.root`
  *     still need one prebuild ([[graft.StorePrebuild]]) before they
  *     race.
  *   - `<base>/<table>_stream/` ([[streamDir]]) holds micro-batch
  *     appends, partitioned by `batch_id` and written by [[appendEpoch]]
  *     with dynamic partition overwrite, so a replayed epoch rewrites
  *     exactly its own partitions. A new streaming query restarts its
  *     ids at 0, which is why a manifest records folded epochs by file.
  *   - Readers go through [[layers]]: the table in the stage the pinned
  *     manifest names (a cached relation; a stage never changes, so a
  *     warm read makes no file-system call on the batch side), plus the
  *     stream side when it holds data files the stage does not fold in.
  *     Each reader applies its own merge law (distinct, latest-wins,
  *     sum, max, bit_or, first-wins, KMV, MG); a batch-only face reads
  *     as the bare cached parquet scan.
  */
object SignatureStore {

  def minhashDir(base: String) = s"$base/minhash_bands"

  def simhashDir(base: String) = s"$base/simhash"

  /** The stream-append subtree beside face `dir` — `<face>_stream` for
    * every family (see the protocol above). */
  def streamDir(dir: String): String = s"${dir}_stream"

  /** One-permutation-hashing bands — the 20th store family, same
    * (doc_id, band, key) shape and union-distinct resolve as the k8
    * minhash store (a band row is immutable per document version; a
    * replayed or re-batched doc re-derives identical rows, so full-row
    * distinct IS the supersession rule). */
  def ophDir(base: String) = s"$base/oph_bands"

  /** One full-corpus signature pass → the minhash and simhash faces at
    * `base`. */
  def write(spark: SparkSession, sfDir: String, base: String): Unit = {
    val docs = documents(spark, sfDir)
    publish(spark, minhashDir(base) -> TextQueries.minhashBandsOf(docs))
    publish(spark, simhashDir(base) -> TextQueries.simhashSigsOf(docs))
  }

  /** All stored minhash bands: the batch subtree plus, when present, the
    * streaming-append subtree (whichever exist — a store may be purely
    * batch-built, purely stream-built, or both).
    *
    * When stream rows participate, the union is deduplicated on the full
    * row: a doc re-sent in a later micro-batch (or batch-rebuilt after
    * streaming already signed it) would otherwise store its band rows
    * twice, and the inflated bucket counts could push a legitimate
    * bucket over the degenerate-bucket cap — silently dropping its
    * candidate pairs. The batch-only path stays a pure parquet read. */
  def readMinhashBands(spark: SparkSession, base: String): DataFrame =
    bandLayers(spark, minhashDir(base), col("band").cast("int"), None)
      .getOrElse(throw missingStore(minhashDir(base)))

  /** Bands visible to stream epoch `batchId`: everything EXCEPT that
    * epoch's own stream append. A replayed micro-batch probing the store
    * for duplicates must not see its own earlier (partial or complete)
    * append, or every one of its documents would look like a duplicate
    * of itself and the replay would emit nothing. */
  def readMinhashBandsExcluding(spark: SparkSession, base: String, batchId: Long): DataFrame =
    bandLayers(spark, minhashDir(base), col("band").cast("int"), Some(batchId))
      .getOrElse(spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0).as("band"), lit(0L).as("key")).limit(0))

  /** The union-distinct band resolve shared by the k8 and OPH faces. */
  private def bandLayers(spark: SparkSession, dir: String, band: Column,
      excludeBatch: Option[Long]): Option[DataFrame] = {
    val l = layers(spark, dir, col("doc_id"), band.as("band"), col("key"))
    l.copy(stream = l.stream.map(s =>
        excludeBatch.fold(s)(id => s.filter(col("batch_id") =!= id)).drop("batch_id")))
      .resolve(_.distinct())((b, s) => b.unionByName(s).distinct())
  }

  /** The faces that hold a second table: each table name here is kept
    * in the face of the table it maps to. Every other table is a face
    * of its own. */
  private val faceOf = Map("bm25_doclens" -> "bm25_postings", "mg_lambdas" -> "mg_counters",
    "pq_codebook" -> "pq_codes", "rpq_codebook" -> "rpq_codes", "span_grams" -> "substring_spans")

  private def nameOf(dir: String): String = dir.substring(dir.lastIndexOf('/') + 1)

  /** The face directory that holds table `dir`: the one [[sealOnce]]
    * guards and whose manifest publishes it. */
  private def face(dir: String): String =
    faceOf.get(nameOf(dir)).fold(dir)(dir.substring(0, dir.lastIndexOf('/') + 1) + _)

  /** A published face, as its manifest records it: the stage, the
    * schema (JSON) of each table in it, and the stream files (relative
    * to their subtree, by subtree name) that the stage already folds in. */
  private final case class Manifest(format: String, version: Int, stage: String,
      tables: Map[String, String], folded: Map[String, Seq[String]]) {
    private val relations = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]())

    /** Table `name` of face `face`, read with its recorded schema: one
      * relation per session, built on first use. The stage never
      * changes, so the relation never goes stale. */
    def table(spark: SparkSession, face: String, name: String): Option[DataFrame] = tables.get(name).map(schema =>
      relations.computeIfAbsent(spark, _ => scala.collection.concurrent.TrieMap.empty).getOrElseUpdate(name,
        spark.read.schema(DataType.fromJson(schema).asInstanceOf[StructType]).parquet(stagedTable(face, name, stage))))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Published manifests by face, pinned per JVM once read: a face
    * changes only through [[seal]], which drops the pin. A face that is
    * not published is never pinned, so the next call looks again. */
  private val manifests = new scala.collection.concurrent.TrieMap[String, Manifest]()

  private def manifest(spark: SparkSession, face: String): Option[Manifest] =
    manifests.get(face).orElse {
      val path = new Path(face, StoreCommit.ManifestFile)
      val fs = StoreCommit.fileSystem(path, spark.sparkContext.hadoopConfiguration)
      val read = try {
        val in = fs.open(path)
        try Some(json.readValue(in: java.io.InputStream, classOf[Manifest])) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => None
        case e: JacksonException => throw new java.io.IOException(s"$path is not a graft-face manifest: ${e.getOriginalMessage}")
      }
      read.foreach(m => if (m.format == "graft-face" && m.version == 1) manifests.put(face, m)
        else throw new java.io.IOException(s"$path is not a version 1 graft-face manifest"))
      read
    }

  /** Table `dir` as its face's published stage holds it; None when the
    * face is not published. */
  private def batch(spark: SparkSession, dir: String): Option[DataFrame] =
    manifest(spark, face(dir)).map(_.table(spark, face(dir), nameOf(dir)).getOrElse(throw missingStore(dir)))

  /** [[batch]], failing with the missing-store error when the face is
    * not published. */
  private def published(spark: SparkSession, dir: String): DataFrame =
    batch(spark, dir).getOrElse(throw missingStore(dir))

  /** Where `stage` keeps table `name` of face `face`: in the table's own
    * directory beside the face's, so that the table's name leads its
    * path (and the location string of every scan of it). */
  private def stagedTable(face: String, name: String, stage: String): String =
    s"${face.substring(0, face.lastIndexOf('/'))}/$name/$stage"

  /** A face being written: [[put]] writes its tables into a fresh stage,
    * each as one flat parquet directory. */
  private final class Stage(spark: SparkSession, face: String) {
    val path: Path = StoreCommit.stage(new Path(face), "batch")
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** Writes `df` as table `dir` and returns the table as written. */
    def put(dir: String, df: DataFrame): DataFrame = {
      val out = stagedTable(face, nameOf(dir), path.getName)
      df.write.parquet(out)
      tables(nameOf(dir)) = df.schema.json
      spark.read.schema(df.schema).parquet(out)
    }
  }

  /** One build-once lock per face — see [[sealOnce]]. */
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Build face `dir` unless it is published. The fast path is the
    * pinned manifest alone; on a miss the build runs under a per-face
    * JVM lock and re-checks first, so N concurrent first calls build
    * once and the other N-1 read the published face. */
  private def sealOnce(spark: SparkSession, dir: String)(build: Stage => Unit): Unit =
    if (manifest(spark, dir).isEmpty)
      buildLocks.computeIfAbsent(dir, _ => new AnyRef).synchronized {
        if (manifest(spark, dir).isEmpty) seal(spark, dir)(build)
      }

  /** Write face `dir` anew: `build` puts tables into a fresh stage, and
    * every table of the published face that it did not put is carried
    * over. One rename of the manifest publishes the stage, recording
    * the data files of `streams` as folded in: readers skip them from
    * then on. Only then are the superseded stages, the `streams`
    * subtrees and the `drop` faces deleted. A crash at any step reads
    * as the face before or after the seal: never a stream epoch counted
    * twice. The stream files are listed before `build` resolves them;
    * compaction is a barrier, so no epoch lands in between. */
  private def seal(spark: SparkSession, dir: String, streams: Seq[String] = Nil,
      drop: Seq[String] = Nil)(build: Stage => Unit): Unit = {
    val root = new Path(dir)
    val fs = StoreCommit.fileSystem(root, spark.sparkContext.hadoopConfiguration)
    val folded = streams.map(s => nameOf(s) -> streamFiles(spark, s).map(_._1).toSeq).filter(_._2.nonEmpty)
    val stage = new Stage(spark, dir)
    build(stage)
    manifest(spark, dir).foreach(m => m.tables.keys.filterNot(stage.tables.contains).foreach(t =>
      stage.put(t, m.table(spark, dir, t).get)))
    val bytes = json.writeValueAsBytes(Manifest("graft-face", 1, stage.path.getName, stage.tables.toMap, folded.toMap))
    val others = stage.tables.keys.filter(_ != nameOf(dir)).map(t => new Path(root.getParent, t)).toSeq
    try StoreCommit.commit(fs, root, stage.path, bytes, others)
    finally manifests.remove(dir)
    drop.foreach(manifests.remove)
    (streams ++ drop).foreach(d => fs.delete(new Path(d), true))
  }

  /** Test set-up: publish `tables` (table dir -> rows) as the face that
    * holds them, as a batch build would. */
  private[graft] def publish(spark: SparkSession, tables: (String, DataFrame)*): Unit =
    seal(spark, face(tables.head._1))(stage => tables.foreach { case (dir, df) => stage.put(dir, df) })

  /** A face's two sides as [[layers]] finds them: the batch relation and
    * the stream side, each present only when it holds data. */
  private final case class Layers(dir: String, batch: Option[DataFrame],
      stream: Option[DataFrame]) {
    /** A reader's merge law: batch-only serves the batch relation as is,
      * stream-only serves `solo(stream)`, both serve `both(batch,
      * stream)`; None when neither side holds data. */
    def resolve(solo: DataFrame => DataFrame)(
        both: (DataFrame, DataFrame) => DataFrame): Option[DataFrame] =
      (batch, stream) match {
        case (b, None) => b
        case (None, Some(s)) => Some(solo(s))
        case (Some(b), Some(s)) => Some(both(b, s))
      }

    /** [[resolve]], failing with the missing-store error on no data. */
    def get(solo: DataFrame => DataFrame)(
        both: (DataFrame, DataFrame) => DataFrame): DataFrame =
      resolve(solo)(both).getOrElse(throw missingStore(dir))

    /** Batch ∪ stream (the stream's `batch_id` dropped) — the input the
      * sketch laws (sum, max, bit_or, KMV, MG) fold. */
    def union: DataFrame =
      get(_.drop("batch_id"))((b, s) => b.unionByName(s.drop("batch_id")))
  }

  /** The single "no store" error: neither side of face `dir` holds data. */
  private def missingStore(dir: String) = new IllegalArgumentException(
    s"no ${nameOf(dir)} store under ${dir.substring(0, dir.lastIndexOf('/'))}")

  /** Both sides of table `dir`, projected to `cols` (no projection when
    * `cols` is empty): the table in its face's published stage, and the
    * stream subtree when it holds data files the stage does not fold
    * in, with its `batch_id` cast to long for the latest-wins readers. */
  private def layers(spark: SparkSession, dir: String, cols: Column*): Layers = {
    def project(df: DataFrame, extra: Column*) =
      if (cols.isEmpty) df else df.select(cols ++ extra: _*)
    val m = manifest(spark, face(dir))
    val folded = m.flatMap(_.folded.get(nameOf(streamDir(dir)))).getOrElse(Nil).toSet
    val stream = streamRows(spark, streamDir(dir), folded).map(s => project(
      s.withColumn("batch_id", col("batch_id").cast("long")), col("batch_id")))
    Layers(dir, m.map(_ => project(published(spark, dir))), stream)
  }

  /** Stream subtree `dir` without the `folded` files; None when no data
    * file is left. A subtree that a crash left beside the stage that
    * folds it in is listed in full; any other is probed for its first
    * data file only. */
  private def streamRows(spark: SparkSession, dir: String, folded: Set[String]): Option[DataFrame] =
    if (folded.isEmpty) Option.when(hasData(spark, dir))(spark.read.parquet(dir))
    else {
      val left = streamFiles(spark, dir).collect { case (rel, p) if !folded(rel) => p.toString }.toSeq
      Option.when(left.nonEmpty)(spark.read.option("basePath", dir).parquet(left: _*))
    }

  /** The data files under stream subtree `dir`, relative to it, listed
    * as they are consumed. A micro-batch where every row was gated away
    * writes no data file, and reading a subtree without one throws
    * "Unable to infer schema". */
  private def streamFiles(spark: SparkSession, dir: String): Iterator[(String, Path)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir))
    if (!fs.exists(root)) return Iterator.empty
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).filter(p => StoreCommit.isData(p.getName))
      .map(p => root.toUri.relativize(p.toUri).getPath -> p)
  }

  /** Does stream subtree `dir` hold a data file? Lists up to the first. */
  private def hasData(spark: SparkSession, dir: String): Boolean = streamFiles(spark, dir).hasNext

  /** Append one stream epoch: `df` lands under `dir` keyed by
    * `batch_id` (then `partitionCols`), with dynamic partition overwrite
    * — foreachBatch is at-least-once, and a replayed epoch must rewrite
    * exactly its own partitions instead of duplicating rows. Every
    * stream subtree and every epoch-keyed sink is written here. */
  private[graft] def appendEpoch(df: DataFrame, dir: String, batchId: Long,
      partitionCols: String*): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionCols: _*)
      .parquet(dir)

  /** Single-face compaction: fold `dir`'s stream subtree into its batch
    * build with the reader's own resolve (no-op without stream data). */
  private def compactInto(spark: SparkSession, dir: String)(resolved: => DataFrame): Unit =
    if (hasData(spark, streamDir(dir)))
      seal(spark, dir, Seq(streamDir(dir)))(_.put(dir, resolved))

  def readSimhash(spark: SparkSession, base: String): DataFrame =
    published(spark, simhashDir(base))

  /** Root directory for derived signature stores. On a cluster set
    * `spark.graft.sigstore.root` to a shared filesystem path (HDFS/S3) —
    * every driver then resolves the same store; the local-JVM default is
    * only right for local mode. */
  def storeRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.sigstore.root")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Store location for a given input dataset. The cache key is a
    * SHA-256 of the dataset path AND a content fingerprint (names +
    * sizes + mtimes of the documents parquet files), so regenerating
    * data at the same path invalidates the store instead of silently
    * serving stale signatures, and no two datasets share a base.
    * All probing goes through the Hadoop FileSystem API, so the
    * fingerprint works identically for local, HDFS and object-store
    * paths (a `java.io.File` listing silently degenerates to a path-only
    * key on any non-local scheme). */
  def defaultBase(spark: SparkSession, sfDir: String): String = {
    val docs = new Path(s"$sfDir/documents.parquet")
    val fs = docs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      if (!fs.exists(docs)) ""
      else if (fs.getFileStatus(docs).isDirectory)
        fs.listStatus(docs).filter(_.isFile).sortBy(_.getPath.getName)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .mkString("|")
      else {
        val st = fs.getFileStatus(docs)
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      }
    // 64 bits of the digest: a longer name would push the table name out
    // of the location Spark prints for every scan (100 characters)
    val fp = java.security.MessageDigest.getInstance("SHA-256")
      .digest((sfDir + "#" + listing).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"${storeRoot(spark)}/graft_sigstore_$fp"
  }

  /** Minhash band table for `sfDir`, building the store on first use
    * (idempotent; subsequent calls are pure parquet reads). The build
    * writes this face alone — the simhash face seals under its own
    * lock, so the two first builds never overlap. */
  def ensureMinhashBands(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, minhashDir(base))(
      _.put(minhashDir(base), TextQueries.minhashBandsOf(documents(spark, sfDir))))
    readMinhashBands(spark, base)
  }

  /** All stored OPH bands: batch subtree ∪ stream appends, full-row
    * distinct when both exist — the [[readMinhashBands]] resolve on the
    * OPH layout. */
  def readOphBands(spark: SparkSession, base: String): DataFrame =
    bandLayers(spark, ophDir(base), col("band").cast("long"), None)
      .getOrElse(throw missingStore(ophDir(base)))

  /** OPH band table for `sfDir`, building the store on first use. */
  def ensureOphBands(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, ophDir(base))(_.put(ophDir(base), TextQueries.ophBandsOf(documents(spark, sfDir))))
    readOphBands(spark, base)
  }

  /** Compact the OPH band store (union-distinct resolve, the
    * [[compactMinhashBands]] seal on the OPH layout). */
  def compactOphBands(spark: SparkSession, base: String): Unit =
    compactInto(spark, ophDir(base))(readOphBands(spark, base))

  // ------------------------------------------------------------------
  // Trained-tokenizer artifact stores. Unlike the signature families
  // these persist a MODEL, not per-document rows: the subword-BPE merge
  // table and the unigram-LM piece table are vocab-sized (K rows / a
  // few dozen), but producing them costs a full corpus scan plus the
  // training iterations — the exact shape the seal convention exists
  // for. Write-once sealed artifacts (training is deterministic per
  // corpus; defaultBase fingerprints the documents listing, so a
  // changed corpus gets a fresh base) — no stream subtree, no
  // compaction: a tokenizer is retrained, never incrementally patched.
  // ------------------------------------------------------------------

  def bpeMergesDir(base: String) = s"$base/bpe_merges"
  def unigramModelDir(base: String) = s"$base/unigram_model"

  /** The trained subword-BPE merge table for `sfDir`, training and
    * sealing it on first use; later calls (and later SESSIONS) are pure
    * parquet reads — encode never re-pays training. */
  def ensureBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = bpeMergesDir(defaultBase(spark, sfDir))
    sealOnce(spark, dir)(_.put(dir, BpeQueries.trainedMergesDf(spark, sfDir).coalesce(1)))
    published(spark, dir)
  }

  /** The trained unigram-LM model table for `sfDir` (piece, count,
    * score) — [[ensureBpeMerges]]'s twin for the other subword scheme. */
  def ensureUnigramModel(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = unigramModelDir(defaultBase(spark, sfDir))
    sealOnce(spark, dir)(_.put(dir, UnigramQueries.trainedModelDf(spark, sfDir).coalesce(1)))
    published(spark, dir)
  }

  // ------------------------------------------------------------------
  // Candidate-pair store — the 21st family. The banded self-join is
  // what LSH exists to materialize, and before this store every
  // consumer (clusters, source matrix, family Venn, OPH agreement,
  // capture–recapture) re-enumerated it from the band tables. Persisted
  // once per band family ("k8" = standard 8-band minhash, "oph" =
  // one-permutation bands), the enumeration becomes a two-column
  // parquet read. Maintenance is INCREMENTAL (unlike the band stores'
  // pure appends, a new document creates pairs with OLD documents):
  // each micro-batch appends [[TextQueries.deltaPairs]] — delta × all
  // on (band, key) — which is exactly the row set a full rebuild gains.
  // One documented divergence window: the degenerate-bucket cap is
  // evaluated at each append against the THEN-current bucket sizes, so
  // a bucket that creeps over the cap across many micro-batches keeps
  // the pairs it produced while small; the compaction seal recomputes
  // the full self-join from the sealed band store, restoring exact
  // batch-build equality (spec-pinned).
  // ------------------------------------------------------------------

  def pairsDir(base: String, family: String) = s"$base/pairs_$family"

  /** All stored candidate pairs of `family`: batch subtree ∪ stream
    * deltas, full-row distinct when both exist (a pair re-derived by a
    * later delta is the same row — distinct IS the supersession rule). */
  def readPairs(spark: SparkSession, base: String, family: String): DataFrame =
    layers(spark, pairsDir(base, family), col("doc_a"), col("doc_b"))
      .get(_.drop("batch_id").distinct())(
        (b, s) => b.unionByName(s.drop("batch_id")).distinct())

  private def ensurePairs(spark: SparkSession, sfDir: String, family: String,
      bands: => DataFrame): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, pairsDir(base, family))(_.put(pairsDir(base, family), TextQueries.bandedPairs(bands)))
    readPairs(spark, base, family)
  }

  /** Standard-minhash candidate pairs for `sfDir`, building band store
    * and pair store on first use; afterwards a pure parquet read. */
  def ensureK8Pairs(spark: SparkSession, sfDir: String): DataFrame =
    ensurePairs(spark, sfDir, "k8", ensureMinhashBands(spark, sfDir))

  /** One-permutation-minhash candidate pairs for `sfDir`. */
  def ensureOphPairs(spark: SparkSession, sfDir: String): DataFrame =
    ensurePairs(spark, sfDir, "oph", ensureOphBands(spark, sfDir))

  /** Append the pair delta for one micro-batch of new band rows:
    * `deltaPairs(delta, allBands)` lands batch_id-keyed with dynamic
    * partition overwrite (replay-idempotent — pair rows are pure
    * functions of the band state, and a replayed epoch overwrites
    * exactly its own partition). `allBands` must be the post-append
    * band state EXCLUDING this epoch's own earlier (partial) append,
    * plus the delta itself. */
  def appendPairsDelta(spark: SparkSession, base: String, family: String,
      deltaBands: DataFrame, allBands: DataFrame, batchId: Long): Unit =
    appendPairRows(spark, base, family,
      TextQueries.deltaPairs(deltaBands, allBands), batchId)

  /** Append already-enumerated pair rows (doc_a, doc_b) for one epoch —
    * the shared write leg of [[appendPairsDelta]] and the composed
    * cluster maintainer (which needs the delta pairs TWICE: once
    * persisted, once merged into labels — enumerate once, write once). */
  def appendPairRows(spark: SparkSession, base: String, family: String,
      pairRows: DataFrame, batchId: Long): Unit =
    appendEpoch(pairRows.select("doc_a", "doc_b"), streamDir(pairsDir(base, family)), batchId)

  /** Compaction seal for a pair family: recompute the FULL banded
    * self-join from the current band store (not a union-distinct of
    * the deltas — the rebuild is what restores exact bucket-cap
    * semantics after incremental appends) and seal it; the stream
    * subtree is folded in. Post-condition: [[readPairs]] equals a fresh
    * [[TextQueries.bandedPairs]] over the band store, bit for bit. */
  def compactPairs(spark: SparkSession, base: String, family: String): Unit = {
    val bands = family match {
      case "k8" => readMinhashBands(spark, base)
      case "oph" => readOphBands(spark, base)
      case other => throw new IllegalArgumentException(s"unknown pair family $other")
    }
    val dir = pairsDir(base, family)
    if (hasData(spark, streamDir(dir)) || manifest(spark, dir).isEmpty)
      seal(spark, dir, Seq(streamDir(dir)))(_.put(dir, TextQueries.bandedPairs(bands)))
  }

  /** Simhash signature table for `sfDir`, building the store on first
    * use (the simhash half of [[write]]). */
  def ensureSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, simhashDir(base))(_.put(simhashDir(base), TextQueries.simhashSigsOf(documents(spark, sfDir))))
    readSimhash(spark, base)
  }

  /** Latest-wins per vec_id for the vector faces: the newest stream
    * version of each vector supersedes older stream rows and its batch
    * row (a batch build writes each vector exactly once, so the
    * batch-only path stays a bare parquet read). `newest` picks each
    * vector's newest value columns from the stream side. */
  private def vecLatestWins(l: Layers, newest: DataFrame => DataFrame): Option[DataFrame] =
    l.resolve(newest)((b, s) => {
      val sv = newest(s)
      b.join(sv.select("vec_id"), Seq("vec_id"), "left_anti").unionByName(sv)
    })

  /** Latest-wins per doc_id for the doc-keyed faces (phrase bigrams,
    * image fingerprints, frame diffs): the stream rows of each doc's
    * newest epoch (the whole per-doc row SET), then stream docs
    * supersede their batch rows via anti-join. */
  private def docLatestWins(l: Layers): Option[DataFrame] =
    l.resolve(newestEpochPerDoc)((b, s) => {
      val sv = newestEpochPerDoc(s)
      b.join(sv.select("doc_id").distinct(), Seq("doc_id"), "left_anti").unionByName(sv)
    })

  /** The rows of each doc's newest `batch_id`, distinct, `batch_id`
    * dropped. */
  private def newestEpochPerDoc(s: DataFrame): DataFrame = {
    val latest = s.groupBy("doc_id").agg(max("batch_id").as("batch_id"))
    s.join(latest, Seq("doc_id", "batch_id")).drop("batch_id").distinct()
  }

  def ivfDir(base: String) = s"$base/ivf_assign"

  /** Stored IVF assignments at `base`: batch and/or stream subtrees with
    * LATEST-WINS versioning per vec_id — a vector re-sent in a later
    * stream batch (or present in both subtrees) keeps exactly ONE
    * assignment row, its most recent one. Full-row distinct alone would
    * keep both a stale and a fresh (vec_id, cent_id) row, letting one
    * neighbor double-vote in downstream probes. The version resolve is a
    * map-side-combinable max-struct aggregate over the (small) stream
    * subtree plus an anti-join pruning re-assigned vectors from the
    * batch side; the pure-batch path stays a bare parquet read (a batch
    * build assigns each vector exactly once). */
  def readIvfAssignments(spark: SparkSession, base: String): DataFrame =
    vecLatestWins(layers(spark, ivfDir(base), col("vec_id"), col("cent_id")),
      _.groupBy("vec_id")
        .agg(max(struct(col("batch_id"), col("cent_id"))).as("m"))
        .select(col("vec_id"), col("m.cent_id").as("cent_id")))
      .getOrElse(throw missingStore(ivfDir(base)))

  /** Persisted IVF assignment table (vec_id, cent_id) for `sfDir` — the
    * vector-side amortization: nearest-centroid assignment is the IVF
    * build cost (16 broadcast dots × corpus) and changes only when the
    * corpus or quantizer changes; search runs probe ONLY against this
    * artifact. Built via the same max_by-aggregate shape `ann_ivf`
    * times live. */
  def ensureIvfAssignments(spark: SparkSession, sfDir: String,
      build: () => DataFrame): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, ivfDir(base))(_.put(ivfDir(base), build()))
    readIvfAssignments(spark, base)
  }

  def q8Dir(base: String) = s"$base/q8_vectors"

  /** Stored int8 codes at `base`: batch and/or stream subtrees with
    * LATEST-WINS versioning per vec_id (same contract as
    * [[readIvfAssignments]] — a re-sent vector keeps one code row). */
  def readQuantizedVectors(spark: SparkSession, base: String): DataFrame =
    vecLatestWins(layers(spark, q8Dir(base), col("vec_id"), col("q")),
      _.groupBy("vec_id").agg(max_by(col("q"), col("batch_id")).as("q")))
      .getOrElse(throw missingStore(q8Dir(base)))

  /** Persisted int8-quantized vector table (vec_id, q array<tinyint>)
    * for `sfDir` — the rescore-read amortization: at 100 TB the cost of
    * a stored-vector search is READING vectors to score candidates, and
    * the quantized artifact is 4× smaller than the floats. Quantization
    * ([[VectorQueries.quantizeInt8]]) changes only when embeddings
    * change; `ann_ivf_q8` ranks candidates against this artifact and
    * touches full floats only for its per-query shortlist. */
  def ensureQuantizedVectors(spark: SparkSession, sfDir: String,
      build: () => DataFrame): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, q8Dir(base))(_.put(q8Dir(base), build()))
    readQuantizedVectors(spark, base)
  }

  def lshBucketsDir(base: String) = s"$base/lsh_buckets"

  /** Persisted hyperplane-LSH bucket table (vec_id, band, key) for
    * `sfDir` — the vector-sketch twin of the minhash band store: the
    * sign projection (Bands×Planes dot products per vector) is the index
    * build cost and changes only when embeddings or the plane bank
    * change; candidate runs read the band-partitioned artifact and
    * never recompute a dot. Built via the same [[graft.operators.LshPlanes.bandsOf]]
    * the live query uses, so the two paths cannot diverge. */
  def ensureLshBuckets(spark: SparkSession, sfDir: String,
      build: () => DataFrame): DataFrame = {
    val dir = lshBucketsDir(defaultBase(spark, sfDir))
    sealOnce(spark, dir)(_.put(dir, build()))
    published(spark, dir)
      .select(col("vec_id"), col("band").cast("int").as("band"), col("key"))
  }

  def pqCodebookDir(base: String) = s"$base/pq_codebook"
  def pqCodesDir(base: String) = s"$base/pq_codes"

  /** The trained PQ codebook (m, code, sp, ci) — fixed M·K·SubDim rows,
    * broadcast by every consumer. */
  def readPqCodebook(spark: SparkSession, base: String): DataFrame =
    published(spark, pqCodebookDir(base)).select("m", "code", "sp", "ci")

  /** Shared packed-code resolve (latest-wins per vec_id within the
    * stream, stream supersedes batch) — used by both the flat PQ and
    * residual PQ stores, and by their seals (which keep the PACKED
    * form the batch subtree stores). */
  private def packedCodes(spark: SparkSession, codesDir: String): DataFrame =
    vecLatestWins(layers(spark, codesDir, col("vec_id"), col("codes")),
      _.groupBy("vec_id").agg(max_by(col("codes"), col("batch_id")).as("codes")))
      .getOrElse(throw missingStore(codesDir))

  /** Stored PQ codes at `base`, UNPACKED to (vec_id, m, code) long form
    * for the ADC join. Batch and/or stream subtrees with latest-wins
    * versioning per vec_id (same contract as [[readQuantizedVectors]] —
    * a re-sent vector keeps one packed code row). */
  def readPqCodes(spark: SparkSession, base: String): DataFrame =
    PqQueries.unpackCodes(packedCodes(spark, pqCodesDir(base)))

  def rpqCodebookDir(base: String) = s"$base/rpq_codebook"
  def rpqCodesDir(base: String) = s"$base/rpq_codes"

  def readResidualPqCodebook(spark: SparkSession, base: String): DataFrame =
    published(spark, rpqCodebookDir(base)).select("m", "code", "sp", "ci")

  /** Stored RESIDUAL PQ codes, unpacked — same resolve contract as
    * [[readPqCodes]]; codes quantize IVF residuals, so they are only
    * meaningful joined with the assignment store's cell ids and the
    * centroid table they were re-centered against. */
  def readResidualPqCodes(spark: SparkSession, base: String): DataFrame =
    PqQueries.unpackCodes(packedCodes(spark, rpqCodesDir(base)))

  /** Persisted residual-PQ artifacts — [[ensurePqStore]]'s twin for the
    * true-IVFADC tier: the residual-trained codebook plus packed
    * residual codes, both built once; `encode` receives the codebook AS
    * READ BACK so the stored path encodes against exactly the artifact
    * later searches broadcast. */
  def ensureResidualPqStore(spark: SparkSession, sfDir: String,
      buildCodebook: () => DataFrame,
      encode: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, rpqCodesDir(base)) { stage =>
      val codebook = stage.put(rpqCodebookDir(base), buildCodebook())
      stage.put(rpqCodesDir(base), encode(codebook.select("m", "code", "sp", "ci")))
    }
    (readResidualPqCodebook(spark, base), readResidualPqCodes(spark, base))
  }

  /** Compact the residual-PQ code store (latest-wins packed resolve). */
  def compactResidualPqCodes(spark: SparkSession, base: String): Unit =
    compactInto(spark, rpqCodesDir(base))(packedCodes(spark, rpqCodesDir(base)))

  /** Persisted PQ artifacts for `sfDir`: the trained codebook plus the
    * packed 8-byte-per-vector code table. Training (the Lloyd driver
    * loop) and encoding (one codebook-broadcast pass over the corpus)
    * run ONCE; `encode` receives the codebook AS READ BACK from parquet
    * so the stored path encodes against exactly the artifact later
    * searches will broadcast. Returns (codebook, codes-long-form). */
  def ensurePqStore(spark: SparkSession, sfDir: String,
      buildCodebook: () => DataFrame,
      encode: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, pqCodesDir(base)) { stage =>
      val codebook = stage.put(pqCodebookDir(base), buildCodebook())
      stage.put(pqCodesDir(base), encode(codebook.select("m", "code", "sp", "ci")))
    }
    (readPqCodebook(spark, base), readPqCodes(spark, base))
  }

  def spansDir(base: String) = s"$base/substring_spans"
  def spanGramsDir(base: String) = s"$base/span_grams"

  /** Spans from the store at `base`. Batch-only stores read the
    * precomputed span artifact directly (tiny — spans only). When
    * STREAM gram appends exist, spans are re-derived over the unioned
    * positioned-gram fingerprint table ([[TextQueries.spansFromGrams]]),
    * because duplication is a CORPUS-WIDE property: a streamed document
    * can create duplication inside a batch-era document, so per-batch
    * span computation would silently miss cross-population duplicates.
    * The re-derivation never rescans text — the gram table (md5 only)
    * is the amortization artifact, and the dup-detect + island pass is
    * keyed on fingerprints/doc_id throughout. Re-sent docs resolve
    * LATEST-WINS (newest batch's grams replace older versions — same
    * contract as the bm25/q8 stores). */
  def readSpans(spark: SparkSession, base: String): DataFrame = {
    val grams = gramLayers(spark, base)
    if (grams.stream.isEmpty) published(spark, spansDir(base))
    else TextQueries.spansFromGrams(latestGrams(grams))
  }

  private def gramLayers(spark: SparkSession, base: String): Layers =
    layers(spark, spanGramsDir(base), col("doc_id"), col("pos"), col("gram"))

  /** The latest-wins positioned-gram table (doc_id, pos, gram) over the
    * gram table's batch (as epoch -1) and stream sides. */
  private def latestGrams(grams: Layers): DataFrame = {
    val all = grams.get(identity)((b, s) => b.withColumn("batch_id", lit(-1L)).unionByName(s))
    val latest = all.groupBy("doc_id").agg(max("batch_id").as("batch_id"))
    all.join(latest, Seq("doc_id", "batch_id")).select("doc_id", "pos", "gram")
  }

  /** Persisted duplicated-substring spans (doc_id, span_start, span_end,
    * n_grams) for `sfDir`, building on first use. Span detection is a
    * full-corpus positioned-8-gram hash pass — the most expensive scan in
    * the substring family — and spans change only when documents change,
    * so excision / reporting runs read the artifact. The build ALSO
    * persists the positioned-gram fingerprint table: it is the input the
    * streaming twin ([[graft.streaming.EventStream.maintainSpanGrams]])
    * appends to, and what makes stream-era re-derivation exact without a
    * text rescan. `dedup_substring_spans` times the live compute; the
    * `_stored` excision query is held to the same oracle as the live
    * one. */
  def ensureSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, spansDir(base)) { stage =>
      val g = stage.put(spanGramsDir(base), TextQueries.positionedGrams8(documents(spark, sfDir)))
      stage.put(spansDir(base), TextQueries.spansFromGrams(g))
    }
    readSpans(spark, base)
  }

  /** Compact the span face — a two-table seal: the latest-wins
    * positioned-gram table, and the spans re-derived from it as written
    * (so the span pass does not resolve the grams twice). */
  def compactSpans(spark: SparkSession, base: String): Unit =
    if (hasData(spark, streamDir(spanGramsDir(base))))
      seal(spark, spansDir(base), Seq(streamDir(spanGramsDir(base)))) { stage =>
        val grams = stage.put(spanGramsDir(base), latestGrams(gramLayers(spark, base)))
        stage.put(spansDir(base), TextQueries.spansFromGrams(grams))
      }

  def eventTransitionsDir(base: String) = s"$base/event_transitions"

  /** Persisted counted event-transition triples (e1, e2, e3, n) for
    * `sfDir`, building on first use. The build runs the user-keyed lead
    * window ONCE — the only expensive shuffle `o6_transitions` /
    * `o7_top_paths` contain — and collapses to event-type³ cardinality,
    * taxonomy-bounded however big the corpus. Null e2/e3 rows (stream
    * tails) are kept so every marginal is recoverable exactly: the
    * transition matrix sums over e3, the path query drops null-lead
    * rows. Same amortization contract as the rollup store
    * ([[graft.streaming.EventStream]] `maintainWindowCounts`): serve the
    * taxonomy-sized analytics from the artifact, never re-shuffle the
    * corpus. */
  def ensureEventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, eventTransitionsDir(base))(_.put(eventTransitionsDir(base),
      RelationalQueries.eventTriples(spark, sfDir).groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))))
    readEventTransitions(spark, base)
  }

  /** Counted triples (e1, e2, e3, n) unioned across the batch build and
    * the streaming store, so o6/o7 stored reads transparently see
    * stream-ingested users. The stream side (written by
    * [[graft.streaming.EventStream]] `maintainTransitions`) resolves
    * LATEST-wins per user first (`transitionCounts` — a corrected
    * history replaces every older emission), then the two sides SUM: a
    * user's stream lives in exactly one subtree (the same
    * source-disjointness contract as doc_id in the bm25/minhash stores),
    * so addition is exact. Both inputs are taxonomy-bounded
    * (event-type³), so the union aggregate shuffles nothing corpus-sized.
    *
    * DELIBERATELY NOT COMPACTED (the one store family without a
    * `compact*`): the batch shape (e1, e2, e3, n) has dropped the USER
    * dimension the stream side's latest-wins-per-user resolve needs —
    * folding stream triples into the batch table would freeze each
    * user's history at seal time, and a later corrected re-emission
    * could no longer supersede it. The stream subtree must stay
    * user-keyed for supersession to work; its listing cost is
    * taxonomy-bounded anyway. */
  def readEventTransitions(spark: SparkSession, base: String): DataFrame = {
    val l = layers(spark, eventTransitionsDir(base))
    def triples(df: DataFrame) = df.select("e1", "e2", "e3", "n")
    l.copy(batch = l.batch.map(triples),
        stream = l.stream.map(s => triples(graft.streaming.EventStream.transitionCounts(s))))
      .get(identity)((b, s) =>
        b.unionByName(s).groupBy("e1", "e2", "e3").agg(sum("n").as("n")))
  }

  def phraseBigramsDir(base: String) = s"$base/phrase_bigrams"

  /** Per-document DISTINCT adjacent-bigram registry (doc_id, bigram) —
    * the fused-key positional index behind `phrase_search_stored`:
    * phrase membership at bigram length needs only adjacency, so the
    * (token, next-token) pair persists as ONE join key and a phrase
    * probe is a broadcast equi-join, no position self-join at read
    * time. Version resolution follows [[readBm25]]: stream rows resolve
    * LATEST-WINS per doc (a re-ingested doc's newest batch replaces its
    * bigram set), then stream docs supersede their batch rows via
    * anti-join. The artifact is positional-index-sized (≈ one row per
    * distinct adjacent pair per doc — the honest cost of phrase search
    * everywhere), but it is written once and probed by broadcast joins. */
  def readPhraseBigrams(spark: SparkSession, base: String): DataFrame =
    docLatestWins(layers(spark, phraseBigramsDir(base), col("doc_id"), col("bigram")))
      .getOrElse(throw missingStore(phraseBigramsDir(base)))

  /** Bigram registry for `sfDir`, building on first use over ALL
    * documents (consumers filter to their corpus slice). The positional
    * pass over text runs once per corpus version; `phrase_search` times
    * the live pass, `phrase_search_stored` probes this artifact, held to
    * the same oracle. */
  def ensurePhraseBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, phraseBigramsDir(base))(
      _.put(phraseBigramsDir(base), SearchQueries.bigramsOf(documents(spark, sfDir))))
    readPhraseBigrams(spark, base)
  }

  // ------------------------------------------------------------------
  // Store compaction: fold the stream-append subtree into the batch
  // subtree. Long-running ingestion accumulates one batch_id partition
  // per micro-batch; every read then pays the partition listing and the
  // resolve. Compaction runs the SAME resolve the reader uses, seals
  // the result as the new batch build ([[seal]]), and drops the stream
  // subtree — post-compaction reads are a single partition-free parquet
  // scan, and the resolve cost is paid once instead of per query.
  //
  // Safe for every family whose reader supersedes batch rows with NEWER
  // stream versions of the same key (or whose law is order-free), so
  // sealing today's resolved state does not change tomorrow's
  // semantics. NOT offered for the event-transition store — its stream
  // side resolves latest-wins on a USER dimension the aggregated batch
  // shape no longer carries.
  //
  // Compaction is a BARRIER operation: run it between ingestion
  // sessions, after the streaming query's checkpoint has committed its
  // offsets. The sealed batch no longer carries batch_id, so the
  // replay-exclusion contract ([[readMinhashBandsExcluding]]) cannot
  // subtract a PRE-compaction epoch from a post-compaction store —
  // exactly the "sealed segments don't replay" rule every
  // log-compacted store (Kafka, LSM trees) lives by.
  // ------------------------------------------------------------------

  /** Compact the phrase-bigram store at `base` (no-op without stream
    * appends). Post-condition: [[readPhraseBigrams]] serves the same
    * rows from the batch subtree alone. */
  def compactPhraseBigrams(spark: SparkSession, base: String): Unit =
    compactInto(spark, phraseBigramsDir(base))(readPhraseBigrams(spark, base))

  /** Compact the minhash band store (union-distinct resolve). */
  def compactMinhashBands(spark: SparkSession, base: String): Unit =
    compactInto(spark, minhashDir(base))(readMinhashBands(spark, base))

  /** Compact the line registry (first-wins resolve). */
  def compactLineRegistry(spark: SparkSession, base: String): Unit =
    compactInto(spark, linesDir(base))(readLineRegistry(spark, base))

  /** Compact the BM25 face — a two-table seal: postings and doclens
    * share one stream subtree, and both resolves read it.
    *
    * The ranked-results face ([[ensureBm25TopK]]) is a SNAPSHOT of
    * pre-append corpus stats — after this seal it is stale, and its
    * pinned manifest would serve it forever. The seal DROPS that face
    * so the next ensureBm25TopK rebuilds from the sealed postings;
    * callers wanting the rebuild eagerly follow the seal with
    * [[refreshBm25TopK]]. */
  def compactBm25(spark: SparkSession, base: String): Unit =
    if (hasData(spark, streamDir(bm25PostingsDir(base)))) {
      val (p, l) = readBm25(spark, base)
      seal(spark, bm25PostingsDir(base), Seq(streamDir(bm25PostingsDir(base))),
          drop = Seq(bm25TopkDir(base))) { stage =>
        stage.put(bm25DoclensDir(base), l)
        stage.put(bm25PostingsDir(base), p)
      }
    }

  def dailyKmvDir(base: String) = s"$base/daily_kmv"

  /** Per-day KMV user sketch (day, h) — the events-table store family.
    * Unlike the document stores there is NO supersession resolve:
    * events are immutable facts, so batch and stream rows simply union,
    * duplicates vanish in the distinct, and the k-min re-rank at read
    * time is exact by KMV's union-closure (the k smallest of a union of
    * per-part k-smallest sets IS the union's k smallest). */
  def readDailyKmv(spark: SparkSession, base: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("h"))
    layers(spark, dailyKmvDir(base), col("day"), col("h")).union.distinct()
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= SketchQueries.KmvK)
      .select("day", "h")
  }

  /** Build-on-first-use for the per-day sketch store. */
  def ensureDailyKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, dailyKmvDir(base))(
      _.put(dailyKmvDir(base), SketchQueries.dailyUserSketch(graft.util.Tables.events(spark, sfDir))))
    readDailyKmv(spark, base)
  }

  /** Compact the daily-sketch store (union + k-min re-rank resolve). */
  def compactDailyKmv(spark: SparkSession, base: String): Unit =
    compactInto(spark, dailyKmvDir(base))(readDailyKmv(spark, base))

  def countMinDir(base: String) = s"$base/count_min"

  /** Merged count-min cells (j, slot, n) — the sketch member whose
    * merge law is ADDITION, not latest-wins or union: every cell is a
    * sum of token-occurrence counts, so batch cells plus each stream
    * epoch's cells simply ADD per (j, slot) — the additive sibling of
    * [[readDailyKmv]]'s KMV union-closure, at CONSTANT read cost (each
    * part contributes ≤4096 rows regardless of corpus size). Like the
    * daily-KMV store, this treats appended documents as immutable
    * facts: re-ingesting a doc adds its occurrences again (an
    * append-only counter sketch has no per-doc identity to resolve). */
  def readCountMin(spark: SparkSession, base: String): DataFrame =
    layers(spark, countMinDir(base), col("j"), col("slot"), col("n")).union
      .groupBy("j", "slot").agg(org.apache.spark.sql.functions.sum("n").as("n"))

  /** Build-on-first-use for the count-min cell store. */
  def ensureCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, countMinDir(base))(_.put(countMinDir(base),
      SketchQueries.countMinCells(SketchQueries.tokenVocab(documents(spark, sfDir)))))
    readCountMin(spark, base)
  }

  /** Compact the count-min store (cell-sum resolve). */
  def compactCountMin(spark: SparkSession, base: String): Unit =
    compactInto(spark, countMinDir(base))(readCountMin(spark, base))

  def hllDir(base: String) = s"$base/hll"

  /** Merged per-stratum HLL registers (stratum, idx, m) — the sketch
    * member whose merge law is MAX: batch registers plus each stream
    * epoch's registers fold with `max(m)` per (stratum, idx). Like
    * Bloom's OR (and unlike count-min/bins' ADD), MAX is idempotent BY
    * VALUE — replaying an epoch, or re-ingesting the same users,
    * changes nothing, so replay needs no per-row identity at all. Read
    * cost is ≤256 rows per stratum per part regardless of how many
    * users ever streamed through. */
  def readHll(spark: SparkSession, base: String): DataFrame =
    layers(spark, hllDir(base), col("stratum"), col("idx"), col("m")).union
      .groupBy("stratum", "idx").agg(max("m").as("m"))

  /** Build-on-first-use for the per-event-type HLL register store. */
  def ensureHll(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, hllDir(base))(_.put(hllDir(base), SketchQueries.hllRegisters(
      events(spark, sfDir).select(col("event_type").as("stratum"), col("user_id")))))
    readHll(spark, base)
  }

  /** Compact the HLL register store (register-MAX resolve). */
  def compactHll(spark: SparkSession, base: String): Unit =
    compactInto(spark, hllDir(base))(readHll(spark, base))

  def quantileBinsDir(base: String) = s"$base/quantile_bins"

  /** Merged per-source length-histogram bins (source, bin, n) — the
    * second ADDITIVE store member (see [[readCountMin]]): bins are
    * counts, so batch rows plus each stream epoch's rows SUM per
    * (source, bin) at ≤256·|sources| read cost regardless of corpus
    * size. Appended documents are immutable facts — re-ingesting a doc
    * counts its length again (additive sketches carry no per-doc
    * identity). Any rollup is a further sum: global percentiles fold
    * over sources, per-source ones filter first. */
  def readQuantileBins(spark: SparkSession, base: String): DataFrame =
    layers(spark, quantileBinsDir(base), col("source"), col("bin"), col("n")).union
      .groupBy("source", "bin").agg(org.apache.spark.sql.functions.sum("n").as("n"))

  /** Build-on-first-use for the per-source quantile-bin store. */
  def ensureQuantileBins(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, quantileBinsDir(base))(
      _.put(quantileBinsDir(base), SketchQueries.sourceLengthBins(documents(spark, sfDir))))
    readQuantileBins(spark, base)
  }

  /** Compact the quantile-bin store (bin-sum resolve). */
  def compactQuantileBins(spark: SparkSession, base: String): Unit =
    compactInto(spark, quantileBinsDir(base))(readQuantileBins(spark, base))

  def bloomDir(base: String) = s"$base/bloom"

  /** Merged eval-set Bloom words (w, bits) — the third sketch store and
    * the one whose merge law is IDEMPOTENT OR: batch words plus each
    * stream epoch's words fold with `bit_or` per word id, so re-ingested
    * eval documents change nothing (bits already set stay set) and
    * replay needs no per-doc identity at all. Read cost is ≤128 rows per
    * part regardless of eval-corpus size — the gate a 100 TB
    * decontamination sweep broadcasts instead of the eval shingle set. */
  def readBloom(spark: SparkSession, base: String): DataFrame =
    layers(spark, bloomDir(base), col("w"), col("bits")).union
      .groupBy("w").agg(expr("bit_or(bits)").as("bits"))

  /** Build-on-first-use for the eval-set Bloom word store. */
  def ensureBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, bloomDir(base))(
      _.put(bloomDir(base), SketchQueries.bloomOf(SketchQueries.evalSplit(documents(spark, sfDir)))))
    readBloom(spark, base)
  }

  /** Compact the Bloom word store (bit_or resolve). */
  def compactBloom(spark: SparkSession, base: String): Unit =
    compactInto(spark, bloomDir(base))(readBloom(spark, base))

  /** Misra–Gries tables: counters and λs, one face, each table with its
    * own `_stream` sibling because their schemas differ. */
  def mgCountersDir(base: String) = s"$base/mg_counters"
  def mgLambdasDir(base: String) = s"$base/mg_lambdas"

  /** Merged per-source Misra–Gries summaries — the BOUNDED-LOSSY store
    * member: the resolve SUMS counters per (source, t) and re-prunes
    * each source with its merged λ_m (the (k+1)-th largest summed
    * counter, 0 when ≤ k rows survive — so a batch-only store resolves
    * to exactly its stored summaries). Unlike KMV's union or
    * count-min's ADD, this merge loses information, but the loss is
    * CAPPED: the resolved λ budget (second table: stored per-source λs
    * summed, plus the re-prune's λ_m) bounds every counter's
    * underestimate, and counters never overestimate — the
    * mergeable-summaries theorem the streaming spec asserts against
    * exact recounts. Appended docs are immutable facts (counters are
    * counts; re-ingestion adds again, as for count-min).
    * Returns (counters (source, t, c), lambdas (source, lam)). */
  def readHeavyHitters(spark: SparkSession, base: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val summed = layers(spark, mgCountersDir(base), col("source"), col("t"), col("c")).union
      .groupBy("source", "t").agg(sum("c").as("c"))
    val rkW = Window.partitionBy(col("source")).orderBy(col("c").desc, col("t"))
    val lamM = summed.withColumn("rk", row_number().over(rkW))
      .groupBy("source")
      .agg(coalesce(max(when(col("rk") === SketchQueries.MgK + 1, col("c"))), lit(0L))
        .as("lam_m"))
    val counters = summed.join(broadcast(lamM), Seq("source"))
      .select(col("source"), col("t"), (col("c") - col("lam_m")).as("c"))
      .filter(col("c") > 0)
    val lambdas = layers(spark, mgLambdasDir(base), col("source"), col("lam")).union
      .groupBy("source").agg(sum("lam").as("lam"))
      .join(broadcast(lamM), Seq("source"), "left")
      .select(col("source"),
        (col("lam") + coalesce(col("lam_m"), lit(0L))).as("lam"))
    (counters, lambdas)
  }

  /** Build-on-first-use for the MG summary store. */
  def ensureHeavyHitters(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, mgCountersDir(base)) { stage =>
      val (counters, lambdas) = SketchQueries.mgSummaries(
        SketchQueries.sourceTokenCounts(documents(spark, sfDir)))
      stage.put(mgLambdasDir(base), lambdas)
      stage.put(mgCountersDir(base), counters)
    }
    readHeavyHitters(spark, base)
  }

  /** Compact the MG face — a two-table seal like [[compactBm25]].
    * Sealing is value-idempotent: re-resolving a compacted store
    * re-prunes with λ_m = 0 and adds nothing to λ. */
  def compactHeavyHitters(spark: SparkSession, base: String): Unit = {
    val streams = Seq(streamDir(mgCountersDir(base)), streamDir(mgLambdasDir(base)))
    if (streams.exists(hasData(spark, _))) {
      val (c, l) = readHeavyHitters(spark, base)
      seal(spark, mgCountersDir(base), streams) { stage =>
        stage.put(mgLambdasDir(base), l)
        stage.put(mgCountersDir(base), c)
      }
    }
  }

  def imagePhashDir(base: String) = s"$base/image_phash"

  /** Persisted image fingerprints (doc_id, phash) — the multimodal
    * member of the store layer: decode+hash runs once per image version
    * (the expensive stage: a full ImageIO decode per payload), and every
    * dedup/audit run reads 16 bytes per image instead of re-decoding
    * pixels. Stream rows resolve LATEST-WINS per doc (a re-ingested
    * image's newest epoch replaces its fingerprint), then stream docs
    * supersede their batch rows — the [[readBm25]] contract. */
  def readImagePhash(spark: SparkSession, base: String): DataFrame =
    docLatestWins(layers(spark, imagePhashDir(base), col("doc_id"), col("phash")))
      .getOrElse(throw missingStore(imagePhashDir(base)))

  /** Image fingerprints for `sfDir`, building (decode + hash over the
    * synthesized PNG payloads) on first use. `mm_image_phash` times the
    * live decode; `mm_image_phash_stored` reads this artifact, held to
    * the same oracle. */
  def ensureImagePhash(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, imagePhashDir(base))(_.put(imagePhashDir(base),
      Multimodal.imagePhash(Multimodal.pngAssets(documents(spark, sfDir)))))
    readImagePhash(spark, base)
  }

  /** Compact the image-phash store (latest-wins resolve). */
  def compactImagePhash(spark: SparkSession, base: String): Unit =
    compactInto(spark, imagePhashDir(base))(readImagePhash(spark, base))

  def frameDiffDir(base: String) = s"$base/frame_diffs"

  /** Persisted per-video frame-pair energies (doc_id, idx, diff_l1) —
    * the video member of the store layer: the pair kernel (32 byte
    * deltas per consecutive-frame pair, the expensive corpus pass) runs
    * once per video version, and every cut/segment/keyframe consumer
    * reads pair-cardinality rows. Stream rows resolve LATEST-WINS per
    * doc (a re-ingested video's newest epoch replaces its WHOLE pair
    * set — pair rows are per-version atomic, a shorter re-upload must
    * not leave stale high-idx rows), then stream docs supersede their
    * batch rows — the [[readImagePhash]] contract. */
  def readFrameDiffs(spark: SparkSession, base: String): DataFrame =
    docLatestWins(layers(spark, frameDiffDir(base), col("doc_id"), col("idx"), col("diff_l1")))
      .getOrElse(throw missingStore(frameDiffDir(base)))

  /** Frame-pair energies for `sfDir`, building on first use.
    * `mm_shot_boundaries` / `mm_keyframe_pick` time the live kernel;
    * their `_stored` twins read this artifact, held to the same
    * oracles. */
  def ensureFrameDiffs(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, frameDiffDir(base))(
      _.put(frameDiffDir(base), Multimodal.frameDiffs(documents(spark, sfDir))))
    readFrameDiffs(spark, base)
  }

  /** Compact the frame-diff store (latest-wins resolve). */
  def compactFrameDiffs(spark: SparkSession, base: String): Unit =
    compactInto(spark, frameDiffDir(base))(readFrameDiffs(spark, base))

  /** Compact the IVF assignment store (latest-wins per vec_id). */
  def compactIvfAssignments(spark: SparkSession, base: String): Unit =
    compactInto(spark, ivfDir(base))(readIvfAssignments(spark, base))

  /** Compact the int8-quantized vector store (latest-wins per vec_id). */
  def compactQuantizedVectors(spark: SparkSession, base: String): Unit =
    compactInto(spark, q8Dir(base))(readQuantizedVectors(spark, base))

  /** Compact the PQ code store (latest-wins per vec_id; the codebook
    * artifact is immutable and untouched). The seal keeps the PACKED
    * form the batch subtree stores ([[readPqCodes]] unpacks). */
  def compactPqCodes(spark: SparkSession, base: String): Unit =
    compactInto(spark, pqCodesDir(base))(packedCodes(spark, pqCodesDir(base)))

  /** BM25 faces: postings (doc_id, token, tf, dl) and the per-doc
    * length table (doc_id, dl). They share ONE stream subtree beside the
    * postings face; stream doclens derive from the postings rows. */
  def bm25PostingsDir(base: String) = s"$base/bm25_postings"
  def bm25DoclensDir(base: String) = s"$base/bm25_doclens"

  /** Stored postings + doclens at `base`: the batch subtrees and/or the
    * stream-append subtree (a store may be purely batch-built, purely
    * stream-built, or both — same contract as [[readMinhashBands]]).
    * Doc versions resolve LATEST-WINS keyed on doc_id: a doc re-ingested
    * with CHANGED text keeps only its newest batch's (token, tf, dl)
    * rows and one doclens row — full-row distinct alone would retain
    * both versions and inflate tf/df and the corpus stats. Byte-identical
    * replays were already idempotent (dynamic partition overwrite of the
    * batch_id partition); this extends the contract to content changes.
    * The version resolve is one max aggregate on doc_id (tiny next to
    * the postings themselves) + a semi-join; stream doclens derive from
    * the postings rows (every doc has ≥1 posting — the tokenizer never
    * returns an empty array). A stream-ingested version supersedes the
    * batch rows of the same doc (anti-join prune), so tf/df/n never
    * double-count. */
  def readBm25(spark: SparkSession, base: String): (DataFrame, DataFrame) = {
    val l = layers(spark, bm25PostingsDir(base))
    val stream = l.stream.map(_.select("doc_id", "token", "tf", "dl", "batch_id"))
    val lens = Layers(bm25DoclensDir(base), batch(spark, bm25DoclensDir(base)),
      stream.map(_.select("doc_id", "dl", "batch_id")))
    (docLatestWins(l.copy(stream = stream)), docLatestWins(lens)) match {
      case (Some(p), Some(d)) => (p, d)
      case _ => throw missingStore(bm25PostingsDir(base))
    }
  }


  /** Persisted BM25 postings ((doc_id, token, tf, dl) over ALL documents
    * — query-set agnostic) plus the per-doc length table (doc_id, dl)
    * the corpus stats derive from, building on first use. The postings
    * build (token explode + corpus-wide (doc, token) aggregate) is the
    * expensive stage of search and changes only when documents change;
    * `bm25_search` times the live build, `bm25_search_stored` is held to
    * the same oracle and never re-tokenizes corpus text. */
  def ensureBm25(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, bm25PostingsDir(base)) { stage =>
      val docs = documents(spark, sfDir)
      stage.put(bm25DoclensDir(base), SearchQueries.doclensOf(docs))
      stage.put(bm25PostingsDir(base), SearchQueries.postingsOf(docs))
    }
    // spread the postings across all cores at the SERVING boundary: a
    // fixture-scale store arrives as one input split, which serializes
    // every consumer's broadcast-join + partial-agg map stage onto one
    // task (measured: bool_search_and_stored ran SLOWER than its live
    // twin, 1.00 vs 0.59 s — the live path already spreads). At 100 TB
    // the store is many splits and the widen is a no-op; compaction and
    // stream plumbing use readBm25 directly and keep their layout.
    // HASH-spread by doc_id (not round-robin): every consumer
    // aggregates per document or per (qid, doc) — keeping a doc's
    // postings on one partition lets those partial aggs collapse
    // map-side (round-robin inflated bm25_search_stored's contribution
    // exchange to one partial row per (pair, partition) — 7 of its 10
    // task-CPU-seconds, stage-profiled r11).
    val (p, l) = readBm25(spark, base)
    (TextQueries.spreadBy(p, col("doc_id")), l)
  }

  def bm25TopkDir(base: String) = s"$base/bm25_topk"

  /** Ranked-results face — the 22nd store face: the BM25 top-10 per
    * eval query (qid, doc_id, rank, score), built once from the
    * postings store by [[SearchQueries.bm25TopKOf]]. Eval consumers
    * (snippets, RBO, fusion legs, PRF round 1, hard negatives, context
    * packing) read ≤10×queries rows instead of re-running retrieval.
    * BM25 scores depend on corpus-wide stats (df, avgdl), so this face
    * is a SNAPSHOT: stream appends to the postings store do not patch
    * it (no exact incremental top-k exists under BM25). The
    * [[compactBm25]] seal DROPS a stale face so it can never be served
    * past the seal; [[refreshBm25TopK]] rebuilds it eagerly. */
  def ensureBm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = bm25TopkDir(defaultBase(spark, sfDir))
    sealOnce(spark, dir)(_.put(dir, SearchQueries.bm25TopKOf(spark, sfDir)))
    published(spark, dir)
  }

  /** Rebuild the ranked-results snapshot from the current postings
    * store — the seal-time companion of [[compactBm25]]. */
  def refreshBm25TopK(spark: SparkSession, sfDir: String): Unit = {
    val dir = bm25TopkDir(defaultBase(spark, sfDir))
    seal(spark, dir)(_.put(dir, SearchQueries.bm25TopKOf(spark, sfDir)))
  }

  def linesDir(base: String) = s"$base/line_registry"

  /** The first-occurrence line registry — (line_fp, first_doc,
    * first_idx), md5 only, never text — unioned across the batch build
    * and stream appends, resolved FIRST-WINS: the owner of a line is the
    * global minimum (first_doc, first_idx) over every candidate row, so
    * the result is independent of micro-batch arrival order (a replayed
    * or late batch can only propose the same or a later owner, and a
    * late batch carrying a LOWER doc_id correctly takes ownership).
    * Contrast with the bm25/IVF stores, which resolve LATEST-wins:
    * supersession direction follows the semantic (newest content version
    * there, earliest occurrence here). The batch build is already
    * one-row-per-line, so a batch-only registry is served as stored. */
  def readLineRegistry(spark: SparkSession, base: String): DataFrame = {
    def resolve(df: DataFrame) =
      df.drop("batch_id").groupBy("line_fp")
        .agg(min(struct(col("first_doc"), col("first_idx"))).as("o"))
        .select(col("line_fp"), col("o.first_doc").as("first_doc"),
          col("o.first_idx").as("first_idx"))
    layers(spark, linesDir(base), col("line_fp"), col("first_doc"), col("first_idx"))
      .get(resolve)((b, s) => resolve(b.unionByName(s.drop("batch_id"))))
  }

  /** First-occurrence line registry for `sfDir`, building on first use.
    * The corpus-wide line window (the expensive stage of line dedup —
    * every 10-token line of every document shuffles once) runs once per
    * corpus version; `dedup_lines` times the live window,
    * `dedup_lines_stored` re-splits its documents map-side and
    * equi-joins this artifact, held to the same oracle. */
  def ensureLineRegistry(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, linesDir(base))(_.put(linesDir(base),
      TextQueries.lineRegistryOf(TextQueries.linesOf(documents(spark, sfDir)))))
    readLineRegistry(spark, base)
  }

  def clustersDir(base: String) = s"$base/clusters"

  /** Near-dup cluster assignments (doc_id, cluster_id) for `sfDir`,
    * building on first use. The second amortization tier: the
    * connected-components fixpoint over the LSH graph is iterative (the
    * expensive part of the dedup family) and, like the signatures it is
    * derived from, changes only when documents change — so curation /
    * selection runs consume the persisted assignment table instead of
    * re-running the fixpoint. `dedup_clusters` times the live compute;
    * this store is what a production corpus pipeline reads. */
  def ensureClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val base = defaultBase(spark, sfDir)
    sealOnce(spark, clustersDir(base))(_.put(clustersDir(base), TextQueries.clusterAssignments(spark, sfDir)))
    published(spark, clustersDir(base))
  }

  /** Current cluster assignments at `base`, empty when never built. */
  def readClusters(spark: SparkSession, base: String): DataFrame =
    batch(spark, clustersDir(base)).fold(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id")))(
      _.select("doc_id", "cluster_id"))

  /** INCREMENTAL connected-components maintenance — the streaming twin
    * of the cluster store (batch rebuilds run the full fixpoint; a
    * micro-batch must not). A delta of candidate pairs can only (a)
    * attach new docs and (b) MERGE existing components, and both are
    * expressible over component LABELS instead of members:
    *
    *   1. map each delta-pair endpoint to its current label (unseen
    *      docs label themselves) — a broadcast-sized join against the
    *      store;
    *   2. the distinct (labelA ≠ labelB) pairs are the COMPONENT-graph
    *      edges this delta creates: bounded by the delta's touched
    *      components, so a driver union-find (min-label merge) resolves
    *      them — the repo's bounded-driver-fold discipline, applied
    *      after the distributed distinct;
    *   3. rewrite = one broadcast remap join over the store plus the
    *      delta docs' new rows, sealed as the face's next stage, so
    *      readers never see a partial state.
    *
    * Exactness: each component's label is its min member, and min is
    * associative over merges — so ingesting a corpus in ANY micro-batch
    * split yields bit-identical assignments to the one-shot fixpoint
    * over the union (spec-pinned). Replay-idempotent: re-merging merged
    * labels is a no-op and re-appended docs already exist. Crash window
    * (pairs appended, clusters not yet merged) heals at the next
    * [[compactClusters]] seal, which recomputes the fixpoint from the
    * pair store. */
  def updateClustersWithDelta(spark: SparkSession, base: String,
      deltaDocs: DataFrame, deltaPairRows: DataFrame): Unit = {
    val cur = readClusters(spark, base).localCheckpoint()
    val labeled = deltaPairRows.select("doc_a", "doc_b")
      .join(cur.select(col("doc_id").as("doc_a"), col("cluster_id").as("la0")),
        Seq("doc_a"), "left")
      .join(cur.select(col("doc_id").as("doc_b"), col("cluster_id").as("lb0")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la0"), col("doc_a")).as("la"),
        coalesce(col("lb0"), col("doc_b")).as("lb"),
        col("doc_a"), col("doc_b"))
      .localCheckpoint()
    // component-graph edges: distinct label pairs (bounded, driver fold)
    val edges = labeled.filter(col("la") =!= col("lb"))
      .select("la", "lb").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min-label merge
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val remap = parent.keys.map(k => k -> find(k)).filter(p => p._1 != p._2).toSeq
    import spark.implicits._
    val remapDf = broadcast(remap.toDF("old_label", "new_label"))
    // docs entering the store this delta: the batch docs plus any pair
    // endpoint not yet assigned (a band-store-only doc can surface here)
    val newDocs = deltaDocs.select("doc_id")
      .unionByName(labeled.select(col("doc_a").as("doc_id")))
      .unionByName(labeled.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("cluster_id", col("doc_id"))
    val next = cur.unionByName(newDocs)
      .join(remapDf, col("cluster_id") === col("old_label"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    seal(spark, clustersDir(base))(_.put(clustersDir(base), next))
  }

  /** Seal for the cluster store: recompute the full fixpoint from the
    * (compacted) pair store — reconciles the crash window between a
    * pair append and its cluster merge. The doc universe is the union
    * of the cluster store, the pair endpoints AND the band store's
    * doc_ids: deriving it from the cluster store alone would SEAL a
    * loss if that store were ever damaged (every appended doc has band
    * rows, so the band store is the durable roll-call; singletons
    * resolve to themselves). */
  def compactClusters(spark: SparkSession, base: String): Unit = {
    val pairs = readPairs(spark, base, "k8")
    val docs = readClusters(spark, base).select("doc_id")
      .unionByName(pairs.select(col("doc_a").as("doc_id")))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .unionByName(
        bandLayers(spark, minhashDir(base), col("band").cast("int"), None)
          .map(_.select("doc_id"))
          .getOrElse(spark.range(0).select(col("id").as("doc_id"))))
      .distinct()
    seal(spark, clustersDir(base))(_.put(clustersDir(base), TextQueries.clusterAssignmentsOf(docs, pairs)))
  }
}
