package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.SignatureStore
import graft.operators.SignatureStore.{appendEpoch, streamDir}

/** Structured Streaming surface.
  *
  * The reference has no streaming (SURVEY §2.11) — its time axis is a
  * batch dimension. This module adds the streaming capabilities a
  * training-data pipeline needs on the same `events` schema: watermarked
  * windowed aggregation and custom per-key state. The transforms are
  * source-agnostic `DataFrame => DataFrame`, so the same code serves
  * `readStream` (production) and MemoryStream (tests).
  */
object EventStream {

  /** Watermarked tumbling-window counts per event type. State is bounded
    * by the watermark — late events beyond `delay` are dropped, so state
    * size is O(types × windows-in-flight), cluster-safe. Tune `delay`
    * with the window: a day-granularity aggregation usually tolerates
    * hours of lateness; a minute-granularity one wants tight state. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Stream-stream interval join — the streaming twin of the batch
    * `j6_range_join`: every error a user produced in the `windowSec`
    * seconds BEFORE each purchase, with both inputs unbounded. The
    * required mechanics this function pins: BOTH streams carry
    * watermarks (`delay`), and the join condition bounds the two event
    * times against each other — together they let the engine expel
    * buffered error rows once no future purchase can reach back to them
    * (without the time bound the error-side state grows forever; the
    * watermark alone is not enough for stream-stream joins). State per
    * key is therefore O(events inside one window span), independent of
    * stream length. Inputs: two streaming DataFrames with (user_id, ts,
    * event_id) columns. */
  def intervalJoinPurchaseErrors(purchases: DataFrame, errors: DataFrame,
      windowSec: Long = 21600L, delay: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val e = errors.withWatermark("ts", delay)
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
    p.join(e,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("e_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("error_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("e_ts"))).as("gap_us"))
  }

  /** LEFT-OUTER stream-stream interval join — the semantics the inner
    * variant cannot express: every purchase emits exactly once, with
    * NULL error columns when no error preceded it in the window. The
    * outer mechanics are the point: an unmatched purchase CANNOT emit
    * when first seen (a matching error may still arrive late), so the
    * engine holds it in state and emits the null-padded row only when
    * the watermark passes the end of its join window — outer results
    * are therefore delayed by watermark+window by construction, the
    * price of exactly-once unmatched emission on unbounded inputs.
    * Same state bound as the inner join: both sides watermarked, event
    * times bounded against each other. */
  def intervalLeftJoinPurchaseErrors(purchases: DataFrame, errors: DataFrame,
      windowSec: Long = 21600L, delay: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val e = errors.withWatermark("ts", delay)
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
    p.join(e,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("e_ts") <= col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), col("error_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("e_ts"))).as("gap_us"))
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserSession(user_id: Long, n_events: Long, total_value: Double)
  case class SessionState(sessionStart: Long, lastSeen: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp, n_events: Long, closed: Boolean)

  /** Streaming sessionization via flatMapGroupsWithState — the streaming
    * twin of the batch `o4_sessionize` query (gap > `gapMs` closes the
    * session and emits it; the open session is emitted as a running
    * update). Event-time driven off the rows themselves, so results are
    * deterministic for a given input split. */
  def sessionize(events: Dataset[UserEvent], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var out = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(sess) if t - sess.lastSeen > gapMs =>
                out ::= SessionOut(uid, new java.sql.Timestamp(sess.sessionStart), sess.n, closed = true)
                cur = Some(SessionState(t, t, 1))
              case Some(sess) =>
                // Cross-batch out-of-order events absorb without rewinding
                // the session bounds: lastSeen must stay the MAX seen time
                // (else a late event shrinks the gap window and splits the
                // session) and session_start the MIN.
                cur = Some(SessionState(
                  math.min(sess.sessionStart, t), math.max(sess.lastSeen, t), sess.n + 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          val open = cur.map(sess =>
            SessionOut(uid, new java.sql.Timestamp(sess.sessionStart), sess.n, closed = false))
          (out.reverse ++ open).iterator
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * `dedup_exact`/`text_fingerprint` pair: whitespace-normalized md5
    * fingerprint → `dropDuplicatesWithinWatermark`. Dedup state holds
    * one fingerprint per distinct document inside the watermark horizon
    * and is evicted beyond it, so memory stays bounded under continuous
    * ingest (exact ALL-time dedup is the batch path over the signature
    * store; this guards the stream against near-in-time re-sends). */
  def dedupExactStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.operators.TextQueries.fingerprintCol(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Incremental signature maintenance — the continuous-ingest side of
    * [[graft.operators.SignatureStore]]: each micro-batch of new
    * documents is minhash-banded with the SAME builder the batch dedup
    * queries use and appended to the store, so LSH dedup always reads
    * current signatures and history is never re-hashed.
    *
    * Idempotent under epoch replay: foreachBatch is at-least-once, so a
    * blind append would duplicate rows when a batch replays after a
    * driver failure (duplicates would inflate bucket counts and could
    * push a legitimate bucket over the degenerate-bucket cap). Writes
    * are therefore keyed by `batch_id` with dynamic partition overwrite:
    * a replayed epoch overwrites exactly its own partitions.
    *
    * Writes land in the store's STREAM subtree
    * ([[graft.operators.SignatureStore.streamDir]] of `minhashDir`) — the batch
    * subtree is partitioned by `band` alone, so `(batch_id, band)` rows
    * written into it would break partition discovery for every
    * subsequent reader. `SignatureStore.readMinhashBands` unions both. */
  def maintainSignatures(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.TextQueries.minhashBandsOf(batch),
          streamDir(SignatureStore.minhashDir(storeBase)), batchId, "band")
    }

  /** Incremental OPH band maintenance — [[maintainSignatures]] on the
    * one-permutation layout: each micro-batch signs its documents with
    * the SAME builder the stored path reads
    * ([[graft.operators.TextQueries.ophBandsOf]]) and lands batch_id-
    * keyed with dynamic partition overwrite, so a replayed epoch
    * overwrites exactly its own partitions (band rows are pure
    * functions of the document — replay-idempotent by value). */
  def maintainOph(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.TextQueries.ophBandsOf(batch),
          streamDir(SignatureStore.ophDir(storeBase)), batchId, "band")
    }

  /** Incremental candidate-PAIR maintenance — [[maintainSignatures]]
    * plus the 21st store family's delta: each micro-batch (1) appends
    * its band rows exactly as maintainSignatures does, then (2) appends
    * the candidate pairs that TOUCH the delta
    * ([[graft.operators.TextQueries.deltaPairs]] — delta × all on
    * (band, key)), so the pair store's consumers (clusters, graph
    * family, agreement audits) never re-run the full banded self-join
    * over history. The delta joins against the band state EXCLUDING
    * this epoch's own earlier append
    * ([[graft.operators.SignatureStore.readMinhashBandsExcluding]]) —
    * a replayed epoch would otherwise pair every delta doc against its
    * own prior partial write. Both writes are batch_id-keyed dynamic
    * partition overwrites: replay rewrites exactly its own partitions.
    * The localCheckpoint pins the signed delta so the band write and
    * the pair join don't re-sign the batch text twice. */
  def maintainCandidatePairs(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.TextQueries.minhashBandsOf(batch)
          .localCheckpoint()
        appendEpoch(delta, streamDir(SignatureStore.minhashDir(storeBase)), batchId, "band")
        val all = graft.operators.SignatureStore
          .readMinhashBandsExcluding(spark, storeBase, batchId)
          .unionByName(delta).distinct()
        graft.operators.SignatureStore.appendPairsDelta(
          spark, storeBase, "k8", delta, all, batchId)
    }

  /** The full dedup-index maintainer: bands + candidate pairs + CLUSTER
    * assignments, one micro-batch at a time — the streaming story for
    * the whole near-dup stack. Steps per epoch: (1) sign the batch and
    * append its band rows ([[maintainSignatures]] contract); (2)
    * enumerate the delta candidate pairs ONCE
    * ([[graft.operators.TextQueries.deltaPairs]]) and append them to
    * the pair store; (3) fold the same pairs into the cluster store
    * incrementally ([[graft.operators.SignatureStore
    * .updateClustersWithDelta]] — label-graph union-find, never a
    * corpus fixpoint). Ingesting a corpus in ANY micro-batch split
    * yields assignments bit-identical to the one-shot batch fixpoint
    * (min-label merge is associative; IncrementalClustersSpec pins it).
    * Replay-safe: band/pair writes are batch_id-keyed overwrites and
    * the cluster merge is idempotent; the crash window between (2) and
    * (3) heals at the [[graft.operators.SignatureStore
    * .compactClusters]] seal. */
  def maintainClusters(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        clustersEpoch(batch, batchId, storeBase)
    }

  /** One epoch of [[maintainClusters]], callable directly — the replay
    * contract says re-running an epoch (at-least-once redelivery, any
    * time later) leaves every served face unchanged, and the
    * cross-family soak spec exercises exactly that by invoking THIS
    * code path out of band. */
  def clustersEpoch(batch: DataFrame, batchId: Long, storeBase: String): Unit = {
    val spark = batch.sparkSession
    val pinned = batch.localCheckpoint()
    val delta = graft.operators.TextQueries.minhashBandsOf(pinned)
      .localCheckpoint()
    appendEpoch(delta, streamDir(SignatureStore.minhashDir(storeBase)), batchId, "band")
    val all = graft.operators.SignatureStore
      .readMinhashBandsExcluding(spark, storeBase, batchId)
      .unionByName(delta).distinct()
    val dp = graft.operators.TextQueries.deltaPairs(delta, all)
      .localCheckpoint()
    graft.operators.SignatureStore.appendPairRows(
      spark, storeBase, "k8", dp, batchId)
    graft.operators.SignatureStore.updateClustersWithDelta(
      spark, storeBase, pinned.select("doc_id"), dp)
  }

  /** Incremental BM25 postings maintenance — the search-family twin of
    * [[maintainSignatures]]: each micro-batch of new documents is
    * tokenized ONCE with the same builder the stored search path uses
    * ([[graft.operators.SearchQueries.postingsOf]]) and appended to the
    * store's stream subtree, so `SignatureStore.readBm25` serves
    * searches over batch + stream docs without ever re-tokenizing
    * history. Same replay contract as the signature store: batch_id-
    * keyed dynamic partition overwrite, so a replayed epoch overwrites
    * exactly its own partitions instead of doubling term frequencies. */
  def maintainPostings(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        postingsEpoch(batch, batchId, storeBase)
    }

  /** One epoch of [[maintainPostings]] — see [[clustersEpoch]]. */
  def postingsEpoch(batch: DataFrame, batchId: Long, storeBase: String): Unit =
    appendEpoch(graft.operators.SearchQueries.postingsOf(batch),
      streamDir(SignatureStore.bm25PostingsDir(storeBase)), batchId)

  /** Incremental per-day KMV sketch maintenance — the events-table store
    * twin: each micro-batch of events (user_id, ts_ns) contributes its
    * own per-day k-min rows, appended batch_id-keyed. No supersession is
    * needed on the read side ([[graft.operators.SignatureStore
    * .readDailyKmv]]): KMV union-closure makes the re-rank over
    * batch ∪ stream rows exactly the sketch of all events ever seen,
    * and replayed epochs overwrite their own partitions. */
  def maintainDailyKmv(events: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SketchQueries.dailyUserSketch(batch),
          streamDir(SignatureStore.dailyKmvDir(storeBase)), batchId)
    }

  /** Incremental phrase-bigram maintenance — the phrase-search twin of
    * [[maintainPostings]]: each micro-batch of new documents runs the
    * SAME one-pass positional bigram builder the batch store uses
    * ([[graft.operators.SearchQueries.bigramsOf]]) and appends its
    * per-doc distinct bigrams batch_id-keyed to the registry's stream
    * subtree. The read side ([[graft.operators.SignatureStore
    * .readPhraseBigrams]]) resolves LATEST-WINS per doc and supersedes
    * batch rows, so a re-ingested document's phrases reflect only its
    * newest text and replayed epochs overwrite exactly their own
    * partitions. */
  def maintainPhraseBigrams(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SearchQueries.bigramsOf(batch),
          streamDir(SignatureStore.phraseBigramsDir(storeBase)), batchId)
    }

  /** Incremental image-fingerprint maintenance — the multimodal twin of
    * [[maintainPostings]]: each micro-batch of (doc_id, payload) binary
    * assets runs the SAME real decode+hash the batch store uses
    * ([[graft.operators.Multimodal.imagePhash]]) and appends its
    * fingerprints batch_id-keyed. The read side resolves LATEST-WINS per
    * doc, so a re-ingested image (new payload, same id) replaces its
    * fingerprint instead of duplicating it; undecodable payloads drop in
    * the decoder and never write a row. A doc appearing TWICE in the
    * same micro-batch resolves here, before the kernel: one payload per
    * doc survives (hash-tiebreak — arbitrary but deterministic given
    * batch content, so replays stay idempotent), since batch_id alone
    * cannot order rows within a batch. */
  def maintainImagePhash(assets: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    assets.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.Multimodal.imagePhash(
          batch.groupBy("doc_id")
            .agg(max_by(col("payload"), xxhash64(col("payload"))).as("payload"))),
          streamDir(SignatureStore.imagePhashDir(storeBase)), batchId)
    }

  /** Incremental frame-diff maintenance — the video twin of
    * [[maintainImagePhash]]: each micro-batch of (doc_id, text) video
    * documents runs the SAME pair kernel the batch store uses
    * ([[graft.operators.Multimodal.frameDiffs]]) and appends
    * batch_id-keyed; the read side resolves latest-wins PER DOC, so a
    * re-ingested video's newest epoch replaces its whole pair set.
    * Replays are idempotent (dynamic partition overwrite). A doc
    * appearing TWICE in one micro-batch resolves here before the
    * kernel (hash-tiebreak, deterministic given batch content) —
    * otherwise conflicting (idx, diff_l1) row SETS from both versions
    * would survive the read side's per-doc latest-wins, which can only
    * discriminate across batches. */
  def maintainFrameDiffs(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.Multimodal.frameDiffs(
          batch.groupBy("doc_id")
            .agg(max_by(col("text"), xxhash64(col("text"))).as("text"))),
          streamDir(SignatureStore.frameDiffDir(storeBase)), batchId)
    }

  /** Incremental count-min maintenance — the ADDITIVE member of the
    * store layer: each micro-batch of (doc_id, text) documents folds its
    * own vocabulary and appends its 4×1024 cell table batch_id-keyed;
    * the read side ([[graft.operators.SignatureStore.readCountMin]])
    * SUMS cells per (j, slot) across batch + every epoch — count-min is
    * mergeable by construction (cells are sums), the same law
    * `count_min_merge_sources` proves per-source. Replays are idempotent
    * (dynamic partition overwrite rewrites the epoch's own cells);
    * appended docs are immutable facts — re-ingesting a doc adds its
    * occurrences again, as any append-only counter does. */
  def maintainCountMin(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SketchQueries.countMinCells(
            graft.operators.SketchQueries.tokenVocab(batch)),
          streamDir(SignatureStore.countMinDir(storeBase)), batchId)
    }

  /** Incremental HLL register maintenance — the MAX member of the store
    * layer: each micro-batch of (user_id, event_type, …) events folds
    * its own 256-register table per event type (the same
    * [[graft.operators.SketchQueries.hllRegisters]] builder the batch
    * store uses) and appends it batch_id-keyed; the read side
    * ([[graft.operators.SignatureStore.readHll]]) resolves with
    * `max(m)` per (stratum, idx). Like Bloom's OR — and unlike
    * count-min/bins' ADD — MAX is idempotent by VALUE: replaying an
    * epoch or re-ingesting the same users leaves every register where
    * it was, so the distinct-count contract survives any merge order
    * and any at-least-once delivery. Registers only ever climb. */
  def maintainHll(events: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SketchQueries.hllRegisters(
            batch.select(col("event_type").as("stratum"), col("user_id"))),
          streamDir(SignatureStore.hllDir(storeBase)), batchId)
    }

  /** Incremental Bloom-gate maintenance — the IDEMPOTENT member of the
    * store layer: each micro-batch of newly-published eval documents
    * (doc_id, text) folds its 12-gram shingle hashes into ≤128 Bloom
    * words and appends them batch_id-keyed; the read side
    * ([[graft.operators.SignatureStore.readBloom]]) resolves with
    * `bit_or` per word — OR is idempotent, so a replayed or re-ingested
    * eval doc sets bits that are already set and the served filter is
    * unchanged (the only store family whose VALUES, not just its
    * partition-overwrite protocol, absorb replays). Bits only ever turn
    * on: the no-false-negative contract survives every merge order. */
  def maintainBloom(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SketchQueries.bloomOf(batch),
          streamDir(SignatureStore.bloomDir(storeBase)), batchId)
    }

  /** Incremental Misra–Gries maintenance — the BOUNDED-LOSSY member of
    * the store layer: each micro-batch of (doc_id, source, text)
    * documents folds its own per-source summaries (counters + λ, the
    * same [[graft.operators.SketchQueries.mgSummaries]] builder the
    * batch store uses) and appends both batch_id-keyed; the read side
    * ([[graft.operators.SignatureStore.readHeavyHitters]]) SUMS
    * counters per (source, t) and re-prunes with the merged λ_m —
    * Agarwal et al.'s mergeable-summaries merge, whose loss is capped
    * by the accumulated λ budget the second table tracks. Unlike the
    * exact-merge stores, the resolved summary need not equal a
    * from-scratch build over all docs ever seen — the streaming spec
    * asserts the THEOREM instead (no overestimates; underestimates
    * ≤ resolved λ), which is the contract MG actually offers. Replays
    * are idempotent (dynamic partition overwrite rewrites the epoch's
    * own summary); appended docs are immutable facts. */
  def maintainHeavyHitters(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val (counters, lambdas) = graft.operators.SketchQueries.mgSummaries(
          graft.operators.SketchQueries.sourceTokenCounts(batch))
        appendEpoch(counters, streamDir(SignatureStore.mgCountersDir(storeBase)), batchId)
        appendEpoch(lambdas, streamDir(SignatureStore.mgLambdasDir(storeBase)), batchId)
    }

  /** Incremental quantile-bin maintenance — the second additive store
    * member (see [[maintainCountMin]]): each micro-batch of
    * (doc_id, source, n_chars) documents folds its own per-source
    * 256-bin length histogram and appends it batch_id-keyed; the read
    * side SUMS bins per (source, bin) across batch + epochs — the
    * distributive-aggregate ADD law `quantile_binned_stored`'s oracle
    * hash-checks. Replays are idempotent (dynamic partition overwrite);
    * appended docs are immutable facts. */
  def maintainQuantileBins(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.SketchQueries.sourceLengthBins(batch),
          streamDir(SignatureStore.quantileBinsDir(storeBase)), batchId)
    }

  /** Incremental line-registry maintenance — the line-dedup twin of
    * [[maintainPostings]]: each micro-batch of new documents is split
    * into 10-token lines with the SAME builder the batch registry uses
    * ([[graft.operators.TextQueries.linesOf]] → lineRegistryOf), and its
    * per-batch first occurrences are appended to the registry's stream
    * subtree. The read side ([[graft.operators.SignatureStore
    * .readLineRegistry]]) resolves ownership FIRST-WINS (global minimum
    * (first_doc, first_idx) across every appended candidate), so the
    * resolved registry is independent of micro-batch arrival order —
    * out-of-order and replayed batches converge to the batch-computed
    * registry. Same replay contract as every store: batch_id-keyed
    * dynamic partition overwrite. */
  def maintainLineRegistry(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.TextQueries.lineRegistryOf(
            graft.operators.TextQueries.linesOf(batch)),
          streamDir(SignatureStore.linesDir(storeBase)), batchId)
    }

  /** Incremental span-store maintenance — the substring-dedup twin of
    * [[maintainLineRegistry]]: each micro-batch of new documents is
    * scanned ONCE into positioned 8-gram fingerprints with the SAME
    * builder the batch store uses
    * ([[graft.operators.TextQueries.positionedGrams8]] — md5 only,
    * never text) and appended to the gram subtree. Spans themselves are
    * NOT computed per batch: duplication is a corpus-wide property (a
    * streamed doc can create duplication inside a batch-era doc), so
    * the read side ([[graft.operators.SignatureStore.readSpans]])
    * re-derives spans over the unioned gram table — exact by
    * construction, text never rescanned. Same replay contract as every
    * store: batch_id-keyed dynamic partition overwrite; re-sent docs
    * resolve latest-wins at read. */
  def maintainSpanGrams(docs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.TextQueries.positionedGrams8(batch),
          streamDir(SignatureStore.spanGramsDir(storeBase)), batchId)
    }

  /** Incremental IVF-assignment maintenance — the vector-index twin of
    * [[maintainSignatures]] / [[maintainPostings]]: each micro-batch of
    * new vectors is assigned to its nearest coarse centroid with the
    * SAME max_by-aggregate builder the batch index uses
    * ([[graft.operators.VectorQueries.ivfAssign]], against a FIXED
    * centroid table — re-quantizing is a batch rebuild, not an append)
    * and appended to the store's stream subtree, so IVF probes serve
    * batch + stream vectors without re-scoring history. Same replay
    * contract: batch_id-keyed dynamic partition overwrite. */
  def maintainIvfAssignments(vecs: DataFrame, storeBase: String,
      centroids: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.VectorQueries.ivfAssign(batch, centroids),
          streamDir(SignatureStore.ivfDir(storeBase)), batchId)
    }

  /** Incremental int8-code maintenance — the quantized-store twin of
    * [[maintainIvfAssignments]]: each micro-batch of new vectors is
    * quantized with the SAME builder the batch store uses
    * ([[graft.operators.VectorQueries.quantizeInt8]]) and appended to
    * the store's stream subtree, so the quantized search path covers
    * batch + stream vectors without re-reading float history. Same
    * replay contract: batch_id-keyed dynamic partition overwrite;
    * `SignatureStore.readQuantizedVectors` resolves re-sent vectors
    * latest-wins. */
  def maintainQuantizedVectors(vecs: DataFrame, storeBase: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.VectorQueries.quantizeInt8(batch),
          streamDir(SignatureStore.q8Dir(storeBase)), batchId)
    }

  /** Incremental PQ-code maintenance — the product-quantized twin of
    * [[maintainQuantizedVectors]]: each micro-batch of new vectors is
    * ENCODED against the frozen trained codebook (the standard PQ
    * serving posture — the coarse quantizer retrains offline, not per
    * batch) with the same assign+pack builders the batch store uses, and
    * the packed 8-byte rows append to the store's stream subtree.
    * `SignatureStore.readPqCodes` resolves re-sent vectors latest-wins
    * and unpacks for the ADC join. */
  def maintainPqCodes(vecs: DataFrame, storeBase: String, codebook: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendEpoch(graft.operators.PqQueries.packCodes(
          graft.operators.PqQueries.pqAssign(
            graft.operators.PqQueries.scaledSub(batch), codebook)),
          streamDir(SignatureStore.pqCodesDir(storeBase)), batchId)
    }

  /** Incremental residual-PQ-code maintenance — [[maintainPqCodes]]'s
    * twin for the true-IVFADC tier: each micro-batch of new vectors is
    * coarse-assigned against the FROZEN centroid table, re-centered to
    * its cell's residual, and encoded against the FROZEN residual
    * codebook (the serving posture: both quantizers retrain offline,
    * not per batch) with the same assign/residual/pack builders the
    * batch store uses. The epoch's assignment rows belong to the IVF
    * store's maintenance ([[maintainIvfAssignments]]) — a combined
    * ingest runs both writers; this one owns only the code subtree.
    * Same replay contract: batch_id-keyed dynamic partition overwrite,
    * latest-wins per vec_id at read. */
  def maintainResidualPqCodes(vecs: DataFrame, storeBase: String,
      codebook: DataFrame, centroids: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        import graft.operators.{PqQueries, VectorQueries}
        val assign = VectorQueries.ivfAssign(batch, centroids)
        val rsub = PqQueries.residualSub(
          PqQueries.scaledSub(batch), assign, PqQueries.centroidSub(centroids))
        appendEpoch(PqQueries.packCodes(PqQueries.pqAssign(rsub, codebook)),
          streamDir(SignatureStore.rpqCodesDir(storeBase)), batchId)
    }

  /** Streaming event-rollup maintenance — the events-analytics twin of
    * [[maintainSignatures]] / [[maintainPostings]]: the watermarked
    * [[windowedCounts]] UPDATE stream lands in a batch_id-partitioned
    * store with dynamic partition overwrite, so a replayed epoch
    * overwrites exactly its own partitions and the persisted rollup is
    * replay-idempotent. [[readWindowCounts]] resolves the newest row per
    * (window, event_type) — the same latest-wins versioning the
    * signature/postings/IVF stores use — so batch consumers read the
    * rollup the batch `o5_event_windows` query would compute, without
    * rescanning the event history. */
  def maintainWindowCounts(events: DataFrame, storeDir: String,
      window_ : String = "1 hour", delay: String = "10 minutes")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    windowedCounts(events, window_, delay)
      .writeStream.outputMode("update").foreachBatch {
        (batch: DataFrame, batchId: Long) =>
          appendEpoch(batch, storeDir, batchId)
      }

  /** Latest state per (window_start, event_type) from a
    * [[maintainWindowCounts]] store: UPDATE mode re-emits a window every
    * time it changes, so the store holds one row per (window, type,
    * touching epoch) and the newest epoch's row is the current rollup.
    * One map-side-combinable max-struct aggregate — no window function,
    * no shuffle of anything bigger than the rollup itself. */
  def readWindowCounts(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy("window_start", "event_type")
      .agg(max(struct(col("batch_id").cast("long").as("batch_id"),
        col("n"), col("total_value"))).as("m"))
      .select(col("window_start"), col("event_type"),
        col("m.n").as("n"), col("m.total_value").as("total_value"))

  case class TransEvent(user_id: Long, event_id: Long, event_type: String, ns: Long)
  case class TransState(events: List[(Long, Long, String)])
  case class TransOut(user_id: Long, e1: String, e2: Option[String], e3: Option[String], n: Long)

  /** Streaming per-user transition triples — the streaming twin of the
    * batch transition store
    * ([[graft.operators.SignatureStore.ensureEventTransitions]]): each
    * update emits the user's complete CURRENT (e1, lead1, lead2) counts,
    * null leads kept, so the rolled-up store serves both the transition
    * matrix (sum over e3) and top-paths (drop null leads) with the exact
    * batch semantics. A LATE event lands BETWEEN two already-adjacent
    * events and splits their pair, so state keeps the user's full
    * (ns, event_id, type) list and re-chains on every update — the same
    * re-chain-from-state discipline as [[funnelStages]], and what makes
    * the result identical to the batch computation under ANY arrival
    * order. Re-sent events dedup on (ns, event_id, type) before
    * chaining, so epoch replay cannot double-count. State is O(events
    * per user); production deployments bound it by horizon (evict
    * beyond the watermark) as with the funnel state. */
  def transitionTriples(events: Dataset[TransEvent]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[TransState]) =>
          val all = (state.getOption.map(_.events).getOrElse(Nil) ++
            rows.map(e => (e.ns, e.event_id, e.event_type)).toList)
            .distinct.sortBy(t => (t._1, t._2))
          state.update(TransState(all))
          val types = all.map(_._3)
          types.zipWithIndex
            .map { case (t, i) => (t, types.lift(i + 1), types.lift(i + 2)) }
            .groupBy(identity)
            .map { case ((a, b, c), g) => TransOut(uid, a, b, c, g.size.toLong) }
            .iterator
      }
  }

  /** Incremental transition-store maintenance — the events-family twin
    * of [[maintainWindowCounts]]: UPDATE-mode re-emissions of
    * [[transitionTriples]] land batch_id-keyed in `storeDir`; a user's
    * newest emission supersedes all older ones at read
    * ([[readTransitionCounts]]), so a triple the user's corrected
    * history no longer contains disappears instead of lingering. Same
    * replay contract as every store: dynamic partition overwrite means
    * a replayed epoch overwrites exactly its own partitions. */
  def maintainTransitions(events: Dataset[TransEvent], storeDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    transitionTriples(events).toDF()
      .writeStream.outputMode("update").foreachBatch {
        (batch: DataFrame, batchId: Long) =>
          appendEpoch(batch, storeDir, batchId)
      }

  /** Corpus-wide counted triples (e1, e2, e3, n) from a
    * [[maintainTransitions]] store — the same shape
    * `ensureEventTransitions` persists, so the o6/o7 marginals read
    * identically off either. Latest-wins PER USER (not per triple):
    * only the user's newest emission contributes, then users sum. */
  def readTransitionCounts(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    transitionCounts(spark.read.parquet(storeDir))

  /** [[readTransitionCounts]] over an already-read store relation (the
    * stream side of the batch transition store). */
  private[graft] def transitionCounts(store: DataFrame): DataFrame = {
    val t = store.withColumn("batch_id", col("batch_id").cast("long"))
    val latest = t.groupBy("user_id").agg(max("batch_id").as("batch_id"))
    t.join(latest, Seq("user_id", "batch_id"))
      .groupBy("e1", "e2", "e3").agg(sum("n").as("n"))
  }

  case class StageEvent(user_id: Long, event_type: String, us: Long)
  case class FunnelState(signups: List[Long], clicks: List[Long], purchases: List[Long])
  case class FunnelOut(user_id: Long, stage: Long,
      signup_us: Option[Long], click_us: Option[Long], purchase_us: Option[Long])

  /** Streaming ordered funnel — the streaming twin of the batch
    * `a6_funnel` query, with the SAME strictly-after chaining: a user's
    * click time is the earliest click AFTER their earliest signup, the
    * purchase the earliest purchase AFTER that click. Because a LATE
    * signup can lower the anchor and thereby change which click/purchase
    * qualify, the state keeps the per-stage time lists (not just the
    * current mins) and re-chains on every update — that is what makes
    * the result identical to the batch computation under ANY arrival
    * order (StreamingSpec replays out-of-order and asserts equality).
    * State is O(funnel events per user); production deployments bound it
    * by session/funnel horizon (evict times beyond the watermark) the
    * same way the dedup state is watermark-bounded. */
  def funnelStages(events: Dataset[StageEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil))
          val evs = rows.toSeq
          def merged(old: List[Long], t: String): List[Long] =
            (old ++ evs.filter(_.event_type == t).map(_.us)).sorted
          val st = FunnelState(
            merged(prev.signups, "signup"),
            merged(prev.clicks, "click"),
            merged(prev.purchases, "purchase"))
          state.update(st)
          val signup = st.signups.headOption
          val click = signup.flatMap(s => st.clicks.find(_ > s))
          val purchase = click.flatMap(c => st.purchases.find(_ > c))
          val stage: Long =
            if (purchase.isDefined) 3L
            else if (click.isDefined) 2L
            else if (signup.isDefined) 1L else 0L
          Iterator.single(FunnelOut(uid, stage, signup, click, purchase))
      }
  }

  case class DayEvent(user_id: Long, day: Long)
  case class RetState(cohort: Long, days: List[Long])
  case class RetPair(user_id: Long, day: Long, cohort_day: Long)

  /** Streaming retention pairs — the streaming twin of `a7_retention`'s
    * input relation: one (user, active-day, cohort-day) row per distinct
    * (user, day), where cohort = the user's EARLIEST day. The subtle
    * out-of-order case: a LATE event from an earlier day LOWERS the
    * cohort, which re-dates every previously emitted offset — so on a
    * cohort change the state re-emits ALL seen days under the new
    * cohort, and the store reader resolves (user, day) latest-wins.
    * That is what makes the read-side rollup equal the batch matrix
    * under ANY arrival order (StreamingSpec replays out-of-order and
    * asserts equality). State is O(distinct active days per user);
    * production bounds it by the retention horizon (evict days older
    * than the matrix goes back). */
  def retentionPairs(events: Dataset[DayEvent]): Dataset[RetPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetPair](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[RetState]) =>
          val prev = state.getOption.getOrElse(RetState(Long.MaxValue, Nil))
          val newDays = rows.map(_.day).toSet -- prev.days
          if (newDays.isEmpty) Iterator.empty
          else {
            val all = (prev.days ++ newDays).distinct.sorted
            val cohort = all.head
            state.update(RetState(cohort, all))
            val emit = if (cohort < prev.cohort) all else newDays.toList.sorted
            emit.iterator.map(d => RetPair(uid, d, cohort))
          }
      }
  }

  /** Persist [[retentionPairs]] batch_id-keyed (same replay contract as
    * every other maintain* sink); [[readRetention]] resolves (user, day)
    * latest-wins — a cohort re-date supersedes the stale rows — and
    * rolls the matrix up exactly like the batch `a7_retention` query. */
  def maintainRetention(events: Dataset[DayEvent], storeDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[RetPair] =
    retentionPairs(events).writeStream.outputMode("update").foreachBatch {
      (batch: Dataset[RetPair], batchId: Long) =>
        appendEpoch(batch.toDF(), storeDir, batchId)
    }

  /** The retention matrix from a [[maintainRetention]] store:
    * latest-wins per (user, day), then the same (cohort, offset) count
    * the batch query computes — map-side-combinable aggregates only. */
  def readRetention(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy("user_id", "day")
      .agg(max(struct(col("batch_id").cast("long").as("batch_id"),
        col("cohort_day"))).as("m"))
      .select(col("user_id"), col("day"), col("m.cohort_day").as("cohort_day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))

  /** Streaming incremental NEAR-dedup — the continuous twin of the batch
    * `dedup_incremental` query: each micro-batch signs its documents
    * once, probes the persisted band store for collisions (batch×store
    * only — the store never re-signs and store×store pairs are never
    * formed), drops colliding documents plus within-batch collisions
    * (conservatively: any doc colliding with a lower-id batch doc), and
    * appends the SURVIVORS' signatures so later batches dedup against
    * them. Per-epoch cost is proportional to the batch.
    *
    * Replay-safe: the store probe excludes the current epoch's own
    * stream append ([[graft.operators.SignatureStore.readMinhashBandsExcluding]])
    * — a replayed batch would otherwise collide with itself and emit
    * nothing — and both sinks are `batch_id`-keyed dynamic overwrites. */
  def dedupIncrementalStream(docs: DataFrame, base: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        import graft.operators.TextQueries
        val spark = batch.sparkSession
        // sign ONCE per epoch; the bands feed the store probe, the
        // within-batch self-join and the survivor append
        val bands = TextQueries.minhashBandsOf(batch).localCheckpoint()
        val stored = SignatureStore.readMinhashBandsExcluding(spark, base, batchId)
        val dupOfStore = bands.join(stored, Seq("band", "key"))
          .select(bands("doc_id")).distinct()
        val dupInBatch = TextQueries.bandedPairs(bands)
          .select(col("doc_b").as("doc_id")).distinct()
        val keep = batch
          .join(dupOfStore.unionByName(dupInBatch).distinct(), Seq("doc_id"), "left_anti")
          .persist()
        try {
          appendEpoch(keep, s"$base/docs", batchId)
          appendEpoch(bands.join(keep.select("doc_id"), Seq("doc_id"), "left_semi"),
            streamDir(SignatureStore.minhashDir(base)), batchId, "band")
        } finally keep.unpersist()
    }

  /** Streaming ingest curation — the continuous twin of the batch
    * curation family, applied before anything stateful:
    *
    *   1. quality gate (`n_tokens >= minTokens`) — stateless filter;
    *   2. benchmark decontamination against a STATIC eval-set table —
    *      exact 12-gram overlap on the RAW text (overlap detection must
    *      see what the eval set sees; redaction is destructive), eval
    *      shingles broadcast, per micro-batch inside foreachBatch
    *      (stream-static, no state);
    *   3. PII redaction of the survivors
    *      ([[graft.operators.CurationQueries.redactPii]], same codegen
    *      regex pass as the batch `pii_redact` query);
    *   4. signature maintenance — the surviving documents' minhash
    *      bands (over the redacted text, i.e. over what is persisted)
    *      append to the [[graft.operators.SignatureStore]] so batch LSH
    *      dedup always sees the curated stream.
    *
    * Both sinks are keyed by `batch_id` with dynamic partition
    * overwrite, so an epoch replay after a driver failure overwrites
    * exactly its own output — the pipeline is idempotent end-to-end. */
  def curatedIngest(docs: DataFrame, evalDocs: DataFrame,
      outBase: String, minTokens: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        import graft.operators.{CurationQueries, TextQueries}
        val gated = batch
          .filter(graft.functions.WsTokenCount.ws_token_count(col("text")) >= minTokens)
        val contaminated = CurationQueries
          .decontaminate(gated, evalDocs, minShared = 1)
          .select(col("train_doc").as("doc_id")).distinct()
        // Two sink actions share the gate→decontaminate→redact lineage;
        // without a persist the second write re-executes it all (incl.
        // re-shingling the eval set) — ~2× cost per micro-batch.
        val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("text", CurationQueries.redactPii(col("text")))
          .persist()
        try {
          appendEpoch(clean, s"$outBase/docs", batchId)
          appendEpoch(TextQueries.minhashBandsOf(clean),
            streamDir(SignatureStore.minhashDir(outBase)), batchId, "band")
        } finally clean.unpersist()
    }

  /** Custom per-key state via mapGroupsWithState: running per-user totals
    * (KeyValueGroupedDataset path). NoTimeout keeps micro-batch scheduling
    * purely data-driven; with a processing-time timeout the engine
    * triggers batches continuously, which also breaks deterministic
    * test drains. */
  def userTotals(events: Dataset[UserEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserSession]) =>
          val prev = state.getOption.getOrElse(UserSession(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserSession(uid, n, tot)
          state.update(next)
          next
      }
  }
}
