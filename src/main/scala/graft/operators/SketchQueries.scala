package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Constant-space sketches for corpus-scale cardinality and membership —
  * the two estimators a 100 TB pipeline reaches for when the exact
  * structure (a distinct-set, a hash join side) no longer fits anywhere:
  *
  *   - KMV (k-minimum-values, Bar-Yossef et al. 2002): distinct-count
  *     estimation from the k smallest hash values. Unlike HyperLogLog
  *     (whose register layout is engine-implementation-defined — Spark's
  *     approx_count_distinct can never hash-match an oracle), KMV is
  *     exactly reproducible: the k-th smallest md5-derived 60-bit value
  *     is a deterministic function of the input set, and the estimator
  *     `(k−1)·2⁶⁰ / h₍ₖ₎` is one exact integer floor division.
  *   - Bloom filter (two-probe, 4096-bit): membership pre-filter whose
  *     size is CONSTANT in the member count — the decontamination gate
  *     broadcasts ≤128 packed words instead of every eval shingle hash, at the
  *     price of auditable false positives (never false negatives; the
  *     query emits the exact verdict beside the sketch verdict so the FP
  *     rate is visible in the result).
  *
  * Both sketches run on the same 60-bit `('0x' || substr(md5(…),1,15))`
  * hash parity trick the minhash/simhash families use, so every emitted
  * cell is hash-checked against DuckDB.
  */
object SketchQueries {

  val KmvK = 64

  /** Misra–Gries counter budget (heavy_hitters_mg): ≤ k positive
    * counters per summary, merged error ≤ Σλ. */
  val MgK = 8

  /** Per-day k-min user-hash sketch rows (day, h) — the build kernel
    * shared by the live rolling query, the batch store build
    * ([[SignatureStore.ensureDailyKmv]]), and every stream epoch
    * ([[graft.streaming.EventStream.maintainDailyKmv]]). Input needs
    * (user_id, ts_ns). KMV's union-closure is what makes the store
    * maintenance trivially correct: the k smallest of a union of
    * per-part k-smallest sets IS the k smallest of the union, so
    * appending each epoch's sketch rows and re-ranking at read time
    * loses nothing, and replayed/duplicated events are absorbed by the
    * (day, h) distinct. */
  def dailyUserSketch(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dh = ev.select(
      expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"),
      graft.functions.Md5Head60.md5_head60(col("user_id").cast("string")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("day")).orderBy(col("h"))
    dh.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KmvK)
      .select("day", "h")
  }

  /** Count-min geometry: 4 salted rows × 1024 slots (Cormode &
    * Muthukrishnan 2005). Each cell is a SUM of token-occurrence counts,
    * which makes the sketch mergeable by construction: cells ADD across
    * per-source builds and across stream epochs — the additive sibling
    * of KMV's union-closure. */
  val CmDepth = 4
  val CmWidth = 1024L

  /** Slot of token `t` under salt `j` — the md5-60-bit parity trick the
    * whole sketch family uses, so DuckDB replays every cell exactly. */
  def cmSlotOf(j: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(graft.functions.Md5Head60.md5_head60(concat(j.cast("string"), lit("#"), t)), lit(CmWidth))

  /** Per-token-TYPE exact counts — the ONE corpus pass of the count-min
    * build. Vocabulary cardinality is Heaps-sublinear in corpus size, so
    * everything downstream of this fold is sketch-scale work: each token
    * type contributes cnt (not 1, cnt times) to one cell per salt. */
  def tokenVocab(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(expr(TextQueries.toksExpr)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))

  /** The 4×1024 cell table from vocabulary counts (j, slot, n) — the
    * build kernel shared by the live query, the batch store
    * ([[SignatureStore.ensureCountMin]]) and every stream epoch
    * ([[graft.streaming.EventStream.maintainCountMin]]). */
  def countMinCells(vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val js = (0 until CmDepth).map(lit(_))
    vocab.select(explode(array(js: _*)).as("j"), col("t"), col("cnt"))
      .select(col("j"), cmSlotOf(col("j"), col("t")).as("slot"), col("cnt"))
      .groupBy("j", "slot").agg(sum("cnt").as("n"))
  }

  /** The estimate-vs-exact audit report shared by the live and stored
    * count-min queries: `cells` is the 4×1024 table (fresh build or
    * store read), `vocab` the exact token counts; heavy hitters
    * (n_exact ≥ 200) probe every salt and take the min cell. */
  private[graft] def countMinReport(cells: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val js = (0 until CmDepth).map(lit(_))
    vocab.filter(col("cnt") >= 200)
      .select(col("t"), col("cnt").as("n_exact"), explode(array(js: _*)).as("j"))
      .withColumn("slot", cmSlotOf(col("j"), col("t")))
      .join(broadcast(cells), Seq("j", "slot"))
      .groupBy(col("t"), col("n_exact"))
      .agg(min("n").as("n_est"))
      .select(col("t").as("token"), col("n_exact"), col("n_est"),
        // overcount magnitudes are token-scale — widen as in err_ppm
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_est - n_exact)) div n_exact AS BIGINT)")
          .as("over_ppm"))
      .orderBy("token")
  }

  /** Oracle for the count-min audit report, shared verbatim by the live
    * and stored twins (the store must be cell-for-cell what a fresh
    * build produces). The oracle folds the vocabulary first too — same
    * single-pass shape, provably identical cells (linearity). */
  private val CountMinSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      |  FROM documents),
      |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
      |slots AS (
      |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
      |    CAST(sum(cnt) AS BIGINT) AS n
      |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
      |  GROUP BY 1, 2),
      |exact AS (SELECT t, cnt AS n_exact FROM v WHERE cnt >= 200),
      |est AS (
      |  SELECT e.t, e.n_exact, min(s.n) AS n_est
      |  FROM exact e
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
      |  JOIN slots s ON s.j = js.j
      |    AND s.slot = ('0x' || substr(md5(CAST(js.j AS VARCHAR) || '#' || e.t), 1, 15))::BIGINT % 1024
      |  GROUP BY e.t, e.n_exact)
      |SELECT t AS token, n_exact, n_est,
      |  CAST((CAST(1000000 AS HUGEINT) * (n_est - n_exact)) // n_exact AS BIGINT) AS over_ppm
      |FROM est ORDER BY token""".stripMargin

  /** Oracle for the binned-quantile report, shared verbatim by the live
    * and stored twins (per-source stored bins summed must be bin-for-bin
    * the global one-pass histogram — the ADD law). */
  private val BinnedQuantileSql: String =
    """WITH b AS (
      |  SELECT least(n_chars // 64, 255) AS bin, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1),
      |c AS (
      |  SELECT bin, n, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
      |    CAST(sum(n) OVER () AS BIGINT) AS total FROM b),
      |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
      |sel AS (
      |  SELECT p.pct, min(c.bin) AS qbin, max(c.total) AS total
      |  FROM c JOIN pcts p ON 100 * c.cum >= p.pct * c.total
      |  GROUP BY 1),
      |rk AS (
      |  SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS r
      |  FROM documents),
      |ex AS (
      |  SELECT p.pct, max(rk.n_chars) AS exact_len
      |  FROM rk JOIN pcts p ON rk.r = (p.pct * (SELECT max(total) FROM sel) + 99) // 100
      |  GROUP BY 1)
      |SELECT s.pct, s.total, s.qbin,
      |  64 * s.qbin + 63 AS est_len_hi, e.exact_len,
      |  64 * s.qbin + 63 - e.exact_len AS err_chars
      |FROM sel s JOIN ex e ON e.pct = s.pct ORDER BY s.pct""".stripMargin

  /** Oracle for the rolling weekly-distinct series, shared verbatim by
    * the live and stored twins (the store must be bit-identical to the
    * live per-day sketch). */
  private val RollingKmvSql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM events),
       |dh AS (SELECT DISTINCT day, h FROM e),
       |sk AS (
       |  SELECT day, h FROM (
       |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rk
       |    FROM dh) WHERE rk <= $KmvK),
       |grid AS (SELECT DISTINCT day AS wday FROM dh),
       |merged AS (
       |  SELECT DISTINCT g.wday, s.h FROM grid g
       |  JOIN sk s ON s.day BETWEEN g.wday - 6 AND g.wday),
       |kth AS (
       |  SELECT wday, h AS kth FROM (
       |    SELECT wday, h, row_number() OVER (PARTITION BY wday ORDER BY h) AS rk
       |    FROM merged) WHERE rk = $KmvK),
       |ex AS (
       |  SELECT g.wday, CAST(count(DISTINCT d.h) AS BIGINT) AS n_exact
       |  FROM grid g JOIN dh d ON d.day BETWEEN g.wday - 6 AND g.wday
       |  GROUP BY g.wday),
       |est AS (
       |  SELECT x.wday, x.n_exact, k.kth,
       |    CASE WHEN k.kth IS NULL THEN x.n_exact
       |         ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // k.kth AS BIGINT)
       |    END AS n_est
       |  FROM ex x LEFT JOIN kth k ON k.wday = x.wday)
       |SELECT wday, n_exact, kth, n_est,
       |  CAST((CAST(1000000 AS HUGEINT) * abs(n_est - n_exact)) // n_exact AS BIGINT) AS err_ppm
       |FROM est ORDER BY wday""".stripMargin

  /** The window/estimate stage shared by the live and stored rolling
    * queries: `sk` is the per-day sketch (live kernel or store read),
    * `dh` the full distinct (day, hash) table for the exact audit. */
  private def rollingEstimate(sk: org.apache.spark.sql.DataFrame,
      dh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grid = dh.select(col("day").as("wday")).distinct()
    val merged = sk.join(broadcast(grid),
        col("day").between(col("wday") - 6, col("wday")))
      .select("wday", "h").distinct()
    val kthW = Window.partitionBy(col("wday")).orderBy(col("h"))
    val kth = merged.withColumn("rk", row_number().over(kthW))
      .filter(col("rk") === KmvK).select(col("wday"), col("h").as("kth"))
    val ex = dh.join(broadcast(grid),
        col("day").between(col("wday") - 6, col("wday")))
      .groupBy("wday").agg(countDistinct(col("h")).as("n_exact"))
    ex.join(kth, Seq("wday"), "left")
      .select(col("wday"), col("n_exact"), col("kth"),
        expr(s"CASE WHEN kth IS NULL THEN n_exact ELSE CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) " +
          "* CAST(1152921504606846976 AS DECIMAL(38,0))) div kth AS BIGINT) END").as("n_est"))
      .select(col("wday"), col("n_exact"), col("kth"), col("n_est"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(n_est - n_exact)) div n_exact AS BIGINT)")
          .as("err_ppm"))
      .orderBy("wday")
  }

  def defs: Map[String, QueryDef] = Map(

    // ----- KMV distinct-token estimate per source, with exact audit -----
    // est = (k−1)·2⁶⁰ // h₍ₖ₎ over DECIMAL(38,0)/HUGEINT (the product
    // exceeds int64); a source with fewer than k distinct tokens is
    // exact by definition (its sketch IS the set). The rank window runs
    // over the DISTINCT (source, hash) table — vocabulary-cardinality
    // (Heaps-sublinear), source-keyed, never the raw token stream; at
    // true scale the same k-smallest reduces via a bounded per-partition
    // heap, which this plan's map-side distinct already approximates.
    // The exact count rides along to make the estimator's error visible
    // (err_ppm) — the audit a sketch deployment graduates on.
    "kmv_distinct_tokens" -> QueryDef.sql(
      s"""WITH toks AS (
         |  SELECT source, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
         |  FROM documents),
         |h AS (SELECT DISTINCT source, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
         |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM h),
         |kth AS (SELECT source, h AS kth FROM rk WHERE rk = $KmvK),
         |exact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY source),
         |est AS (
         |  SELECT e.source, e.n_exact, k.kth,
         |    CASE WHEN k.kth IS NULL THEN e.n_exact
         |         ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // k.kth AS BIGINT)
         |    END AS n_est
         |  FROM exact e LEFT JOIN kth k ON k.source = e.source)
         |SELECT source, n_exact, kth, n_est,
         |  CAST((CAST(1000000 AS HUGEINT) * abs(n_est - n_exact)) // n_exact AS BIGINT) AS err_ppm
         |FROM est ORDER BY source""".stripMargin) { (s, d) =>
      val h = documents(s, d)
        .select(col("source"), explode(array_distinct(expr(TextQueries.toksExpr))).as("t"))
        .select(col("source"),
          graft.functions.Md5Head60.md5_head60(col("t")).as("h"))
        .distinct()
      val rkW = Window.partitionBy(col("source")).orderBy(col("h"))
      val kth = h.withColumn("rk", row_number().over(rkW))
        .filter(col("rk") === KmvK)
        .select(col("source"), col("h").as("kth"))
      val exact = h.groupBy("source").agg(count(lit(1)).as("n_exact"))
      exact.join(kth, Seq("source"), "left")
        .select(col("source"), col("n_exact"), col("kth"),
          expr(s"CASE WHEN kth IS NULL THEN n_exact ELSE CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) " +
            "* CAST(1152921504606846976 AS DECIMAL(38,0))) div kth AS BIGINT) END").as("n_est"))
        .select(col("source"), col("n_exact"), col("kth"), col("n_est"),
          // estimator error at 1e13-cardinality strata passes int64 when
          // ×1e6 — DECIMAL(38,0) intermediate, BIGINT quotient
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(n_est - n_exact)) div n_exact AS BIGINT)")
            .as("err_ppm"))
        .orderBy("source")
    },

    // ----- count-min sketch: constant-space frequency estimation -----
    // The heavy-hitter counter (Cormode & Muthukrishnan 2005) for token
    // streams whose exact per-token counts no longer fit: a 4×1024
    // integer table (CONSTANT in corpus size, map-side-combinable —
    // each task folds its slice into 4096 cells before any shuffle);
    // est(t) = min over rows of the salted-hash cell, which only ever
    // OVERcounts. The audit query estimates every token whose exact
    // count ≥ 200 and emits exact beside estimate with the overcount in
    // ppm — the one-sided error envelope made visible (the exact side
    // exists here only to grade the sketch; production reads the 4096
    // cells alone).
    // ----- KMV mergeability: the distributive-aggregation law, checked -----
    // WHY a sketch earns its place at 100 TB: per-stratum sketches
    // union-merge into the global sketch WITHOUT touching the data
    // again. For KMV the law is exact — the union of per-source
    // k-smallest sets contains the global k smallest (each source
    // retained ITS k smallest, so nothing globally small can be
    // missing) — and this query CHECKS it: the k-th min re-derived from
    // the ≤ 64·sources merged sketch rows must equal the k-th min of
    // the full distinct-hash table, bit for bit (merge_exact = 1).
    // Scale shape: both k-th mins are TakeOrdered per-partition heaps
    // (never a global sort); the merge side touches only sketch rows —
    // the exact pattern a per-shard → global cardinality rollup runs.
    "kmv_merge_shingles" -> QueryDef.sql(
      s"""WITH hs AS (SELECT DISTINCT source, h FROM (
         |  SELECT source, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
         |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
         |  FROM documents WHERE source IS NOT NULL)),
         |sk AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
         |  FROM hs) WHERE rk <= $KmvK),
         |mk AS (SELECT max(h) AS merged_kth FROM (SELECT DISTINCT h FROM sk ORDER BY h LIMIT $KmvK)),
         |gk AS (SELECT max(h) AS direct_kth FROM (SELECT DISTINCT h FROM hs ORDER BY h LIMIT $KmvK))
         |SELECT m.merged_kth, g.direct_kth,
         |  CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // m.merged_kth AS BIGINT) AS merged_est,
         |  CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // g.direct_kth AS BIGINT) AS direct_est,
         |  CAST(m.merged_kth = g.direct_kth AS BIGINT) AS merge_exact
         |FROM mk m, gk g""".stripMargin) { (s, d) =>
      import graft.functions.ShingleHashes.shingle_hashes
      // hs feeds BOTH the per-source sketches and the direct global
      // k-th min, but needs no explicit pin: the distinct's exchange is
      // an identical subtree under both consumers, so Spark reuses it
      // (ReusedExchange) and the corpus-wide shingle explode runs once.
      // (Measured: a localCheckpoint here changed nothing — 2.9 s vs
      // 3.1 s, within run noise.) spread(): the fixture corpus arrives
      // as ONE split and the shingle explode is the query's whole CPU —
      // stage-profiled r11 at 2.4 + 1.8 s on two single-task map stages;
      // at 100 TB the scan is thousands of splits and spread is a no-op.
      val hs = TextQueries.spread(documents(s, d).filter(col("source").isNotNull))
        .select(col("source"), explode(shingle_hashes(col("text"), lit(12))).as("h"))
        .distinct()
      val skW = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = hs.withColumn("rk", row_number().over(skW))
        .filter(col("rk") <= KmvK).select("source", "h")
      def kthMin(df: org.apache.spark.sql.DataFrame, out: String) =
        df.select("h").distinct().orderBy("h").limit(KmvK)
          .agg(max("h").as(out))
      val estSql = s"CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) " +
        "* CAST(1152921504606846976 AS DECIMAL(38,0))) div %s AS BIGINT)"
      kthMin(sk, "merged_kth").crossJoin(kthMin(hs, "direct_kth"))
        .select(col("merged_kth"), col("direct_kth"),
          expr(estSql.format("merged_kth")).as("merged_est"),
          expr(estSql.format("direct_kth")).as("direct_est"),
          (col("merged_kth") === col("direct_kth")).cast("long").as("merge_exact"))
    },

    // The build is ONE corpus pass: fold the vocabulary (token-type →
    // count, Heaps-sublinear), then derive all 4 salted cell rows per
    // token TYPE weighted by its count — the cells are linear in the
    // counts, so the per-type fold is exactly the per-occurrence sketch.
    // (The previous shape exploded the corpus token stream twice: once
    // for the cells, once for the exact audit — the slowest query in
    // the official r8 artifact at 8.72 s.)
    "count_min_tokens" -> QueryDef.sql(CountMinSql) { (s, d) =>
      // one corpus explode, pinned: both the cells and the audit read
      // the checkpointed vocab, never the corpus again
      val vocab = tokenVocab(documents(s, d)).localCheckpoint(eager = false)
      countMinReport(countMinCells(vocab), vocab)
    },

    // Stored twin: the 4×1024 cell table is the 14th store family —
    // built once, maintained by additive stream epochs
    // (EventStream.maintainCountMin), compacted by summing. The exact
    // audit leg still folds the corpus vocabulary (that's the audit's
    // job — the STORE's value is that estimate-serving never touches
    // the corpus). Same oracle as the live build: the store must be
    // cell-for-cell what a fresh build produces.
    "count_min_tokens_stored" -> QueryDef.sql(CountMinSql) { (s, d) =>
      val cells = SignatureStore.ensureCountMin(s, d)
      countMinReport(cells, tokenVocab(documents(s, d)))
    },

    // The SERVING face of the store: estimate frequencies for a fixed
    // probe-token set from the 4×1024 cells ALONE — the final plan never
    // touches the corpus (PlanAssertSpec pins zero documents scans; the
    // only read is the constant-size cell artifact). This is the whole
    // point of a persisted sketch at 100 TB: frequency lookups cost 4096
    // rows, not a corpus pass. Absent cells count 0 (count-min's empty
    // cell IS zero), so unseen probes report their true 0 unless salted
    // collisions say otherwise — the overestimate bound, visible per
    // probe. Oracle replays the sketch from the corpus (that's DuckDB's
    // job) and probes the same tokens.
    "count_min_serve" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |slots AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
        |  GROUP BY 1, 2),
        |probes AS (SELECT unnest(['data', 'the', 'and', 'alpha', 'zzz_never_seen']) AS token),
        |est AS (
        |  SELECT p.token, min(coalesce(s.n, 0)) AS n_est
        |  FROM probes p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
        |  LEFT JOIN slots s ON s.j = js.j
        |    AND s.slot = ('0x' || substr(md5(CAST(js.j AS VARCHAR) || '#' || p.token), 1, 15))::BIGINT % 1024
        |  GROUP BY 1)
        |SELECT token, n_est FROM est ORDER BY token""".stripMargin) { (s, d) =>
      import s.implicits._
      val cells = SignatureStore.ensureCountMin(s, d)
      val js = (0 until CmDepth).map(lit(_))
      Seq("data", "the", "and", "alpha", "zzz_never_seen").toDF("token")
        .select(col("token"), explode(array(js: _*)).as("j"))
        .withColumn("slot", cmSlotOf(col("j"), col("token")))
        .join(broadcast(cells), Seq("j", "slot"), "left")
        .groupBy("token")
        .agg(min(coalesce(col("n"), lit(0L))).as("n_est"))
        .orderBy("token")
    },

    // Mergeability law, checked like kmv_merge_shingles checks KMV's
    // union-closure: per-source sketches SUMMED cell-by-cell must equal
    // the global sketch — count-min cells are sums, so merging is
    // addition. This is the law the stream maintenance and compaction
    // rest on; merge_exact is emitted per cell, not promised.
    "count_min_merge_sources" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE source IS NOT NULL),
        |v AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2),
        |cells_s AS (
        |  SELECT source, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
        |  GROUP BY 1, 2, 3),
        |merged AS (SELECT j, slot, CAST(sum(n) AS BIGINT) AS n_merged
        |           FROM cells_s GROUP BY 1, 2),
        |gtot AS (
        |  SELECT j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n_global
        |  FROM (SELECT t, CAST(sum(cnt) AS BIGINT) AS cnt FROM v GROUP BY 1)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
        |  GROUP BY 1, 2)
        |SELECT g.j, g.slot, g.n_global, m.n_merged,
        |  CAST(g.n_global = m.n_merged AS BIGINT) AS merge_exact
        |FROM gtot g JOIN merged m ON m.j = g.j AND m.slot = g.slot
        |ORDER BY g.j, g.slot""".stripMargin) { (s, d) =>
      // one corpus pass here too: the per-(source, token) fold feeds
      // both the per-source sketches and (re-folded) the global one
      val sv = documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), explode(expr(TextQueries.toksExpr)).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      val js = (0 until CmDepth).map(lit(_))
      // per-source sketches materialized as real cell tables FIRST,
      // then summed — the actual merge operation, not an algebraic
      // shortcut through one big fold
      val perSource = sv.select(col("source"), explode(array(js: _*)).as("j"),
          col("t"), col("cnt"))
        .select(col("source"), col("j"), cmSlotOf(col("j"), col("t")).as("slot"), col("cnt"))
        .groupBy("source", "j", "slot").agg(sum("cnt").as("n"))
      val merged = perSource.groupBy("j", "slot").agg(sum("n").as("n_merged"))
      val glob = countMinCells(sv.groupBy("t").agg(sum("cnt").as("cnt")))
        .withColumnRenamed("n", "n_global")
      glob.join(merged, Seq("j", "slot"))
        .select(col("j").cast("long").as("j"), col("slot"), col("n_global"),
          col("n_merged"),
          (col("n_global") === col("n_merged")).cast("long").as("merge_exact"))
        .orderBy("j", "slot")
    },

    // ----- Misra–Gries heavy hitters: the 5th sketch family -----
    // Completes the estimator set (KMV=distinct, count-min=frequency,
    // bins=quantiles, Bloom=membership): a k-counter summary whose size
    // is CONSTANT in the corpus and whose merge is ADD-then-PRUNE
    // (Agarwal et al., Mergeable Summaries). The ORDER-INDEPENDENT
    // offline form is used so a distributed build is well-defined and
    // oracle-replayable: per source, λ_s = the (k+1)-th largest token
    // count (0 if the vocab is smaller) and every counter is
    // max(0, f − λ_s) — at most k positive by construction. Merging
    // sums counters per token, re-prunes with the merged λ_m, and the
    // THEOREM is the emitted invariant: the merged counter
    // underestimates the exact global count by at most Σλ_s + λ_m
    // (each prune subtracts ≤ its λ from any token, kept or not), and
    // never overestimates. `within_bound` makes the guarantee a
    // hash-checked fact per surviving token, not a promise.
    "heavy_hitters_mg" -> QueryDef.sql(HeavyHittersSql) { (s, d) =>
      // one corpus pass: the per-(source, token) fold feeds the
      // summaries, their λs, and the exact audit
      val v = sourceTokenCounts(documents(s, d)).localCheckpoint(eager = false)
      val (counters, lambdas) = mgSummaries(v)
      mgReport(counters, lambdas, v)
    },

    // Stored twin: the per-source MG summaries are the 17th store
    // family and the only BOUNDED-LOSSY one — its merge (counters SUM
    // per token, then re-prune with the merged λ) is not exact like
    // KMV's union or count-min's ADD, but the loss is capped by the
    // theorem (≤ Σλ per source), and the store tracks that λ budget as
    // its second table so every serve can emit its own error bar.
    // Same oracle as the live build: a batch-built store resolves
    // identically to a fresh summary (the read-side re-prune is a no-op
    // on an already-pruned table — λm over ≤k counters is 0).
    "heavy_hitters_stored" -> QueryDef.sql(HeavyHittersSql) { (s, d) =>
      val (counters, lambdas) = SignatureStore.ensureHeavyHitters(s, d)
      mgReport(counters, lambdas, sourceTokenCounts(documents(s, d)))
    },

    // Serving face of the MG store (count_min_serve's sibling): the
    // global heavy-hitter list with its error bound from the stored
    // summaries ALONE — zero corpus bytes in the plan (pinned). Each
    // surviving token's counter is a guaranteed UNDERestimate within
    // `bound` of its true global count; absent tokens are guaranteed
    // ≤ bound. At 100 TB this is the dashboard query: top tokens at
    // |sources|·k-row read cost. Oracle replays the summaries from the
    // corpus (that's DuckDB's job).
    "heavy_hitters_serve" -> QueryDef.sql(MgServeSql) { (s, d) =>
      val (counters, lambdas) = SignatureStore.ensureHeavyHitters(s, d)
      val merged = counters.groupBy("t").agg(sum("c").as("c"))
      val lamm = merged
        .withColumn("rk", row_number().over(Window.orderBy(col("c").desc, col("t"))))
        .agg(coalesce(max(when(col("rk") === MgK + 1, col("c"))), lit(0L)).as("lam"))
      val bound = lambdas.agg(sum("lam").as("slam")).crossJoin(lamm)
        .select((col("slam") + col("lam")).as("bound"))
      merged.crossJoin(broadcast(lamm))
        .select(col("t").as("token"), (col("c") - col("lam")).as("c_merged"))
        .filter(col("c_merged") > 0)
        .crossJoin(broadcast(bound))
        .orderBy("token")
    },

    // ----- Bloom-gated decontamination: constant-size filter broadcast -----
    // The scale variant of decontaminate_ngram's gate: instead of
    // broadcasting every eval 12-gram hash, build a 4096-bit two-probe
    // Bloom filter (≤128 32-bit-packed words — constant in the eval-set
    // size; 32 bits per BIGINT word because DuckDB range-checks signed
    // shifts at bit 63 while Spark wraps), broadcast
    // THAT, and count per train doc the shingles whose both probe bits
    // are set. Same ≥20 threshold and eval split as the exact query;
    // every exact contamination survives (a shared shingle is in the
    // filter by construction — no false negatives), and the emitted
    // exact_hit column makes the false-positive surplus auditable row by
    // row. Probe joins are broadcast hash joins on the word id.
    "bloom_decontaminate" -> QueryDef.sql(BloomDecontamSql) { (s, d) =>
      // constant-size filter: ≤128 words regardless of eval size
      val bloom = bloomOf(evalSplit(documents(s, d))).localCheckpoint(eager = false)
      bloomDecontamReport(s, d, bloom)
    },

    // Stored twin: the ≤128 Bloom words are the 16th store family — the
    // eval-set membership gate persisted once
    // ([[SignatureStore.ensureBloom]]) so decontamination sweeps never
    // re-shingle the eval corpus. Stream epochs of newly-published eval
    // docs OR their words in (EventStream.maintainBloom) — the
    // IDEMPOTENT merge: a re-ingested eval doc sets bits already set.
    // Same oracle as the live gate: the stored filter must be
    // bit-for-bit what a fresh build produces (OR-merge loses nothing).
    "bloom_decontaminate_stored" -> QueryDef.sql(BloomDecontamSql) { (s, d) =>
      bloomDecontamReport(s, d, SignatureStore.ensureBloom(s, d))
    },
  ) ++ moreDefs

  /** Oracle for the Bloom-gated decontamination report, shared verbatim
    * by the live and stored twins. */
  private val BloomDecontamSql: String =
    """WITH evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |esh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM evald)),
        |tsh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM train)),
        |bloom AS (
        |  SELECT w, bit_or(b) AS bits FROM (
        |    SELECT (h % 4096) // 32 AS w, (1::BIGINT << CAST(h % 32 AS INT)) AS b FROM esh
        |    UNION ALL
        |    SELECT ((h // 4096) % 4096) // 32 AS w,
        |           (1::BIGINT << CAST((h // 4096) % 32 AS INT)) AS b FROM esh)
        |  GROUP BY w),
        |hits AS (
        |  SELECT t.doc_id
        |  FROM tsh t
        |  JOIN bloom f1 ON f1.w = (t.h % 4096) // 32
        |  JOIN bloom f2 ON f2.w = ((t.h // 4096) % 4096) // 32
        |  WHERE (f1.bits & (1::BIGINT << CAST(t.h % 32 AS INT))) <> 0
        |    AND (f2.bits & (1::BIGINT << CAST((t.h // 4096) % 32 AS INT))) <> 0),
        |cand AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
        |         FROM hits GROUP BY doc_id HAVING count(*) >= 20),
        |exact AS (SELECT DISTINCT doc_id FROM (
        |  SELECT t.doc_id, e.doc_id AS ed FROM tsh t JOIN esh e ON t.h = e.h
        |  GROUP BY t.doc_id, e.doc_id HAVING count(*) >= 20))
        |SELECT c.doc_id, c.n_bloom_hits, (x.doc_id IS NOT NULL) AS exact_hit
        |FROM cand c LEFT JOIN exact x ON x.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin

  /** The probe+audit stage shared by the live and stored Bloom
    * decontamination twins: `bloom` is the (w, bits) word table (fresh
    * build or store read); train shingles probe both bit positions via
    * broadcast hash joins on the word id, and the exact verdict rides
    * along so the false-positive surplus stays auditable row by row. */
  private[graft] def bloomDecontamReport(s: org.apache.spark.sql.SparkSession,
      d: String, bloom: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.ShingleHashes.shingle_hashes
    val docs = documents(s, d)
    val evald = evalSplit(docs)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val tsh = TextQueries.spread(train)
      .select(col("doc_id"), explode(shingle_hashes(col("text"), lit(12))).as("h"))
      val f1 = bloom.select(col("w").as("w1"), col("bits").as("bits1"))
      val f2 = bloom.select(col("w").as("w2"), col("bits").as("bits2"))
      val cand = tsh
        .withColumn("w1", expr("(h % 4096) div 32"))
        .withColumn("w2", expr("((h div 4096) % 4096) div 32"))
        .join(broadcast(f1), Seq("w1"))
        .join(broadcast(f2), Seq("w2"))
        .filter(expr("(bits1 & shiftleft(1L, CAST(h % 32 AS INT))) <> 0") &&
          expr("(bits2 & shiftleft(1L, CAST((h div 4096) % 32 AS INT))) <> 0"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_bloom_hits"))
        .filter(col("n_bloom_hits") >= 20)
      val exact = CurationQueries.decontaminate(train, evald, minShared = 20)
        .select(col("train_doc").as("doc_id")).distinct()
        .withColumn("x", lit(true))
      cand.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bloom_hits"),
          coalesce(col("x"), lit(false)).as("exact_hit"))
        .orderBy("doc_id")
  }

  private def moreDefs: Map[String, QueryDef] = Map(

    // ----- Bloom false-positive calibration: measured vs predicted -----
    // The eval that closes the Bloom family: probe the 4096-bit
    // two-hash gate with every TRUE-NEGATIVE train shingle (distinct
    // hashes anti-joined against the eval set) and compare the measured
    // false-positive rate to the occupancy prediction ρ² — k=2
    // independent probes each hitting a set bit with probability
    // ρ = set_bits/m. No transcendental: ρ² comes from the exact
    // popcount, so prediction and measurement are both exact ppm
    // integers and their gap IS the report (probe-pair correlation from
    // splitting one 60-bit hash would show up here and measurably
    // doesn't). Scale: one pass per side to distinct shingle hashes,
    // the ≤128-word filter broadcasts, the verdict is a 1-row agg.
    "bloom_fp_calibration" -> QueryDef.sql(
      """WITH evald AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |esh AS (SELECT DISTINCT h FROM (
        |  SELECT unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM evald)),
        |tsh AS (SELECT DISTINCT h FROM (
        |  SELECT unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM train)),
        |bloom AS (
        |  SELECT w, bit_or(b) AS bits FROM (
        |    SELECT (h % 4096) // 32 AS w, (1::BIGINT << CAST(h % 32 AS INT)) AS b FROM esh
        |    UNION ALL
        |    SELECT ((h // 4096) % 4096) // 32 AS w,
        |           (1::BIGINT << CAST((h // 4096) % 32 AS INT)) AS b FROM esh)
        |  GROUP BY w),
        |occ AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS set_bits FROM bloom),
        |tneg AS (SELECT h FROM tsh WHERE h NOT IN (SELECT h FROM esh)),
        |probe AS (
        |  SELECT t.h,
        |    CASE WHEN (f1.bits & (1::BIGINT << CAST(t.h % 32 AS INT))) <> 0
        |          AND (f2.bits & (1::BIGINT << CAST((t.h // 4096) % 32 AS INT))) <> 0
        |         THEN 1 ELSE 0 END AS hit
        |  FROM tneg t
        |  LEFT JOIN bloom f1 ON f1.w = (t.h % 4096) // 32
        |  LEFT JOIN bloom f2 ON f2.w = ((t.h // 4096) % 4096) // 32),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_neg_probes,
        |  CAST(sum(hit) AS BIGINT) AS fp_hits FROM probe)
        |SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(2 AS BIGINT) AS k_hashes,
        |  occ.set_bits,
        |  CAST((1000000 * occ.set_bits) // 4096 AS BIGINT) AS occupancy_ppm,
        |  m.n_neg_probes, m.fp_hits,
        |  CAST((1000000 * m.fp_hits) // m.n_neg_probes AS BIGINT) AS fp_meas_ppm,
        |  CAST((1000000 * occ.set_bits * occ.set_bits) // (4096 * 4096)
        |    AS BIGINT) AS fp_pred_ppm
        |FROM occ CROSS JOIN m""".stripMargin) { (s, d) =>
      import graft.functions.ShingleHashes.shingle_hashes
      val docs = documents(s, d)
      val esh = evalSplit(docs)
        .select(explode(shingle_hashes(col("text"), lit(12))).as("h"))
        .distinct()
        .localCheckpoint(eager = false) // filter build + anti-join probe share it
      val bloom = bloomWords(esh).localCheckpoint(eager = false)
      val occ = bloom.agg(sum(expr("bit_count(bits)")).as("set_bits"))
      val tneg = TextQueries.spread(docs.filter(col("doc_id") % 97 =!= 0))
        .select(explode(shingle_hashes(col("text"), lit(12))).as("h"))
        .distinct()
        .join(esh, Seq("h"), "left_anti")
      val f1 = bloom.select(col("w").as("w1"), col("bits").as("bits1"))
      val f2 = bloom.select(col("w").as("w2"), col("bits").as("bits2"))
      val m = tneg
        .withColumn("w1", expr("(h % 4096) div 32"))
        .withColumn("w2", expr("((h div 4096) % 4096) div 32"))
        .join(broadcast(f1), Seq("w1"), "left")
        .join(broadcast(f2), Seq("w2"), "left")
        .select(when(
          expr("(bits1 & shiftleft(1L, CAST(h % 32 AS INT))) <> 0") &&
            expr("(bits2 & shiftleft(1L, CAST((h div 4096) % 32 AS INT))) <> 0"),
          1L).otherwise(0L).as("hit"))
        .agg(count(lit(1)).as("n_neg_probes"), sum("hit").as("fp_hits"))
      occ.crossJoin(m)
        .select(lit(4096L).as("m_bits"), lit(2L).as("k_hashes"),
          col("set_bits"),
          expr("CAST((1000000 * set_bits) div 4096 AS BIGINT)")
            .as("occupancy_ppm"),
          col("n_neg_probes"), col("fp_hits"),
          expr("CAST((1000000 * fp_hits) div n_neg_probes AS BIGINT)")
            .as("fp_meas_ppm"),
          expr("CAST((1000000 * set_bits * set_bits) div (4096 * 4096) AS BIGINT)")
            .as("fp_pred_ppm"))
    },

    // ----- sketch composition #3: heavy-change detection -----
    // Cormode–Muthukrishnan's "what's new" question: which tokens
    // changed frequency most between the two corpus halves (doc_id
    // parity as the epoch split)? The DIFFERENCE sketch D = A − B is
    // itself a count-min-shaped linear sketch (linearity again), but
    // colliding deltas can cancel as well as inflate, so the estimator
    // is the LOWER MEDIAN of the 4 depth cells (2nd ascending —
    // deterministic, no averaging), not the min. Candidates enumerate
    // the union vocabulary (Heaps-sublinear; a true streaming deploy
    // would use hierarchical/deltoid group testing to avoid even that —
    // noted, not needed at vocab scale). The exact per-token delta
    // rides as the audit; top-20 by |estimate| with a total tiebreak.
    "count_min_heavy_change" -> QueryDef.sql(
      """WITH ta AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE doc_id % 2 = 1),
        |va AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM ta GROUP BY 1),
        |vb AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tb GROUP BY 1),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |sa AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM va CROSS JOIN js GROUP BY 1, 2),
        |sb AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM vb CROSS JOIN js GROUP BY 1, 2),
        |dd AS (
        |  SELECT coalesce(sa.j, sb.j) AS j, coalesce(sa.slot, sb.slot) AS slot,
        |    coalesce(sa.n, 0) - coalesce(sb.n, 0) AS d
        |  FROM sa FULL OUTER JOIN sb ON sa.j = sb.j AND sa.slot = sb.slot),
        |cand AS (SELECT t FROM va UNION SELECT t FROM vb),
        |probe AS (
        |  SELECT c.t, dd.d,
        |    row_number() OVER (PARTITION BY c.t ORDER BY dd.d, dd.j) AS rn
        |  FROM cand c CROSS JOIN js
        |  JOIN dd ON dd.j = js.j
        |    AND dd.slot = ('0x' || substr(md5(CAST(js.j AS VARCHAR) || '#' || c.t), 1, 15))::BIGINT % 1024),
        |est AS (SELECT t, CAST(d AS BIGINT) AS est_delta FROM probe WHERE rn = 2),
        |exact AS (
        |  SELECT coalesce(va.t, vb.t) AS t,
        |    coalesce(va.cnt, 0) - coalesce(vb.cnt, 0) AS exact_delta
        |  FROM va FULL OUTER JOIN vb ON va.t = vb.t)
        |SELECT e.t AS token, e.est_delta,
        |  CAST(x.exact_delta AS BIGINT) AS exact_delta,
        |  CAST(e.est_delta - x.exact_delta AS BIGINT) AS est_err
        |FROM est e JOIN exact x ON x.t = e.t
        |ORDER BY abs(e.est_delta) DESC, e.t LIMIT 20""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val va = tokenVocab(TextQueries.spread(docs.filter(col("doc_id") % 2 === 0)))
        .localCheckpoint(eager = false) // cells + candidates + exact share it
      val vb = tokenVocab(TextQueries.spread(docs.filter(col("doc_id") % 2 === 1)))
        .localCheckpoint(eager = false)
      val sa = countMinCells(va).toDF("j", "slot", "na")
      val sb = countMinCells(vb).toDF("j", "slot", "nb")
      val dd = sa.join(sb, Seq("j", "slot"), "full_outer")
        .select(col("j"), col("slot"),
          (coalesce(col("na"), lit(0L)) - coalesce(col("nb"), lit(0L))).as("d"))
      val cand = va.select("t").union(vb.select("t")).distinct()
      val js = (0 until CmDepth).map(lit(_))
      val probe = cand
        .select(col("t"), explode(array(js: _*)).as("j"))
        .withColumn("slot", cmSlotOf(col("j"), col("t")))
        .join(broadcast(dd), Seq("j", "slot"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("t")
            .orderBy(col("d"), col("j"))))
        .filter(col("rn") === 2) // lower median of 4 depths
        .select(col("t"), col("d").as("est_delta"))
      val exact = va.toDF("t", "ca").join(vb.toDF("t", "cb"), Seq("t"), "full_outer")
        .select(col("t"),
          (coalesce(col("ca"), lit(0L)) - coalesce(col("cb"), lit(0L)))
            .as("exact_delta"))
      probe.join(exact, Seq("t"))
        .select(col("t").as("token"), col("est_delta"), col("exact_delta"),
          (col("est_delta") - col("exact_delta")).as("est_err"))
        .orderBy(abs(col("est_delta")).desc, col("token"))
        .limit(20)
    },

    // ----- sketch composition #1: join-size estimation from count-min -----
    // The optimizer-statistics use of the frequency sketch (Cormode &
    // Muthukrishnan §4.2): |A ⋈ B| on a key equals the inner product
    // ⟨f_A, f_B⟩ of the two frequency vectors, and the count-min cells
    // estimate it as min_j Σ_slot a[j,s]·b[j,s] — colliding keys only
    // ADD mass, so the estimate never undercounts (over_ppm ≥ 0 is the
    // emitted invariant). This is how an engine prices a join it cannot
    // afford to probe: two 4×1024 tables answer in constant work what
    // the exact audit leg (which rides along) pays a real join for. All
    // per-depth estimates are emitted with the min flagged — the
    // envelope a planner would actually read.
    "cm_join_size_estimate" -> QueryDef.sql(
      """WITH va AS (
        |  SELECT CAST(user_id AS VARCHAR) AS t, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |vb AS (
        |  SELECT CAST(user_id AS VARCHAR) AS t, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ca AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM va CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js GROUP BY 1, 2),
        |cb AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM vb CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js GROUP BY 1, 2),
        |est AS (
        |  SELECT a.j, CAST(sum(a.n * b.n) AS BIGINT) AS est_j
        |  FROM ca a JOIN cb b ON b.j = a.j AND b.slot = a.slot GROUP BY 1),
        |ex AS (SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT) AS n_exact
        |       FROM va a JOIN vb b ON b.t = a.t),
        |mn AS (SELECT min(est_j) AS m FROM est)
        |SELECT e.j, e.est_j, x.n_exact,
        |  CAST((CAST(1000000 AS HUGEINT) * (e.est_j - x.n_exact)) // x.n_exact AS BIGINT) AS over_ppm,
        |  CAST(e.est_j = m.m AS BIGINT) AS is_min
        |FROM est e, ex x, mn m ORDER BY e.j""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      def vocabOf(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id").cast("string").as("t"))
        .agg(count(lit(1)).as("cnt"))
      // the per-key folds are key-cardinality (not event-cardinality)
      // and feed both the sketch and the exact legs — pinned once each
      val va = vocabOf("view").localCheckpoint(eager = false)
      val vb = vocabOf("purchase").localCheckpoint(eager = false)
      val estJ = countMinCells(va).withColumnRenamed("n", "na")
        .join(countMinCells(vb).withColumnRenamed("n", "nb"), Seq("j", "slot"))
        .groupBy("j")
        .agg(expr("CAST(sum(CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)").as("est_j"))
      val exact = va.withColumnRenamed("cnt", "ca")
        .join(vb.withColumnRenamed("cnt", "cb"), Seq("t"))
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)").as("n_exact"))
      val mn = estJ.agg(min("est_j").as("m"))
      estJ.crossJoin(broadcast(exact)).crossJoin(broadcast(mn))
        .select(col("j").cast("long").as("j"), col("est_j"), col("n_exact"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (est_j - n_exact)) div n_exact AS BIGINT)")
            .as("over_ppm"),
          (col("est_j") === col("m")).cast("long").as("is_min"))
        .orderBy("j")
    },

    // ----- count-min as ONE native aggregate pass over raw tokens -----
    // The third spelling of the same cells (relational vocab fold =
    // count_min_tokens; store = _stored; this = the native
    // [[graft.functions.CountMinAgg]] TypedImperativeAggregate): raw
    // tokens stream through one 4096-cell Long buffer per map task,
    // partials cross the shuffle as ONE 32 KB row each, and the merge
    // is element-wise ADD — exact, so split-invariance is bit-for-bit
    // (CountMinAggSpec), not a theorem. The hash gate holds the native
    // fold to the SAME oracle arithmetic as the relational build —
    // identical md5 slot per (depth, token), identical sums — which
    // pins the Java MessageDigest path byte-equal to both engines' SQL
    // md5(). This is the shape per-stratum sketch maintenance takes at
    // 100 TB: no explode-by-depth, no vocabulary fold on the critical
    // path, map-side combine doing all corpus-scale work.
    "count_min_native" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |cells AS (
        |  SELECT j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || t), 1, 15))::BIGINT % 1024 AS slot,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
        |  GROUP BY 1, 2)
        |SELECT CAST(j AS BIGINT) AS j, slot, n FROM cells ORDER BY j, slot""".stripMargin) { (s, d) =>
      val toks = TextQueries.spread(documents(s, d))
        .select(explode(expr(TextQueries.toksExpr)).as("t"))
      toks.agg(call_function("count_min_agg", col("t"), lit(1L)).as("cells"))
        .select(posexplode(col("cells")).as(Seq("i", "n")))
        .filter(col("n") =!= 0L)
        .select(expr("CAST(i div 1024 AS BIGINT)").as("j"),
          expr("CAST(i % 1024 AS BIGINT)").as("slot"), col("n"))
        .orderBy("j", "slot")
    },

    // ----- join-size estimation #2: correlated key sampling vs row sampling -----
    // The SAMPLING side of the optimizer-statistics coin (the sketch
    // side is cm_join_size_estimate above, same view⋈purchase join, so
    // the three estimators read against one truth). Two designs, the
    // published verdict between them made empirical (Vengerov et al.,
    // VLDB'15 "Join Size Estimation Subject to Filter Conditions"):
    //   - KEY-CORRELATED: both sides keep a key iff h(key) % m == 0 —
    //     the SAME coin per key on both sides — so a key's entire a_k·b_k
    //     mass survives together and est = m · Σ_kept a_k·b_k is
    //     unbiased with per-key variance, never per-pair;
    //   - ROW-BERNOULLI: each row keeps independently at rate 1/m
    //     (side-salted row hashes), so a matching PAIR survives at 1/m²
    //     and est = m² · |sampled ⋈| — unbiased but with pair-level
    //     variance that explodes exactly when joins are expensive
    //     (multiplicity-heavy keys).
    // Both estimates fold from per-key counts of the SAMPLED rows (the
    // join itself never materializes — at 100 TB the estimator touches
    // 1/m of one column), the exact inner product rides as the audit,
    // and everything after the md5 coin is BIGINT, so the per-method
    // error table is hash-exact. At fixture scale both methods are
    // high-variance (hundreds of keys; one coin decides much) — the
    // variance ORDERING is the published asymptotic result, and what
    // the table prices here is the mechanism, per-draw.
    "join_size_sample_estimate" -> QueryDef.sql(
      """WITH ms AS (SELECT unnest([4, 16]) AS m),
        |a AS (SELECT CAST(user_id AS VARCHAR) AS u, CAST(event_id AS VARCHAR) AS eid
        |      FROM events WHERE event_type = 'view'),
        |b AS (SELECT CAST(user_id AS VARCHAR) AS u, CAST(event_id AS VARCHAR) AS eid
        |      FROM events WHERE event_type = 'purchase'),
        |va AS (SELECT u, CAST(count(*) AS BIGINT) AS ca FROM a GROUP BY 1),
        |vb AS (SELECT u, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY 1),
        |ex AS (SELECT CAST(sum(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS n_exact
        |       FROM va JOIN vb USING (u)),
        |ke AS (
        |  SELECT m.m, 'key_correlated' AS method,
        |    CAST(m.m * sum(CAST(va.ca AS HUGEINT) * vb.cb) AS BIGINT) AS est
        |  FROM va JOIN vb USING (u) CROSS JOIN ms m
        |  WHERE ('0x' || substr(md5(u), 1, 15))::BIGINT % m.m = 0
        |  GROUP BY 1, 2),
        |ra AS (SELECT m.m, u, CAST(count(*) AS BIGINT) AS ca
        |       FROM a CROSS JOIN ms m
        |       WHERE ('0x' || substr(md5('A#' || eid), 1, 15))::BIGINT % m.m = 0
        |       GROUP BY 1, 2),
        |rb AS (SELECT m.m, u, CAST(count(*) AS BIGINT) AS cb
        |       FROM b CROSS JOIN ms m
        |       WHERE ('0x' || substr(md5('B#' || eid), 1, 15))::BIGINT % m.m = 0
        |       GROUP BY 1, 2),
        |re AS (
        |  SELECT ra.m, 'row_bernoulli' AS method,
        |    CAST(ra.m * ra.m * sum(CAST(ra.ca AS HUGEINT) * rb.cb) AS BIGINT) AS est
        |  FROM ra JOIN rb ON rb.m = ra.m AND rb.u = ra.u GROUP BY 1, 2),
        |uu AS (SELECT * FROM ke UNION ALL SELECT * FROM re)
        |SELECT uu.method, CAST(uu.m AS BIGINT) AS m, uu.est, x.n_exact,
        |  CAST((1000000 * abs(uu.est - x.n_exact)) // x.n_exact AS BIGINT) AS abs_err_ppm,
        |  CAST(uu.est >= x.n_exact AS BIGINT) AS is_over
        |FROM uu, ex x ORDER BY uu.method, uu.m""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      def h60(c: org.apache.spark.sql.Column) =
        graft.functions.Md5Head60.md5_head60(c)
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").cast("string").as("u"),
          col("event_id").cast("string").as("eid"))
      val msDf = Seq(4L, 16L).toDF("m")
      val va = side("view").groupBy("u").agg(count(lit(1)).as("ca"))
      val vb = side("purchase").groupBy("u").agg(count(lit(1)).as("cb"))
      // one key-keyed join feeds the exact audit AND every key-sample m
      val joined = va.join(vb, "u").localCheckpoint(eager = false)
      val exact = joined
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)").as("n_exact"))
      val keyEst = joined.withColumn("h", h60(col("u")))
        .crossJoin(broadcast(msDf)).filter(pmod(col("h"), col("m")) === 0)
        .groupBy("m")
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0))").as("s"))
        .select(lit("key_correlated").as("method"), col("m"),
          expr("CAST(m * s AS BIGINT)").as("est"))
      def rowSample(df: org.apache.spark.sql.DataFrame, tag: String, cn: String) =
        df.withColumn("h", h60(concat(lit(tag), col("eid"))))
          .crossJoin(broadcast(msDf)).filter(pmod(col("h"), col("m")) === 0)
          .groupBy("m", "u").agg(count(lit(1)).as(cn))
      val rowEst = rowSample(side("view"), "A#", "ca")
        .join(rowSample(side("purchase"), "B#", "cb"), Seq("m", "u"))
        .groupBy("m")
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0))").as("s"))
        .select(lit("row_bernoulli").as("method"), col("m"),
          expr("CAST(m * m * s AS BIGINT)").as("est"))
      keyEst.unionByName(rowEst).crossJoin(broadcast(exact))
        .select(col("method"), col("m"), col("est"), col("n_exact"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(est - n_exact)) div n_exact AS BIGINT)")
            .as("abs_err_ppm"),
          (col("est") >= col("n_exact")).cast("long").as("is_over"))
        .orderBy("method", "m")
    },

    // ----- sketch composition #2: pairwise Jaccard from KMV sketches -----
    // The set-similarity use of the distinct sketch (Beyer et al. 2007):
    // for sources A, B, take K = the k smallest hashes of sk_A ∪ sk_B
    // (which IS the KMV sketch of A ∪ B, by union-closure) and estimate
    // J(A,B) ≈ |{h ∈ K : h ∈ sk_A ∧ h ∈ sk_B}| / |K| — membership of a
    // union-sketch hash in BOTH per-source sketches is exact (each
    // retained its own k smallest), so the estimator is a pure function
    // of 2k stored rows per pair. The source-pair similarity matrix a
    // curation pipeline prices mixtures with, at k·|sources| read cost
    // — quadratic only in the (taxonomy-bounded) source count, never in
    // the corpus. Exact Jaccard rides along as the audit; everything is
    // integer ppm, so the hash check is exact.
    "kmv_jaccard_sources" -> QueryDef.sql(
      s"""WITH toks AS (
         |  SELECT source, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
         |  FROM documents WHERE source IS NOT NULL),
         |h AS (SELECT DISTINCT source, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
         |sk AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM h)
         |  WHERE rk <= $KmvK),
         |srcs AS (SELECT DISTINCT source FROM h),
         |pairs AS (SELECT a.source AS s1, b.source AS s2 FROM srcs a JOIN srcs b ON a.source < b.source),
         |m AS (
         |  SELECT p.s1, p.s2, s.h,
         |    max(CASE WHEN s.source = p.s1 THEN 1 ELSE 0 END) AS in1,
         |    max(CASE WHEN s.source = p.s2 THEN 1 ELSE 0 END) AS in2
         |  FROM pairs p JOIN sk s ON s.source IN (p.s1, p.s2)
         |  GROUP BY 1, 2, 3),
         |kk AS (SELECT s1, s2, h, in1, in2,
         |         row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rk FROM m),
         |est AS (
         |  SELECT s1, s2, CAST(count(*) AS BIGINT) AS k_used,
         |    CAST(sum(in1 * in2) AS BIGINT) AS n_inter_est
         |  FROM kk WHERE rk <= $KmvK GROUP BY 1, 2),
         |me AS (
         |  SELECT p.s1, p.s2, x.h,
         |    max(CASE WHEN x.source = p.s1 THEN 1 ELSE 0 END) AS in1,
         |    max(CASE WHEN x.source = p.s2 THEN 1 ELSE 0 END) AS in2
         |  FROM pairs p JOIN h x ON x.source IN (p.s1, p.s2)
         |  GROUP BY 1, 2, 3),
         |ex AS (
         |  SELECT s1, s2, CAST(sum(in1 * in2) AS BIGINT) AS n_inter,
         |    CAST(count(*) AS BIGINT) AS n_union
         |  FROM me GROUP BY 1, 2)
         |SELECT e.s1, e.s2, e.k_used, e.n_inter_est,
         |  CAST((1000000 * e.n_inter_est) // e.k_used AS BIGINT) AS est_jacc_ppm,
         |  x.n_inter, x.n_union,
         |  CAST((1000000 * x.n_inter) // x.n_union AS BIGINT) AS jacc_ppm,
         |  CAST(abs((1000000 * e.n_inter_est) // e.k_used
         |    - (1000000 * x.n_inter) // x.n_union) AS BIGINT) AS err_ppm
         |FROM est e JOIN ex x ON x.s1 = e.s1 AND x.s2 = e.s2
         |ORDER BY e.s1, e.s2""".stripMargin) { (s, d) =>
      // one corpus pass: the distinct (source, hash) table feeds the
      // sketches and the exact audit
      val h = documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), explode(array_distinct(expr(TextQueries.toksExpr))).as("t"))
        .select(col("source"),
          graft.functions.Md5Head60.md5_head60(col("t")).as("h"))
        .distinct()
        .localCheckpoint(eager = false)
      val skW = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = h.withColumn("rk", row_number().over(skW))
        .filter(col("rk") <= KmvK).select("source", "h")
      val srcs = h.select("source").distinct()
      val pairs = srcs.toDF("s1")
        .crossJoin(srcs.toDF("s2")).filter(col("s1") < col("s2"))
      // pair×member marking as a UNION of two broadcast equi-joins (the
      // s1 leg and the s2 leg) — never an OR-condition nested loop
      def marked(members: org.apache.spark.sql.DataFrame) =
        broadcast(pairs).join(members.toDF("s1", "h"), Seq("s1"))
          .select(col("s1"), col("s2"), col("h"), lit(1L).as("i1"), lit(0L).as("i2"))
          .unionByName(broadcast(pairs).join(members.toDF("s2", "h"), Seq("s2"))
            .select(col("s1"), col("s2"), col("h"), lit(0L).as("i1"), lit(1L).as("i2")))
          .groupBy("s1", "s2", "h")
          .agg(max("i1").as("in1"), max("i2").as("in2"))
      val kkW = Window.partitionBy(col("s1"), col("s2")).orderBy(col("h"))
      val est = marked(sk).withColumn("rk", row_number().over(kkW))
        .filter(col("rk") <= KmvK)
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("k_used"), sum(col("in1") * col("in2")).as("n_inter_est"))
      val ex = marked(h)
        .groupBy("s1", "s2")
        .agg(sum(col("in1") * col("in2")).as("n_inter"), count(lit(1)).as("n_union"))
      est.join(ex, Seq("s1", "s2"))
        .select(col("s1"), col("s2"), col("k_used"), col("n_inter_est"),
          expr("(1000000 * n_inter_est) div k_used").as("est_jacc_ppm"),
          col("n_inter"), col("n_union"),
          expr("(1000000 * n_inter) div n_union").as("jacc_ppm"),
          expr("abs((1000000 * n_inter_est) div k_used - (1000000 * n_inter) div n_union)")
            .as("err_ppm"))
        .orderBy("s1", "s2")
    },

    // ----- rolling 7-day distinct users via KMV sketch union -----
    // The SLIDING-WINDOW face of sketch mergeability: per-day KMV
    // sketches (64 rows/day, built once) union across each trailing
    // 7-day window and re-derive the k-th min — the weekly-active-users
    // series WITHOUT a per-window pass over raw events. This is the
    // operational win `kmv_merge_shingles` proves the law for: count
    // distinct does not slide (each window would rescan its events; at
    // 100 TB that is 7× the daily volume per day of output), while
    // sketch rows DO — the window join touches 64·7 rows per output
    // day. Merged hashes dedupe before ranking (the same user's hash
    // appears in several days' sketches). KMV's union-closure makes the
    // windowed sketch EXACTLY the sketch of the windowed union — no
    // approximation stacking. The exact distinct rides along as the
    // grading audit (it is the expensive leg on purpose); day grid and
    // sketch tables are time-bounded, so the non-equi window join is a
    // broadcast over constant rows.
    "kmv_rolling_users" -> QueryDef.sql(RollingKmvSql) { (s, d) =>
      val ev = events(s, d)
      val dh = ev.select(
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"),
        graft.functions.Md5Head60.md5_head60(col("user_id").cast("string")).as("h"))
        .distinct()
      rollingEstimate(dailyUserSketch(ev), dh)
    },

    // ----- rolling series from the PERSISTED per-day sketch store -----
    // The amortization twin (the TWELFTH store family, and the first
    // events-table one): per-day sketches persist once
    // ([[SignatureStore.ensureDailyKmv]]) and every rolling report
    // reads 64 rows/day from parquet — raw events feed only the exact
    // audit leg here (production drops that leg and touches no events
    // at all). Streaming epochs append their own day sketches
    // (`maintainDailyKmv`) and union-closure makes the read-side re-rank
    // exact, so the store needs no supersession logic — events are
    // immutable facts, duplicates vanish in the (day, h) distinct.
    // Same oracle as the live twin: stored must be bit-identical.
    "kmv_rolling_users_stored" -> QueryDef.sql(RollingKmvSql) { (s, d) =>
      val dh = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"),
          graft.functions.Md5Head60.md5_head60(col("user_id").cast("string")).as("h"))
        .distinct()
      rollingEstimate(SignatureStore.ensureDailyKmv(s, d), dh)
    },

    // ----- fixed-bin quantile sketch (+ exact audit) -----
    // The third sketch family: percentiles from a 256-bin equi-width
    // histogram (bin = len // 64, capped). Exact rank-selection
    // (o12/text_length_quantiles) needs a total ORDER over the data —
    // at 100 TB that is the one shuffle nobody can afford, while the
    // histogram is a distributive 256-key aggregate: per-shard bins ADD
    // (the same mergeability law as KMV union / Σq moments), so
    // per-day/per-source rollups compose to global percentiles for
    // free. The estimate is the bin UPPER EDGE (a one-sided ≤64-char
    // error bound by construction); the exact o12-style rank select
    // rides along so the error is an emitted fact, not a promise.
    "quantile_binned_sketch" -> QueryDef.sql(BinnedQuantileSql) { (s, d) =>
      val docs = documents(s, d)
      binnedQuantileReport(
        docs.groupBy(least(expr("n_chars div 64"), lit(255L)).as("bin"))
          .agg(count(lit(1)).as("n")),
        docs)
    },

    // Stored twin: per-source bin rows are the 15th store family — the
    // second ADDITIVE one (cells SUM, like count-min): a stream epoch
    // appends its own per-source histogram and the read side folds.
    // Global percentiles come from the store's bins summed across
    // sources — the bins-ADD mergeability law IS the hash equality
    // with the live oracle, which bins the corpus in one global pass.
    // The exact audit leg still ranks the corpus (the audit's job).
    "quantile_binned_stored" -> QueryDef.sql(BinnedQuantileSql) { (s, d) =>
      val bins = SignatureStore.ensureQuantileBins(s, d)
        .groupBy("bin").agg(sum("n").as("n"))
      binnedQuantileReport(bins, documents(s, d))
    },

    // Serving face of the bin store (count_min_serve's sibling):
    // per-source p50/p90/p99 upper-edge estimates from the stored bins
    // ALONE — zero corpus bytes in the plan (pinned), no exact-audit
    // leg (that's quantile_binned_stored's job). At 100 TB this is the
    // dashboard query: percentiles per source at |sources|×256-row read
    // cost. Oracle replays the per-source histogram from the corpus.
    "quantile_bins_serve" -> QueryDef.sql(QuantileServeSql) { (s, d) =>
      import s.implicits._
      val bins = SignatureStore.ensureQuantileBins(s, d)
        .filter(col("source").isNotNull)
      val c = bins
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(col("source")).orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("source"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val pcts = Seq(50L, 90L, 99L).toDF("pct")
      c.join(broadcast(pcts), lit(100) * col("cum") >= col("pct") * col("total"))
        .groupBy("source", "pct")
        .agg(min(col("bin")).as("qbin"), max(col("total")).as("total"))
        .select(col("source"), col("pct"), col("total"), col("qbin"),
          (lit(64) * col("qbin") + 63).as("est_len_hi"))
        .orderBy("source", "pct")
    },

    // ----- ANALYZE-style column statistics profile -----
    // The table-stats collection every cost-based optimizer runs before
    // planning (Spark's own ANALYZE TABLE … COMPUTE STATISTICS FOR
    // COLUMNS; Selinger et al. 1979 for why): per column, row/null
    // counts, min/max, and the NDV — with the NDV emitted BOTH exact
    // and KMV-estimated, err_ppm beside them, because at 100 TB the
    // exact leg is the one you delete (a count-distinct over a
    // row-cardinality column is corpus-scale state; the 64-hash sketch
    // is 512 bytes) and this profile is the evidence the estimate
    // deserves the job. Joins with `cm_join_size_estimate` as the two
    // planner statistics the sketch family serves. Plan shape: each
    // column leg reads ONLY its own column (parquet column pruning —
    // the scan is width-proportional, never table-proportional), the
    // base stats fold in one hash aggregate, and the k-th-smallest hash
    // is a TakeOrdered per-partition heap (limit+sort), never a global
    // window. Canonical string forms (micros for the double, epoch-ns
    // for the timestamp) keep the hashes engine-identical.
    "column_stats_profile" -> QueryDef.sql(ColumnStatsSql) { (s, d) =>
      val ev = events(s, d)
      def leg(name: String, sv: org.apache.spark.sql.Column,
          minNum: org.apache.spark.sql.Column, maxNum: org.apache.spark.sql.Column,
          minStr: org.apache.spark.sql.Column, maxStr: org.apache.spark.sql.Column) = {
        val base = ev.agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(sv)).as("n_null"),
          minNum.as("min_num"), maxNum.as("max_num"),
          minStr.as("min_str"), maxStr.as("max_str"))
        val h = ev.select(
            graft.functions.Md5Head60.md5_head60(sv).as("h"))
          .where(sv.isNotNull).distinct()
        val kth = h.orderBy("h").limit(KmvK)
          .agg(max(col("h")).as("kth"), count(lit(1)).as("nk"))
        val exact = h.agg(count(lit(1)).as("ndv_exact"))
        base.crossJoin(exact).crossJoin(kth)
          .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
            col("ndv_exact"),
            expr(s"CASE WHEN nk < $KmvK THEN ndv_exact ELSE CAST((CAST(${KmvK - 1} " +
              "AS DECIMAL(38,0)) * CAST(1152921504606846976 AS DECIMAL(38,0))) " +
              "div kth AS BIGINT) END").as("ndv_est"),
            col("min_num"), col("max_num"), col("min_str"), col("max_str"))
          .withColumn("ndv_err_ppm",
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(ndv_est - ndv_exact)) " +
              "div ndv_exact AS BIGINT)"))
      }
      val nullL = max(lit(null).cast("long"))
      val nullS = max(lit(null).cast("string"))
      leg("event_type", col("event_type"), nullL, nullL,
          min(col("event_type")), max(col("event_type")))
        .unionByName(leg("ts", col("ts_ns").cast("string"),
          min(col("ts_ns")), max(col("ts_ns")), nullS, nullS))
        .unionByName(leg("user_id", col("user_id").cast("string"),
          min(col("user_id")), max(col("user_id")), nullS, nullS))
        .unionByName(leg("value", floor(col("value") * 1000000).cast("long").cast("string"),
          min(floor(col("value") * 1000000).cast("long")),
          max(floor(col("value") * 1000000).cast("long")), nullS, nullS))
        .select("col_name", "n_rows", "n_null", "ndv_exact", "ndv_est",
          "ndv_err_ppm", "min_num", "max_num", "min_str", "max_str")
        .orderBy("col_name")
    },

    // ----- HyperLogLog distinct-user estimate, exact audit beside -----
    // The sixth estimator (Flajolet et al. 2007) and the one every
    // warehouse actually ships for COUNT(DISTINCT): 256 six-bit
    // registers per stratum versus KMV's 64 hashes. It earns its seat
    // here by completing the MERGE ALGEBRA the store families
    // demonstrate: registers merge by MAX — idempotent like Bloom's OR
    // (replays are absorbed BY VALUE), unlike count-min/bins' ADD and
    // KMV's union-k-min. Exactness discipline: the harmonic mean the
    // paper writes as Σ2^(−M_j) is scaled by the common factor 2^53 so
    // it is a BIGINT sum of power-of-two terms (empty registers
    // contribute 2^53 each); α·m² enters as a fixed ppm constant and
    // one HUGEINT/DECIMAL(38) division chain emits the estimate — no
    // float ever appears in the HLL path, so both engines agree
    // bit-for-bit. The small-range linear-counting correction
    // (m·ln(m/V), the paper's §4 regime switch below 5m/2) DOES need
    // one libm ln() — it enters under the family's round(…,6)
    // discipline and an integer floor, the same parity treatment as
    // cosine. Both estimates are emitted with their error columns: the
    // raw one makes the small-stratum bias VISIBLE, the corrected one
    // shows the regime switch earning its keep — together they are the
    // audit a sketch deployment graduates on.
    // One aggregation chain over one events scan, no join: each
    // distinct (stratum, h) falls in exactly one register, so the
    // registers' hash counts sum to the exact leg. Joining a separate
    // exact branch would let AQE pick the broadcast side by whichever
    // branch finishes first, so the final plan, and the classes it
    // generates, would change from run to run.
    "hll_distinct_users" -> QueryDef.sql(
      HllUsersSql) { (s, d) =>
      val regs = hllHashes(events(s, d).select(col("event_type").as("stratum"), col("user_id")))
        .groupBy(col("stratum"), pmod(col("h"), lit(HllM)).as("idx"))
        .agg(hllRank.as("m"), count(lit(1)).as("n_h"))
      hllEstimates(hllSums(regs, sum(col("n_h")).as("n_exact"))).orderBy("event_type")
    },

    // Stored twin: registers from the 19th store family (built once,
    // maintained by MAX stream epochs — EventStream.maintainHll —
    // compacted by re-MAXing). Same oracle as the live build: the
    // store must resolve register-identical to a fresh build, so every
    // downstream number is equal by construction. The exact audit leg
    // still folds the event stream (the audit's job); the STORE's value
    // is that estimate-serving never does — see hll_serve.
    "hll_distinct_stored" -> QueryDef.sql(HllUsersSql) { (s, d) =>
      hllReport(SignatureStore.ensureHll(s, d), hllExact(s, d))
        .orderBy("event_type")
    },

    // The SERVING face: per-stratum distinct-user estimates from the
    // ≤256-row-per-stratum register store ALONE — zero event bytes in
    // the final plan (PlanAssertSpec pins it). This is what the sketch
    // buys at 100 TB: COUNT(DISTINCT user) per type costs a
    // constant-size artifact read, not an event-stream pass — and
    // because registers MAX-merge, the same store answers any stratum
    // union by re-MAXing served rows. Oracle replays the registers from
    // events (that's DuckDB's job, not the plan's).
    "hll_serve" -> QueryDef.sql(
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events),
         |b AS (
         |  SELECT event_type, h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM h GROUP BY 1, 2),
         |s AS (
         |  SELECT event_type,
         |    CAST(sum(1::BIGINT << (53 - m))
         |      + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n_regs
         |  FROM b GROUP BY 1),
         |est AS (
         |  SELECT event_type, n_regs,
         |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |      // s // 1000000 AS BIGINT) AS n_est
         |  FROM s)
         |SELECT event_type, n_regs, n_est,
         |  CASE WHEN n_regs < $HllM AND n_est <= ${5 * HllM / 2}
         |       THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE)
         |         / ($HllM - n_regs)), 6)) AS BIGINT)
         |       ELSE n_est END AS n_est_lc
         |FROM est ORDER BY event_type""".stripMargin) { (s, d) =>
      SignatureStore.ensureHll(s, d)
        .groupBy(col("stratum").as("event_type"))
        .agg((sum(expr("shiftleft(1L, cast(53 - m as int))"))
            + (lit(HllM.toLong) - count(lit(1))) * lit(1L << 53)).as("s"),
          count(lit(1)).as("n_regs"))
        .select(col("event_type"), col("n_regs"), hllEstExpr("s").as("n_est"))
        .withColumn("n_est_lc", hllLcExpr)
        .orderBy("event_type")
    },

    // ----- HLL at MANY strata via the native TypedImperativeAggregate -----
    // The shape that motivates [[graft.functions.HllRegistersAgg]]:
    // distinct users per (event_type, day) is hundreds of strata, and
    // the relational register fold would shuffle ≤256 rows per stratum
    // per map task; the native aggregate folds each map slice into ONE
    // 256-byte buffer per group (byte-MAX merge — HLL's own algebra as
    // the partial-aggregation law), so the exchange carries exactly one
    // row per group per task. Same estimate chain downstream
    // (hllEstExpr + the LC regime switch); the exact audit and the
    // oracle replay the registers relationally — the two spellings
    // agreeing IS the aggregate's correctness statement (HllAggSpec
    // pins it row-for-row on a planted fixture too).
    "hll_user_days" -> QueryDef.sql(
      s"""WITH h AS (
         |  SELECT DISTINCT event_type, epoch_us(ts) // 86400000000 AS day,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events),
         |b AS (
         |  SELECT event_type, day, h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM h GROUP BY 1, 2, 3),
         |s AS (
         |  SELECT event_type, day,
         |    CAST(sum(1::BIGINT << (53 - m))
         |      + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n_regs
         |  FROM b GROUP BY 1, 2),
         |ex AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM h GROUP BY 1, 2),
         |est AS (
         |  SELECT e.event_type, e.day, e.n_exact, s.n_regs,
         |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |      // s.s // 1000000 AS BIGINT) AS n_est
         |  FROM ex e JOIN s ON s.event_type = e.event_type AND s.day = e.day)
         |SELECT event_type, day, n_exact, n_regs,
         |  CASE WHEN n_regs < $HllM AND n_est <= ${5 * HllM / 2}
         |       THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE)
         |         / ($HllM - n_regs)), 6)) AS BIGINT)
         |       ELSE n_est END AS n_est_lc
         |FROM est ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val h = events(s, d)
        .select(col("event_type"), expr(s"(($us) div 86400000000)").as("day"),
          graft.functions.Md5Head60.md5_head60(col("user_id").cast("string")).as("h"))
      val agg = h.groupBy("event_type", "day")
        .agg(call_function("hll_registers_agg", col("h")).as("hr"))
        .select(col("event_type"), col("day"),
          col("hr.s").as("s"), col("hr.n_regs").as("n_regs"))
      val ex = h.distinct().groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_exact"))
      ex.join(agg, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n_exact"), col("n_regs"),
          hllEstExpr("s").as("n_est"))
        .select(col("event_type"), col("day"), col("n_exact"), col("n_regs"),
          hllLcExpr.as("n_est_lc"))
        .orderBy("event_type", "day")
    },

    // ----- HLL set algebra: pairwise overlap via inclusion–exclusion -----
    // What register sketches can and cannot do, made empirical: UNION
    // is native (register MAX — exact sketch algebra), so |A ∩ B|
    // estimates only indirectly as est(A) + est(B) − est(A ∪ B) — and
    // the three estimation errors ADD where the intersection itself
    // may be small, the well-known caveat that sends intersection-heavy
    // workloads to theta sketches or back to KMV (whose k-min sets
    // intersect directly). This query prices that caveat: all 5×4/2
    // type pairs of distinct-user overlaps, estimated via
    // inclusion–exclusion from LC-corrected per-type and union
    // registers, with the exact intersection riding as the audit.
    // Integer discipline as the rest of the family; the union sketch is
    // a materialized register MAX, not an algebraic shortcut.
    "hll_type_overlap" -> QueryDef.sql(
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events),
         |tp AS (SELECT DISTINCT event_type FROM h),
         |pairs AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb
         |  FROM tp a JOIN tp b ON a.event_type < b.event_type),
         |b AS (
         |  SELECT event_type, h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM h GROUP BY 1, 2),
         |s1 AS (
         |  SELECT event_type,
         |    CAST(sum(1::BIGINT << (53 - m))
         |      + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n_regs
         |  FROM b GROUP BY 1),
         |bu AS (
         |  SELECT p.ta, p.tb, r.idx, max(r.m) AS m
         |  FROM pairs p JOIN b r ON r.event_type = p.ta OR r.event_type = p.tb
         |  GROUP BY 1, 2, 3),
         |su AS (
         |  SELECT ta, tb,
         |    CAST(sum(1::BIGINT << (53 - m))
         |      + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n_regs
         |  FROM bu GROUP BY 1, 2),
         |lc AS (
         |  SELECT event_type, CASE WHEN n_regs < $HllM AND r <= ${5 * HllM / 2}
         |    THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE)
         |      / ($HllM - n_regs)), 6)) AS BIGINT) ELSE r END AS e
         |  FROM (SELECT event_type, n_regs,
         |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |      // s // 1000000 AS BIGINT) AS r FROM s1)),
         |lcu AS (
         |  SELECT ta, tb, CASE WHEN n_regs < $HllM AND r <= ${5 * HllM / 2}
         |    THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE)
         |      / ($HllM - n_regs)), 6)) AS BIGINT) ELSE r END AS eu
         |  FROM (SELECT ta, tb, n_regs,
         |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |      // s // 1000000 AS BIGINT) AS r FROM su)),
         |exact AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb,
         |    CAST(count(*) AS BIGINT) AS n_exact
         |  FROM h a JOIN h b ON b.h = a.h AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT u.ta, u.tb, coalesce(x.n_exact, 0) AS n_exact,
         |  la.e + lb.e - u.eu AS n_est_ix
         |FROM lcu u
         |JOIN lc la ON la.event_type = u.ta
         |JOIN lc lb ON lb.event_type = u.tb
         |LEFT JOIN exact x ON x.ta = u.ta AND x.tb = u.tb
         |ORDER BY u.ta, u.tb""".stripMargin) { (s, d) =>
      val h = hllHashes(
          events(s, d).select(col("event_type").as("stratum"), col("user_id")))
        .withColumnRenamed("stratum", "event_type")
        .localCheckpoint(eager = false)
      val tp = h.select("event_type").distinct()
      val pairs = tp.as("a").join(tp.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      val b = h.groupBy(col("event_type"), pmod(col("h"), lit(HllM)).as("idx"))
        .agg(max(expr(s"CASE WHEN h div $HllM = 0 THEN 53 " +
          s"ELSE 53 - length(bin(h div $HllM)) END")).as("m"))
        .localCheckpoint(eager = false)
      def sFold(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
        df.groupBy(keys.map(col): _*)
          .agg((sum(expr("shiftleft(1L, cast(53 - m as int))"))
              + (lit(HllM.toLong) - count(lit(1))) * lit(1L << 53)).as("s"),
            count(lit(1)).as("n_regs"))
      def lcCol = expr(s"CASE WHEN n_regs < $HllM AND r <= ${5 * HllM / 2} " +
        s"THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE) " +
        s"/ ($HllM - n_regs)), 6)) AS BIGINT) ELSE r END")
      val lc = sFold(b, Seq("event_type"))
        .withColumn("r", hllEstExpr("s")).select(col("event_type"), lcCol.as("e"))
      val bu = broadcast(pairs).join(b,
          col("event_type") === col("ta") || col("event_type") === col("tb"))
        .groupBy("ta", "tb", "idx").agg(max(col("m")).as("m"))
      val lcu = sFold(bu, Seq("ta", "tb"))
        .withColumn("r", hllEstExpr("s"))
        .select(col("ta"), col("tb"), lcCol.as("eu"))
      val exact = h.as("x").join(h.as("y"),
          col("y.h") === col("x.h") &&
            col("x.event_type") < col("y.event_type"))
        .select(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_exact"))
      lcu.join(lc.select(col("event_type").as("ta"), col("e").as("ea")), Seq("ta"))
        .join(lc.select(col("event_type").as("tb"), col("e").as("eb")), Seq("tb"))
        .join(exact, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("ea") + col("eb") - col("eu")).as("n_est_ix"))
        .orderBy("ta", "tb")
    },

    // ----- HLL mergeability: the MAX law, materialized and checked -----
    // Same discipline as `kmv_merge_shingles` and
    // `count_min_merge_sources`: the law that makes the sketch worth
    // 100 TB — per-stratum register tables MAX-merged must equal the
    // registers built directly from the global stream — is PROVEN by
    // materializing both sides and comparing register-for-register
    // (n_reg_diffs = 0), not assumed from algebra. The two estimates
    // ride along; they are equal BECAUSE the registers are.
    "hll_merge_sources" -> QueryDef.sql(
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events),
         |b AS (
         |  SELECT event_type, h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM h GROUP BY 1, 2),
         |merged AS (SELECT idx, max(m) AS m FROM b GROUP BY idx),
         |hg AS (SELECT DISTINCT h FROM h),
         |direct AS (
         |  SELECT h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM hg GROUP BY 1),
         |diffs AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reg_diffs FROM (
         |    SELECT idx, m FROM merged EXCEPT SELECT idx, m FROM direct)),
         |sm AS (SELECT CAST(sum(1::BIGINT << (53 - m))
         |         + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s FROM merged),
         |sd AS (SELECT CAST(sum(1::BIGINT << (53 - m))
         |         + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s FROM direct)
         |SELECT
         |  CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |    // sm.s // 1000000 AS BIGINT) AS merged_est,
         |  CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |    // sd.s // 1000000 AS BIGINT) AS direct_est,
         |  d.n_reg_diffs,
         |  CAST(CASE WHEN sm.s = sd.s AND d.n_reg_diffs = 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS merge_exact
         |FROM sm, sd, diffs d""".stripMargin) { (s, d) =>
      val perType = hllRegisters(
        events(s, d).select(col("event_type").as("stratum"), col("user_id")))
      val merged = perType.groupBy("idx").agg(max(col("m")).as("m"))
      val direct = hllRegisters(
        events(s, d).select(lit("all").as("stratum"), col("user_id")))
        .select("idx", "m")
      val diffs = merged.select("idx", "m").exceptAll(direct)
        .agg(count(lit(1)).as("n_reg_diffs"))
      def sOf(r: org.apache.spark.sql.DataFrame, nm: String) =
        r.agg((sum(expr("shiftleft(1L, cast(53 - m as int))"))
          + (lit(HllM.toLong) - count(lit(1))) * lit(1L << 53)).as(nm))
      val estExpr = (sCol: String) =>
        expr(s"CAST((CAST($HllAlphaPpm AS DECIMAL(38,0)) * ${HllM * HllM} " +
          s"* 9007199254740992) div $sCol div 1000000 AS BIGINT)")
      sOf(merged, "sm").crossJoin(sOf(direct, "sd")).crossJoin(diffs)
        .select(estExpr("sm").as("merged_est"), estExpr("sd").as("direct_est"),
          col("n_reg_diffs"),
          when(col("sm") === col("sd") && col("n_reg_diffs") === 0, 1L)
            .otherwise(0L).as("merge_exact"))
    },
  )

  /** HLL registers per stratum: (stratum, idx, m) from a (stratum, user_id)
    * input — the build kernel the live query, the store, and every stream
    * epoch share. 256 registers (p=8) over the 60-bit md5-prefix hash;
    * m ∈ [1, 53] is the 1-based leading-zero rank of the upper 52 bits. */
  val HllM = 256
  val HllAlphaPpm = 718273L // 0.7213/(1 + 1.079/256), fixed at ppm

  def hllHashes(in: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    in.select(col("stratum"),
        graft.functions.Md5Head60.md5_head60(col("user_id").cast("string")).as("h"))
      .distinct()

  def hllRegisters(in: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hllHashes(in)
      .groupBy(col("stratum"), pmod(col("h"), lit(HllM)).as("idx"))
      .agg(hllRank.as("m"))

  /** A register's value m over its hashes `h`. */
  private def hllRank: org.apache.spark.sql.Column =
    max(expr(s"CASE WHEN h div $HllM = 0 THEN 53 ELSE 53 - length(bin(h div $HllM)) END"))

  /** Exact distinct-user audit leg per event type. */
  def hllExact(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    hllHashes(events(s, d).select(col("event_type").as("stratum"), col("user_id")))
      .groupBy(col("stratum").as("event_type"))
      .agg(count(lit(1)).as("n_exact"))

  /** The estimate/audit report from a (stratum, idx, m) register table
    * plus an (event_type, n_exact) audit leg. The live face builds the
    * same columns through the same [[hllSums]] and [[hllEstimates]], so
    * the two stay bit-identical. */
  def hllReport(regs: org.apache.spark.sql.DataFrame,
      ex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hllEstimates(ex.join(hllSums(regs), Seq("event_type")))

  /** Per event type: the scaled harmonic sum `s`, `n_regs` and `extra`. */
  private def hllSums(regs: org.apache.spark.sql.DataFrame,
      extra: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    regs.groupBy(col("stratum").as("event_type"))
      .agg((sum(expr("shiftleft(1L, cast(53 - m as int))"))
          + (lit(HllM.toLong) - count(lit(1))) * lit(1L << 53)).as("s"),
        count(lit(1)).as("n_regs") +: extra: _*)

  /** The report columns from (event_type, n_exact, n_regs, s) rows. */
  private def hllEstimates(in: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    in.select(col("event_type"), col("n_exact"), col("n_regs"),
        hllEstExpr("s").as("n_est"))
      .withColumn("n_est_lc", hllLcExpr)
      .withColumn("err_ppm",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(n_est - n_exact)) " +
          "div n_exact AS BIGINT)"))
      .withColumn("err_lc_ppm",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(n_est_lc - n_exact)) " +
          "div n_exact AS BIGINT)"))

  /** The α·m²·2⁵³ // S // 1e6 estimate over a BIGINT column `sCol`. */
  def hllEstExpr(sCol: String): org.apache.spark.sql.Column =
    expr(s"CAST((CAST($HllAlphaPpm AS DECIMAL(38,0)) * ${HllM * HllM} " +
      s"* 9007199254740992) div $sCol div 1000000 AS BIGINT)")

  /** Linear-counting regime switch (requires n_regs and n_est bound). */
  def hllLcExpr: org.apache.spark.sql.Column =
    expr(s"CASE WHEN n_regs < $HllM AND n_est <= ${5 * HllM / 2} " +
      s"THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE) " +
      s"/ ($HllM - n_regs)), 6)) AS BIGINT) ELSE n_est END")

  /** Shared oracle of the live and stored HLL audit faces. */
  private lazy val HllUsersSql: String =
    s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM events),
         |b AS (
         |  SELECT event_type, h % $HllM AS idx,
         |    max(CASE WHEN h // $HllM = 0 THEN 53
         |             ELSE 53 - length(bin(h // $HllM)) END) AS m
         |  FROM h GROUP BY 1, 2),
         |s AS (
         |  SELECT event_type,
         |    CAST(sum(1::BIGINT << (53 - m))
         |      + ($HllM - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n_regs
         |  FROM b GROUP BY 1),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY 1),
         |est AS (
         |  SELECT e.event_type, e.n_exact, s.n_regs,
         |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM * HllM} * 9007199254740992)
         |      // s.s // 1000000 AS BIGINT) AS n_est
         |  FROM ex e JOIN s ON s.event_type = e.event_type),
         |lc AS (
         |  SELECT event_type, n_exact, n_regs, n_est,
         |    CASE WHEN n_regs < $HllM AND n_est <= ${5 * HllM / 2}
         |         THEN CAST(floor($HllM * round(ln(CAST($HllM AS DOUBLE)
         |           / ($HllM - n_regs)), 6)) AS BIGINT)
         |         ELSE n_est END AS n_est_lc
         |  FROM est)
         |SELECT event_type, n_exact, n_regs, n_est, n_est_lc,
         |  CAST((CAST(1000000 AS HUGEINT) * abs(n_est - n_exact)) // n_exact AS BIGINT)
         |    AS err_ppm,
         |  CAST((CAST(1000000 AS HUGEINT) * abs(n_est_lc - n_exact)) // n_exact AS BIGINT)
         |    AS err_lc_ppm
         |FROM lc ORDER BY event_type""".stripMargin

  /** Oracle for `column_stats_profile` — same four column legs. */
  private lazy val ColumnStatsSql: String = {
    def leg(name: String, sv: String, minNum: String, maxNum: String,
        minStr: String, maxStr: String) =
      s"""SELECT '$name' AS col_name, b.n_rows, b.n_null, e.ndv_exact,
         |  CASE WHEN k.nk < $KmvK THEN e.ndv_exact
         |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // k.kth AS BIGINT)
         |  END AS ndv_est,
         |  CAST((CAST(1000000 AS HUGEINT) * abs(
         |    CASE WHEN k.nk < $KmvK THEN e.ndv_exact
         |         ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976) // k.kth AS BIGINT)
         |    END - e.ndv_exact)) // e.ndv_exact AS BIGINT) AS ndv_err_ppm,
         |  b.min_num, b.max_num, b.min_str, b.max_str
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(count(*) - count($sv) AS BIGINT) AS n_null,
         |    $minNum AS min_num, $maxNum AS max_num,
         |    $minStr AS min_str, $maxStr AS max_str
         |  FROM ev) b
         |CROSS JOIN (
         |  SELECT CAST(count(*) AS BIGINT) AS ndv_exact FROM (
         |    SELECT DISTINCT ('0x' || substr(md5($sv), 1, 15))::BIGINT AS h
         |    FROM ev WHERE $sv IS NOT NULL)) e
         |CROSS JOIN (
         |  SELECT max(h) AS kth, count(*) AS nk FROM (
         |    SELECT DISTINCT ('0x' || substr(md5($sv), 1, 15))::BIGINT AS h
         |    FROM ev WHERE $sv IS NOT NULL ORDER BY h LIMIT $KmvK)) k""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_type, epoch_ns(ts) AS ts_ns, user_id,
       |    CAST(floor(value * 1000000) AS BIGINT) AS vus
       |  FROM events)
       |${Seq(
          leg("event_type", "event_type", "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
            "min(event_type)", "max(event_type)"),
          leg("ts", "CAST(ts_ns AS VARCHAR)", "min(ts_ns)", "max(ts_ns)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
          leg("user_id", "CAST(user_id AS VARCHAR)", "min(user_id)", "max(user_id)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
          leg("value", "CAST(vus AS VARCHAR)", "min(vus)", "max(vus)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
        ).mkString("\nUNION ALL\n")}
       |ORDER BY col_name""".stripMargin
  }

  /** Serving face of the bin store (see defs entry). */
  private val QuantileServeSql: String =
    """WITH b AS (
      |  SELECT source, least(n_chars // 64, 255) AS bin, CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2),
      |c AS (
      |  SELECT source, bin, n,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total FROM b),
      |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
      |sel AS (
      |  SELECT c.source, p.pct, min(c.bin) AS qbin, max(c.total) AS total
      |  FROM c JOIN pcts p ON 100 * c.cum >= p.pct * c.total
      |  GROUP BY 1, 2)
      |SELECT source, pct, total, qbin, 64 * qbin + 63 AS est_len_hi
      |FROM sel ORDER BY source, pct""".stripMargin

  /** Oracle for the Misra–Gries audit report, shared verbatim by the
    * live and stored twins (a batch-built store must resolve
    * counter-for-counter to a fresh per-source summary). */
  private val HeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |  FROM documents WHERE source IS NOT NULL),
       |v AS (SELECT source, t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2),
       |lam AS (
       |  SELECT source, coalesce(max(CASE WHEN rk = $MgK + 1 THEN f END), 0) AS lam
       |  FROM (SELECT source, f, row_number() OVER (PARTITION BY source ORDER BY f DESC, t) AS rk
       |        FROM v)
       |  GROUP BY 1),
       |summ AS (
       |  SELECT v.source, v.t, v.f - l.lam AS c
       |  FROM v JOIN lam l ON l.source = v.source WHERE v.f - l.lam > 0),
       |merged AS (SELECT t, CAST(sum(c) AS BIGINT) AS c FROM summ GROUP BY 1),
       |lamm AS (
       |  SELECT coalesce(max(CASE WHEN rk = $MgK + 1 THEN c END), 0) AS lam
       |  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk FROM merged)),
       |fin AS (
       |  SELECT m.t, m.c - x.lam AS c_merged FROM merged m, lamm x WHERE m.c - x.lam > 0),
       |bound AS (
       |  SELECT CAST((SELECT sum(lam) FROM lam) + (SELECT lam FROM lamm) AS BIGINT) AS b),
       |ex AS (SELECT t, CAST(sum(f) AS BIGINT) AS n_exact FROM v GROUP BY 1)
       |SELECT f.t AS token, f.c_merged, e.n_exact,
       |  e.n_exact - f.c_merged AS slack, b.b AS bound,
       |  CAST(e.n_exact - f.c_merged <= b.b AS BIGINT) AS within_bound
       |FROM fin f JOIN ex e ON e.t = f.t, bound b
       |ORDER BY token""".stripMargin

  /** Oracle for the MG serving face — the same merge, without the
    * exact-audit leg (the Spark side reads the store and never the
    * corpus; replaying the summaries from text is the oracle's job). */
  private val MgServeSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |  FROM documents WHERE source IS NOT NULL),
       |v AS (SELECT source, t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2),
       |lam AS (
       |  SELECT source, coalesce(max(CASE WHEN rk = $MgK + 1 THEN f END), 0) AS lam
       |  FROM (SELECT source, f, row_number() OVER (PARTITION BY source ORDER BY f DESC, t) AS rk
       |        FROM v)
       |  GROUP BY 1),
       |summ AS (
       |  SELECT v.source, v.t, v.f - l.lam AS c
       |  FROM v JOIN lam l ON l.source = v.source WHERE v.f - l.lam > 0),
       |merged AS (SELECT t, CAST(sum(c) AS BIGINT) AS c FROM summ GROUP BY 1),
       |lamm AS (
       |  SELECT coalesce(max(CASE WHEN rk = $MgK + 1 THEN c END), 0) AS lam
       |  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk FROM merged)),
       |bound AS (
       |  SELECT CAST((SELECT sum(lam) FROM lam) + (SELECT lam FROM lamm) AS BIGINT) AS b)
       |SELECT m.t AS token, m.c - x.lam AS c_merged, b.b AS bound
       |FROM merged m, lamm x, bound b WHERE m.c - x.lam > 0
       |ORDER BY token""".stripMargin

  /** Per-(source, token) exact counts — the ONE corpus pass of every MG
    * build (vocabulary cardinality, Heaps-sublinear). Shared by the live
    * query, the batch store ([[SignatureStore.ensureHeavyHitters]]) and
    * every stream epoch
    * ([[graft.streaming.EventStream.maintainHeavyHitters]]). */
  def sourceTokenCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("source").isNotNull)
      .select(col("source"), explode(expr(TextQueries.toksExpr)).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("f"))

  /** Per-source Misra–Gries summaries from exact counts, in the
    * order-independent offline form: λ_s = the (k+1)-th largest count
    * (0 if the vocabulary is smaller), counters = max(0, f − λ_s) — at
    * most k positive per source by construction. Returns (counters
    * (source, t, c), lambdas (source, lam)); lambdas keeps EVERY
    * source, including those whose counters all pruned to zero — the
    * error-bound budget must count their λ too. */
  def mgSummaries(v: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val rkW = Window.partitionBy(col("source")).orderBy(col("f").desc, col("t"))
    val lam = v.withColumn("rk", row_number().over(rkW))
      .groupBy("source")
      .agg(coalesce(max(when(col("rk") === MgK + 1, col("f"))), lit(0L)).as("lam"))
    val counters = v.join(broadcast(lam), Seq("source"))
      .select(col("source"), col("t"), (col("f") - col("lam")).as("c"))
      .filter(col("c") > 0)
    (counters, lam)
  }

  /** The merge+audit stage shared by the live and stored MG twins:
    * `counters`/`lambdas` are per-source summaries (fresh build or
    * store read), `v` the per-(source, token) exact counts feeding the
    * audit. Merge = counters SUM per token, re-prune with the merged
    * λ_m; the emitted `within_bound` checks the mergeable-summaries
    * theorem (underestimate ≤ Σλ_s + λ_m, never an overestimate). */
  private[graft] def mgReport(counters: org.apache.spark.sql.DataFrame,
      lambdas: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val merged = counters.groupBy("t").agg(sum("c").as("c"))
    val lamm = merged
      .withColumn("rk", row_number().over(Window.orderBy(col("c").desc, col("t"))))
      .agg(coalesce(max(when(col("rk") === MgK + 1, col("c"))), lit(0L)).as("lam"))
    val fin = merged.crossJoin(broadcast(lamm))
      .select(col("t"), (col("c") - col("lam")).as("c_merged"))
      .filter(col("c_merged") > 0)
    val bound = lambdas.agg(sum("lam").as("slam")).crossJoin(lamm)
      .select((col("slam") + col("lam")).as("bound"))
    val ex = v.groupBy("t").agg(sum("f").as("n_exact"))
    fin.join(ex, Seq("t")).crossJoin(broadcast(bound))
      .select(col("t").as("token"), col("c_merged"), col("n_exact"),
        (col("n_exact") - col("c_merged")).as("slack"), col("bound"),
        (col("n_exact") - col("c_merged") <= col("bound")).cast("long").as("within_bound"))
      .orderBy("token")
  }

  /** 4096-bit two-probe Bloom filter as ≤128 packed words (w, bits) from
    * a 60-bit hash column `h` — the build kernel shared by the live
    * decontamination gate, the batch store
    * ([[SignatureStore.ensureBloom]]) and every stream epoch
    * ([[graft.streaming.EventStream.maintainBloom]]). 32 bits per BIGINT
    * word because DuckDB range-checks signed shifts at bit 63 while
    * Spark wraps. Words merge by `bit_or` — OR is idempotent as well as
    * commutative, so re-ingested members change nothing (the only store
    * resolve with that property; count-min, by contrast, adds again). */
  def bloomWords(hashes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hashes.select(expr("(h % 4096) div 32").as("w"),
        expr("shiftleft(1L, CAST(h % 32 AS INT))").as("b"))
      .unionByName(hashes.select(expr("((h div 4096) % 4096) div 32").as("w"),
        expr("shiftleft(1L, CAST((h div 4096) % 32 AS INT))").as("b")))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))

  /** Bloom words of a document set's 12-gram shingle hashes — one text
    * pass, then constant-size output. */
  def bloomOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.ShingleHashes.shingle_hashes
    bloomWords(docs.select(explode(shingle_hashes(col("text"), lit(12))).as("h")))
  }

  /** The eval split the decontamination family gates against (the
    * benchmark-membership fixture: every 97th doc below 10000). */
  private[graft] def evalSplit(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)

  /** Per-source 256-bin length histogram (source, bin, n) — the build
    * kernel shared by the store build
    * ([[SignatureStore.ensureQuantileBins]]) and every stream epoch
    * ([[graft.streaming.EventStream.maintainQuantileBins]]). Bins ADD
    * across sources and epochs (distributive aggregate), so any rollup
    * — global, per-source, per-epoch-range — is a sum of stored rows. */
  def sourceLengthBins(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.groupBy(col("source"), least(expr("n_chars div 64"), lit(255L)).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Percentile selection + exact audit shared by the live and stored
    * binned-quantile queries: `bins` is the global (bin, n) histogram
    * (fresh fold or store read), `docs` feeds the exact audit rank. */
  private[graft] def binnedQuantileReport(bins: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    val c = bins
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val pcts = Seq(50L, 90L, 99L).toDF("pct")
    val sel = c.join(broadcast(pcts),
        lit(100) * col("cum") >= col("pct") * col("total"))
      .groupBy("pct")
      .agg(min(col("bin")).as("qbin"), max(col("total")).as("total"))
    val rk = docs
      .select(col("n_chars"),
        row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))).as("r"))
    val ex = rk.join(broadcast(sel.select(col("pct"), col("total"))),
        col("r") === expr("(pct * total + 99) div 100"))
      .groupBy("pct").agg(max(col("n_chars")).as("exact_len"))
    sel.join(ex, Seq("pct"))
      .select(col("pct"), col("total"), col("qbin"),
        (lit(64) * col("qbin") + 63).as("est_len_hi"),
        col("exact_len"),
        (lit(64) * col("qbin") + 63 - col("exact_len")).as("err_chars"))
      .orderBy("pct")
  }
}
