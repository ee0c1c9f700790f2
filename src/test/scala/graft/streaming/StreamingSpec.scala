package graft.streaming

import java.sql.Timestamp

import graft.SparkFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked windowed counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.windowedCounts(events, "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "error", 1.0),
        (ts("2024-01-01 00:20:00"), "error", 2.0),
        (ts("2024-01-01 00:30:00"), "purchase", 5.0),
        (ts("2024-01-01 01:10:00"), "error", 3.0))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("window_start", "event_type", "n", "total_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      assert(rows.contains(("2024-01-01 00:00:00.0", "error", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 00:00:00.0", "purchase", 1L, 5.0)))
      assert(rows.contains(("2024-01-01 01:00:00.0", "error", 1L, 3.0)))
    } finally query.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val eIn = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.intervalJoinPurchaseErrors(
      pIn.toDF().toDF("user_id", "ts", "event_id"),
      eIn.toDF().toDF("user_id", "ts", "event_id"))
    val query = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: errors at 00:10 and 05:50 before a purchase at 06:00 —
      // only the 05:50 error is within 6 h of... both are (00:10 is
      // 5h50m before). An error at 07:00 is AFTER the purchase (no
      // match); user 2's error must not leak to user 1.
      eIn.addData(
        (1L, ts("2024-01-01 00:10:00"), 100L),
        (1L, ts("2024-01-01 05:50:00"), 101L),
        (1L, ts("2024-01-01 07:00:00"), 102L),
        (2L, ts("2024-01-01 05:55:00"), 200L))
      pIn.addData((1L, ts("2024-01-01 06:00:00"), 500L))
      query.processAllAvailable()
      val got = spark.table("sj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(
        (500L, 100L, 21000000000L), // 5 h 50 m in µs
        (500L, 101L, 600000000L))) // 10 min in µs
      // the batch twin on the same rows must agree row-for-row
      import spark.implicits._
      val err = Seq((1L, ts("2024-01-01 00:10:00"), 100L),
        (1L, ts("2024-01-01 05:50:00"), 101L),
        (1L, ts("2024-01-01 07:00:00"), 102L),
        (2L, ts("2024-01-01 05:55:00"), 200L))
        .toDF("user_id", "tsv", "event_id")
        .select(col("user_id"), org.apache.spark.sql.functions.unix_micros(col("tsv")).as("us"), col("event_id"))
      val pur = Seq((1L, ts("2024-01-01 06:00:00"), 500L))
        .toDF("user_id", "tsv", "event_id")
        .select(col("user_id"), org.apache.spark.sql.functions.unix_micros(col("tsv")).as("us"), col("event_id"))
      val batch = graft.operators.TimeSeriesJoins
        .rangeJoin(pur, err, "user_id", "us", 21600000000L)
        .select(col("event_id"), col("right_event_id"),
          (col("us") - col("right_us")).as("gap_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == got, "stream-stream interval join diverged from the batch range join")
    } finally query.stop()
  }

  test("stream-stream LEFT interval join: unmatched purchases emit null-padded after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val eIn = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.intervalLeftJoinPurchaseErrors(
      pIn.toDF().toDF("user_id", "ts", "event_id"),
      eIn.toDF().toDF("user_id", "ts", "event_id"))
    val query = joined.writeStream.format("memory").queryName("sjl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def rows() = spark.table("sjl_out").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      // user 1 purchase has a preceding error (inner match); user 3
      // purchase has none — its outer row must NOT emit yet, because a
      // matching error could still arrive within the watermark
      eIn.addData((1L, ts("2024-01-01 05:50:00"), 101L))
      pIn.addData((1L, ts("2024-01-01 06:00:00"), 500L),
        (3L, ts("2024-01-01 06:00:00"), 700L))
      query.processAllAvailable()
      assert(rows() == Set((500L, Some(101L))),
        "outer row leaked before the watermark closed its join window")
      // advance BOTH watermarks far past the purchase's window end; the
      // held purchase can no longer match anything and must emit
      // null-padded exactly once (two ticks: watermark update commits on
      // the batch after the data that moved it)
      eIn.addData((9L, ts("2024-01-02 00:00:00"), 900L))
      pIn.addData((9L, ts("2024-01-02 00:00:00"), 901L))
      query.processAllAvailable()
      eIn.addData((9L, ts("2024-01-02 01:00:00"), 902L))
      pIn.addData((9L, ts("2024-01-02 01:00:00"), 903L))
      query.processAllAvailable()
      val got = rows()
      assert(got.contains((700L, None)),
        s"unmatched purchase never emitted its null-padded row: $got")
      assert(got.contains((500L, Some(101L))))
      // and the matched purchase did not ALSO emit a null twin
      assert(!got.contains((500L, None)), s"matched purchase double-emitted: $got")
    } finally query.stop()
  }

  test("file-source stream: windowed counts over a growing parquet directory") {
    // The production path (readStream over a directory) with the same
    // source-agnostic transform as the MemoryStream tests. Two file
    // drops simulate micro-batch arrival; results must match the batch
    // computation over the union.
    val dir = tmpDir("evstream")
    val batch1 = Seq(
      (ts("2024-01-01 00:10:00"), "error", 1.0),
      (ts("2024-01-01 00:20:00"), "error", 2.0))
    val batch2 = Seq(
      (ts("2024-01-01 00:30:00"), "purchase", 5.0),
      (ts("2024-01-01 01:10:00"), "error", 3.0))
    batch1.toDF("ts", "event_type", "value").coalesce(1)
      .write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val query = EventStream.windowedCounts(stream, "1 hour")
      .writeStream.format("memory").queryName("file_win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      query.processAllAvailable()
      batch2.toDF("ts", "event_type", "value").coalesce(1)
        .write.mode("append").parquet(dir)
      query.processAllAvailable()
      val rows = spark.table("file_win_counts")
        .groupBy("window_start", "event_type") // Update mode re-emits; keep latest
        .agg(max("n").as("n"), max("total_value").as("total_value"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", "error", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 00:00:00.0", "purchase", 1L, 5.0)))
      assert(rows.contains(("2024-01-01 01:00:00.0", "error", 1L, 3.0)))
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization closes on gap, keeps open session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.UserEvent]
    val query = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStream.UserEvent(1, ts("2024-01-01 00:00:00"), 1.0),
        EventStream.UserEvent(1, ts("2024-01-01 00:05:00"), 1.0),
        EventStream.UserEvent(1, ts("2024-01-01 01:00:00"), 1.0)) // >10min gap → closes first
      query.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "session_start", "n_events", "closed")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getBoolean(3)))
      assert(rows.contains((1L, "2024-01-01 00:00:00.0", 2L, true)))  // closed session
      assert(rows.contains((1L, "2024-01-01 01:00:00.0", 1L, false))) // open session
    } finally query.stop()
  }

  test("streaming exact dedup drops in-watermark duplicates, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val query = EventStream.dedupExactStream(docs, "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "the quick brown fox", ts("2024-01-01 00:00:00")),
        (2L, "  THE   quick brown FOX ", ts("2024-01-01 00:05:00")), // same normalized fp
        (3L, "something else entirely", ts("2024-01-01 00:06:00")))
      query.processAllAvailable()
      input.addData((4L, "the quick brown fox", ts("2024-01-01 00:10:00"))) // dup across batches
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L))
    } finally query.stop()
  }

  test("incremental signature maintenance appends batch-identical minhash bands") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("sigmaint")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = EventStream.maintainSignatures(docs, base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((1L, "alpha beta gamma delta epsilon"), (2L, "zeta eta theta iota kappa"))
      query.processAllAvailable()
      input.addData((3L, "lambda mu nu xi omicron pi rho"))
      query.processAllAvailable()

      val stored = graft.operators.SignatureStore.readMinhashBands(spark, base)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // identical to one batch pass over the union — continuous ingest
      // never diverges from the batch signature builder
      val all = Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "zeta eta theta iota kappa"), (3L, "lambda mu nu xi omicron pi rho"))
        .toDF("doc_id", "text")
      val batch = graft.operators.TextQueries.minhashBandsOf(all)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(stored == batch && stored.nonEmpty)
    } finally query.stop()
  }

  test("oph store: stream epochs append batch-identical bands, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("ophmaint")
    // batch-built subtree first
    val batchDocs = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.ophDir(base) -> graft.operators.TextQueries.ophBandsOf(batchDocs))
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainOph(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "zeta eta theta iota kappa"))
      query.processAllAvailable()
      // re-ingest doc 1 (identical text): full-row distinct absorbs it
      input.addData((1L, "alpha beta gamma delta epsilon"))
      query.processAllAvailable()
      val stored = graft.operators.SignatureStore.readOphBands(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val all = Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
      val batch = graft.operators.TextQueries.ophBandsOf(all)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stored == batch && stored.size == 8) // 2 docs × 4 bands
      // every doc has exactly 4 band rows (densification fills all slots)
      assert(stored.groupBy(_._1).forall(_._2.size == 4))
      // compaction: same rows from the batch subtree alone
      graft.operators.SignatureStore.compactOphBands(spark, base)
      val sealed1 = graft.operators.SignatureStore.readOphBands(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(sealed1 == batch)
      assert(!new java.io.File(
        graft.operators.SignatureStore.streamDir(graft.operators.SignatureStore.ophDir(base))
          .stripPrefix("file:")).exists())
    } finally query.stop()
  }

  test("streaming appends coexist with a batch-built signature store") {
    // Regression: the batch subtree is partitioned by band alone; writing
    // (batch_id, band) rows into the SAME directory broke partition
    // discovery ("Conflicting directory structures") for every later
    // reader. Streaming must land in its own subtree, with
    // readMinhashBands unioning both.
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("sigmix")
    val batchDocs = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.minhashDir(base) -> graft.operators.TextQueries.minhashBandsOf(batchDocs))

    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainSignatures(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "zeta eta theta iota kappa"))
      query.processAllAvailable()
      val stored = graft.operators.SignatureStore.readMinhashBands(spark, base)
      assert(stored.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
        == Set(1L, 2L))
    } finally query.stop()
  }

  test("incremental IVF assignment maintenance matches a batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("ivfmaint")
    // fixed 2-centroid quantizer: unit vectors along dims 0 and 1
    val dim = graft.operators.VectorQueries.Dim
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    val centroids = Seq((0L, unit(0)), (1L, unit(1))).toDF("cent_id", "cv")

    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStream.maintainIvfAssignments(
      input.toDF().toDF("vec_id", "embedding"), base, centroids)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((10L, unit(0)), (11L, unit(1)))
      query.processAllAvailable()
      input.addData((12L, unit(1)))
      query.processAllAvailable()

      val stored = graft.operators.SignatureStore.readIvfAssignments(spark, base)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stored == Map(10L -> 0L, 11L -> 1L, 12L -> 1L))
    } finally query.stop()
  }

  test("streaming residual-PQ maintenance matches a batch encode against frozen quantizers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{PqQueries, SignatureStore, VectorQueries}
    val base = tmpDir("rpqmaint")
    // planted corpus; both quantizers (centroids + residual codebook)
    // freeze up front — stream epochs assign, re-center, and encode new
    // vectors; the unioned read must equal one batch encode of all
    val rng = new graft.TestRng(0x4E51DL)
    val dim = VectorQueries.Dim
    val all = (0L until 40L).map(i => (i, Seq.fill(dim)(rng.gaussian().toFloat)))
    val e = all.toDF("vec_id", "embedding")
    val centroids = e.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val csub = PqQueries.centroidSub(centroids)
    def rsubOf(df: org.apache.spark.sql.DataFrame) =
      PqQueries.residualSub(PqQueries.scaledSub(df),
        VectorQueries.ivfAssign(df, centroids), csub)
    val cb = PqQueries.trainCodebookOn(e, rsubOf(e))
    val allCodes = PqQueries.packCodes(PqQueries.pqAssign(rsubOf(e), cb))
    val batchHalf = e.filter(col("vec_id") < 20)
    SignatureStore.publish(spark,
      SignatureStore.rpqCodesDir(base) -> PqQueries.packCodes(PqQueries.pqAssign(rsubOf(batchHalf), cb)))
    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStream.maintainResidualPqCodes(
      input.toDF().toDF("vec_id", "embedding"), base, cb, centroids)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData(all.filter(_._1 >= 20).take(10): _*)
      query.processAllAvailable()
      input.addData(all.filter(_._1 >= 30): _*)
      query.processAllAvailable()
      val stored = SignatureStore.readResidualPqCodes(spark, base)
      val want = PqQueries.unpackCodes(allCodes)
      assert(stored.exceptAll(want).count() == 0 && want.exceptAll(stored).count() == 0,
        "stream+batch residual-PQ store diverged from a full batch encode")
    } finally query.stop()
    // seal and re-check
    SignatureStore.compactResidualPqCodes(spark, base)
    val compacted = SignatureStore.readResidualPqCodes(spark, base)
    val want = PqQueries.unpackCodes(allCodes)
    assert(compacted.exceptAll(want).count() == 0 && want.exceptAll(compacted).count() == 0,
      "compaction changed the served residual codes")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.rpqCodesDir(base)))))
  }

  test("streaming PQ-code maintenance matches a batch encode against the same codebook") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("pqmaint")
    // planted corpus trains the codebook; the batch store encodes half of
    // it, the stream encodes the other half — the unioned read must equal
    // one batch encode of everything (same frozen codebook both paths)
    val rng = new graft.TestRng(0xBADC0DEL)
    val dim = graft.operators.VectorQueries.Dim
    val all = (0L until 40L).map(i => (i, Seq.fill(dim)(rng.gaussian().toFloat)))
    val e = all.toDF("vec_id", "embedding")
    val cb = graft.operators.PqQueries.trainCodebook(e)
    val allCodes = graft.operators.PqQueries.packCodes(
      graft.operators.PqQueries.pqAssign(graft.operators.PqQueries.scaledSub(e), cb))

    val batchHalf = e.filter(col("vec_id") < 20)
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.pqCodesDir(base) -> graft.operators.PqQueries.packCodes(
        graft.operators.PqQueries.pqAssign(
          graft.operators.PqQueries.scaledSub(batchHalf), cb)))

    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStream.maintainPqCodes(
      input.toDF().toDF("vec_id", "embedding"), base, cb)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData(all.filter(_._1 >= 20).take(10): _*)
      query.processAllAvailable()
      input.addData(all.filter(_._1 >= 30): _*)
      query.processAllAvailable()

      val stored = graft.operators.SignatureStore.readPqCodes(spark, base)
      val want = graft.operators.PqQueries.unpackCodes(allCodes)
      assert(stored.exceptAll(want).count() == 0 && want.exceptAll(stored).count() == 0,
        "stream+batch PQ store diverged from a full batch encode")
    } finally query.stop()
  }

  test("a purely stream-built postings store reads without a batch subtree") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("bm25streamonly")
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPostings(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((7L, "omega psi omega"))
      query.processAllAvailable()
      val (post, lens) = graft.operators.SignatureStore.readBm25(spark, base)
      assert(post.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        == Set((7L, "omega", 2L), (7L, "psi", 1L)))
      assert(lens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((7L, 3L)))
    } finally query.stop()
  }

  test("incremental BM25 postings maintenance matches a batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("bm25maint")
    val batchDocs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.bm25PostingsDir(base) -> graft.operators.SearchQueries.postingsOf(batchDocs),
      graft.operators.SignatureStore.bm25DoclensDir(base) -> graft.operators.SearchQueries.doclensOf(batchDocs))

    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPostings(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "beta gamma beta gamma"))
      query.processAllAvailable()
      input.addData((3L, "delta"))
      query.processAllAvailable()

      val (post, lens) = graft.operators.SignatureStore.readBm25(spark, base)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val all = Seq((1L, "alpha beta alpha"), (2L, "beta gamma beta gamma"),
        (3L, "delta")).toDF("doc_id", "text")
      assert(rows(post) == rows(graft.operators.SearchQueries.postingsOf(all)))
      assert(lens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == Set((1L, 3L), (2L, 4L), (3L, 1L)))
    } finally query.stop()
  }

  test("daily-KMV store: stream epochs merge by union-closure, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{SignatureStore, SketchQueries}
    val base = tmpDir("dailykmv")
    val dayUs = 86400000000L
    def ev(user: Long, day: Long) = (user, day * dayUs * 1000L + user)
    // batch subtree: day 0 users 1-80, day 1 users 1-10
    val batchEvents = ((1L to 80L).map(ev(_, 0L)) ++ (1L to 10L).map(ev(_, 1L)))
      .toDF("user_id", "ts_ns")
    SignatureStore.publish(spark, SignatureStore.dailyKmvDir(base) -> SketchQueries.dailyUserSketch(batchEvents))
    // stream: day 0 users 60-150 (overlapping 60-80 — duplicates across
    // batch and stream), day 1 users 11-20
    val input = MemoryStream[(Long, Long)]
    val query = EventStream.maintainDailyKmv(
      input.toDF().toDF("user_id", "ts_ns"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((60L to 150L).map(ev(_, 0L)): _*)
      query.processAllAvailable()
      input.addData((11L to 20L).map(ev(_, 1L)): _*)
      query.processAllAvailable()
    } finally query.stop()
    // union-closure: the store read must equal a from-scratch sketch of
    // ALL events ever seen
    val allEvents = ((1L to 80L).map(ev(_, 0L)) ++ (60L to 150L).map(ev(_, 0L)) ++
      (1L to 20L).map(ev(_, 1L))).toDF("user_id", "ts_ns")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows(SketchQueries.dailyUserSketch(allEvents))
    assert(rows(SignatureStore.readDailyKmv(spark, base)) == want)
    // day 1 has < k distinct users: its sketch IS the 20-user set
    assert(want.count(_._1 == 1L) == 20)
    SignatureStore.compactDailyKmv(spark, base)
    assert(rows(SignatureStore.readDailyKmv(spark, base)) == want,
      "compaction must not change the served sketch")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.dailyKmvDir(base)))))
  }

  test("count-min store: stream epochs ADD cell-wise, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SignatureStore, SketchQueries}
    val base = tmpDir("countmin")
    // batch subtree from two docs
    val batchDocs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    SignatureStore.publish(spark,
      SignatureStore.countMinDir(base) -> SketchQueries.countMinCells(SketchQueries.tokenVocab(batchDocs)))
    // stream: two epochs, one sharing tokens with the batch subtree
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainCountMin(
      input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((3L, "alpha delta alpha delta"))
      query.processAllAvailable()
      input.addData((4L, "beta beta beta"))
      query.processAllAvailable()
    } finally query.stop()
    // additivity: the store read must equal a from-scratch sketch over
    // ALL token occurrences ever appended (cells are sums — the law
    // count_min_merge_sources proves per-source)
    val allDocs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"),
      (3L, "alpha delta alpha delta"), (4L, "beta beta beta"))
      .toDF("doc_id", "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = cells(SketchQueries.countMinCells(SketchQueries.tokenVocab(allDocs)))
    assert(cells(SignatureStore.readCountMin(spark, base)) == want)
    // the alpha-carrying cells saw both subtrees: every salt's alpha
    // slot must hold 2 (batch) + 2 (epoch 1) + beta/gamma/delta shares
    SignatureStore.compactCountMin(spark, base)
    assert(cells(SignatureStore.readCountMin(spark, base)) == want,
      "compaction must not change the served cells")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.countMinDir(base)))))
    // the sealed store keeps taking appends and cells keep adding
    val input2 = MemoryStream[(Long, String)]
    val query2 = EventStream.maintainCountMin(
      input2.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((5L, "gamma"))
      query2.processAllAvailable()
    } finally query2.stop()
    val withGamma = allDocs.union(Seq((5L, "gamma")).toDF("doc_id", "text"))
    assert(cells(SignatureStore.readCountMin(spark, base))
      == cells(SketchQueries.countMinCells(SketchQueries.tokenVocab(withGamma))))
  }

  test("mg store: epoch merges stay within the theorem bound, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SignatureStore, SketchQueries}
    val base = tmpDir("mgstore")
    // vocab > k (=8) per source so pruning is real: token i repeats i times
    def doc(n: Int, shift: Int = 0) =
      (1 to n).flatMap(i => Seq.fill(i)(s"tok${i + shift}")).mkString(" ")
    val batchDocs = Seq((1L, "web", doc(12)))
      .toDF("doc_id", "source", "text")
    val (bc, bl) = SketchQueries.mgSummaries(SketchQueries.sourceTokenCounts(batchDocs))
    SignatureStore.publish(spark, SignatureStore.mgLambdasDir(base) -> bl, SignatureStore.mgCountersDir(base) -> bc)
    // stream: epoch 1 re-weights web's vocabulary (overlapping tokens —
    // counters must SUM then re-prune), epoch 2 opens a new source
    val input = MemoryStream[(Long, String, String)]
    val query = EventStream.maintainHeavyHitters(
      input.toDF().toDF("doc_id", "source", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "web", doc(14, shift = 4)))
      query.processAllAvailable()
      input.addData((3L, "book", doc(10)))
      query.processAllAvailable()
    } finally query.stop()
    val allDocs = Seq((1L, "web", doc(12)), (2L, "web", doc(14, shift = 4)),
      (3L, "book", doc(10))).toDF("doc_id", "source", "text")
    def counterMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def lamMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (counters, lambdas) = SignatureStore.readHeavyHitters(spark, base)
    val c = counterMap(counters)
    val lam = lamMap(lambdas)
    val exact = counterMap(SketchQueries.sourceTokenCounts(allDocs)
      .select("source", "t", "f"))
    // ≤ k positive counters per source survive the resolve
    assert(c.keys.groupBy(_._1).values.forall(_.size <= SketchQueries.MgK))
    // the mergeable-summaries theorem, per counter: never an
    // overestimate, and the underestimate is capped by the λ budget
    c.foreach { case (k @ (src, _), v) =>
      assert(v <= exact(k), s"$k overestimates")
      assert(exact(k) - v <= lam(src), s"$k outside the λ budget")
    }
    // ...and for every PRUNED token: its true count is ≤ the budget
    // (nothing heavy can hide — the guarantee serving relies on)
    exact.foreach { case (k @ (src, _), f) =>
      if (!c.contains(k)) assert(f <= lam(src), s"pruned $k exceeds λ")
    }
    // compaction: seal, then the resolved view must be unchanged
    SignatureStore.compactHeavyHitters(spark, base)
    val (c2, l2) = SignatureStore.readHeavyHitters(spark, base)
    assert(counterMap(c2) == c && lamMap(l2) == lam,
      "compaction must not change the resolved summaries")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.mgCountersDir(base)))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.mgLambdasDir(base)))))
    // the sealed store keeps taking appends within the (grown) budget
    val input2 = MemoryStream[(Long, String, String)]
    val query2 = EventStream.maintainHeavyHitters(
      input2.toDF().toDF("doc_id", "source", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((4L, "web", doc(9)))
      query2.processAllAvailable()
    } finally query2.stop()
    val (c3, l3) = SignatureStore.readHeavyHitters(spark, base)
    val exact3 = counterMap(SketchQueries.sourceTokenCounts(
      allDocs.union(Seq((4L, "web", doc(9))).toDF("doc_id", "source", "text")))
      .select("source", "t", "f"))
    val lam3 = lamMap(l3)
    counterMap(c3).foreach { case (k @ (src, _), v) =>
      assert(v <= exact3(k) && exact3(k) - v <= lam3(src))
    }
  }

  test("bloom store: stream epochs OR word-wise, replays are value-idempotent, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SignatureStore, SketchQueries}
    val base = tmpDir("bloom")
    // batch subtree from two eval docs (texts ≥ 12 chars → real shingles)
    val batchDocs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "the quick brown fox jumps over"))
      .toDF("doc_id", "text")
    SignatureStore.publish(spark, SignatureStore.bloomDir(base) -> SketchQueries.bloomOf(batchDocs))
    def words(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val afterBatch = words(SignatureStore.readBloom(spark, base))
    // stream: epoch 1 adds a new doc, epoch 2 RE-INGESTS batch doc 1 —
    // the OR resolve must absorb it by value (bits already set stay set)
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainBloom(
      input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((3L, "entirely novel benchmark content"))
      query.processAllAvailable()
      val afterNew = words(SignatureStore.readBloom(spark, base))
      // new doc turned bits ON, never off
      assert(afterBatch.forall { case (w, b) => (afterNew.getOrElse(w, 0L) & b) == b })
      input.addData((1L, "alpha beta gamma delta epsilon"))
      query.processAllAvailable()
      // value-idempotence: the replayed doc changed nothing
      assert(words(SignatureStore.readBloom(spark, base)) == afterNew)
    } finally query.stop()
    // the served filter equals a from-scratch build over all distinct docs
    val allDocs = batchDocs.union(
      Seq((3L, "entirely novel benchmark content")).toDF("doc_id", "text"))
    val want = words(SketchQueries.bloomOf(allDocs))
    assert(words(SignatureStore.readBloom(spark, base)) == want)
    SignatureStore.compactBloom(spark, base)
    assert(words(SignatureStore.readBloom(spark, base)) == want,
      "compaction must not change the served words")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.bloomDir(base)))))
    // the sealed store keeps taking appends and bits keep ORing
    val input2 = MemoryStream[(Long, String)]
    val query2 = EventStream.maintainBloom(
      input2.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((4L, "post seal appended document text"))
      query2.processAllAvailable()
    } finally query2.stop()
    val withPostSeal = allDocs.union(
      Seq((4L, "post seal appended document text")).toDF("doc_id", "text"))
    assert(words(SignatureStore.readBloom(spark, base))
      == words(SketchQueries.bloomOf(withPostSeal)))
  }

  test("hll store: stream epochs MAX registers, replays are value-idempotent, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SignatureStore, SketchQueries}
    def strat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_type").as("stratum"), col("user_id"))
    def regs(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] =
      df.collect().map(r => (r.getAs[String]("stratum"),
        r.getAs[Number]("idx").longValue) -> r.getAs[Number]("m").intValue).toMap
    val base = tmpDir("hll")
    val batchEv = Seq((1L, "click"), (2L, "click"), (3L, "view"), (4L, "view"))
      .toDF("user_id", "event_type")
    SignatureStore.publish(spark, SignatureStore.hllDir(base) -> SketchQueries.hllRegisters(strat(batchEv)))
    val afterBatch = regs(SignatureStore.readHll(spark, base))
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainHll(
      input.toDF().toDF("user_id", "event_type"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((5L, "click"))
      query.processAllAvailable()
      val afterNew = regs(SignatureStore.readHll(spark, base))
      // registers only ever climb
      assert(afterBatch.forall { case (k, m) => afterNew.getOrElse(k, 0) >= m })
      input.addData((1L, "click")) // replayed user
      query.processAllAvailable()
      // value-idempotence: the replayed user moved no register
      assert(regs(SignatureStore.readHll(spark, base)) == afterNew)
    } finally query.stop()
    // resolved registers equal a from-scratch build over all events
    val allEv = batchEv.union(Seq((5L, "click"), (1L, "click"))
      .toDF("user_id", "event_type"))
    val want = regs(SketchQueries.hllRegisters(strat(allEv)))
    assert(regs(SignatureStore.readHll(spark, base)) == want)
    SignatureStore.compactHll(spark, base)
    assert(regs(SignatureStore.readHll(spark, base)) == want,
      "compaction must not change the served registers")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.hllDir(base)))))
    // the sealed store keeps taking appends; MAX keeps resolving
    val input2 = MemoryStream[(Long, String)]
    val query2 = EventStream.maintainHll(
      input2.toDF().toDF("user_id", "event_type"), base)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((6L, "view"))
      query2.processAllAvailable()
    } finally query2.stop()
    val withPost = allEv.union(Seq((6L, "view")).toDF("user_id", "event_type"))
    assert(regs(SignatureStore.readHll(spark, base))
      == regs(SketchQueries.hllRegisters(strat(withPost))))
  }

  test("quantile-bin store: stream epochs ADD per-source bins, compaction seals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SignatureStore, SketchQueries}
    val base = tmpDir("qbins")
    val batchDocs = Seq((1L, "web", 10L), (2L, "web", 100L), (3L, "book", 200L))
      .toDF("doc_id", "source", "n_chars")
    SignatureStore.publish(spark, SignatureStore.quantileBinsDir(base) -> SketchQueries.sourceLengthBins(batchDocs))
    val input = MemoryStream[(Long, String, Long)]
    val query = EventStream.maintainQuantileBins(
      input.toDF().toDF("doc_id", "source", "n_chars"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((4L, "web", 70L)) // bin 1, same cell as doc 2 — must ADD to n=2
      query.processAllAvailable()
      input.addData((5L, "book", 20000L)) // caps at bin 255
      query.processAllAvailable()
    } finally query.stop()
    val allDocs = Seq((1L, "web", 10L), (2L, "web", 100L), (3L, "book", 200L),
      (4L, "web", 70L), (5L, "book", 20000L)).toDF("doc_id", "source", "n_chars")
    def bins(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = bins(SketchQueries.sourceLengthBins(allDocs))
    assert(bins(SignatureStore.readQuantileBins(spark, base)) == want)
    assert(want.contains(("book", 255L, 1L))) // the cap bin arrived via stream
    assert(want.contains(("web", 1L, 2L))) // batch doc 2 + stream doc 4 summed
    SignatureStore.compactQuantileBins(spark, base)
    assert(bins(SignatureStore.readQuantileBins(spark, base)) == want,
      "compaction must not change the served bins")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.quantileBinsDir(base)))))
  }

  test("bm25-store compaction seals postings AND doclens consistently") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{SearchQueries, SignatureStore}
    val base = tmpDir("bm25compact")
    val batchDocs = Seq((1L, "alpha beta alpha"), (2L, "gamma")).toDF("doc_id", "text")
    SignatureStore.publish(spark, SignatureStore.bm25PostingsDir(base) -> SearchQueries.postingsOf(batchDocs),
      SignatureStore.bm25DoclensDir(base) -> SearchQueries.doclensOf(batchDocs))
    // stream: doc 2 re-ingested with new text, doc 3 new
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPostings(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "delta epsilon"), (3L, "zeta"))
      query.processAllAvailable()
    } finally query.stop()
    def snap() = {
      val (p, l) = SignatureStore.readBm25(spark, base)
      (p.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet,
        l.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val before = snap()
    // a pre-seal ranked-results face is a snapshot of PRE-append corpus
    // stats — the seal must drop it so it can never be served stale
    // (advisor r10: nothing invalidated it, and the positive probe memo
    // would have pinned it forever)
    SignatureStore.publish(spark,
      SignatureStore.bm25TopkDir(base) -> Seq((1L, 1L, 1L, 100L)).toDF("qid", "doc_id", "rank", "score"))
    SignatureStore.compactBm25(spark, base)
    assert(snap() == before, "compaction must not change what readBm25 serves")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.bm25PostingsDir(base)))),
      "compaction must drop the stream subtree")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.bm25TopkDir(base))),
      "compaction must drop the stale ranked-results face")
    // doclens stayed consistent with postings: doc 2's superseding
    // length (2) survived the seal, its batch length (1) did not
    assert(before._2 == Set((1L, 3L), (2L, 2L), (3L, 1L)))
    // the sealed store keeps taking appends and supersession still holds
    val input2 = MemoryStream[(Long, String)]
    val query2 = EventStream.maintainPostings(input2.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((3L, "eta theta eta"))
      query2.processAllAvailable()
    } finally query2.stop()
    val (pAfter, lAfter) = snap()
    assert(pAfter.filter(_._1 == 3L) == Set((3L, "eta", 2L, 3L), (3L, "theta", 1L, 3L)))
    assert(lAfter == Set((1L, 3L), (2L, 2L), (3L, 3L)))
  }

  test("line-registry maintenance converges to the batch registry under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("linereg")
    def tokens(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    // batch build: docs 5 and 6 own lines X and Y
    val batchDocs = Seq((5L, tokens("x")), (6L, tokens("y"))).toDF("doc_id", "text")
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.linesDir(base) -> graft.operators.TextQueries.lineRegistryOf(
        graft.operators.TextQueries.linesOf(batchDocs)))

    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainLineRegistry(
      input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      // a new line arrives first…
      input.addData((10L, tokens("z")))
      query.processAllAvailable()
      // …then a LATE batch carrying line X under a LOWER doc_id: the
      // first-wins resolution must move ownership from doc 5 to doc 2
      input.addData((2L, tokens("x")))
      query.processAllAvailable()
      // …and a later re-occurrence of Y cannot steal ownership from doc 6
      input.addData((20L, tokens("y"))); query.processAllAvailable()

      val resolved = graft.operators.SignatureStore.readLineRegistry(spark, base)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val all = Seq((5L, tokens("x")), (6L, tokens("y")),
        (10L, tokens("z")), (2L, tokens("x")), (20L, tokens("y")))
        .toDF("doc_id", "text")
      val batchTruth = graft.operators.TextQueries.lineRegistryOf(
        graft.operators.TextQueries.linesOf(all))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(resolved == batchTruth)
      assert(resolved.map(t => (t._2, t._3)) == Set((2L, 0L), (6L, 0L), (10L, 0L)))
    } finally query.stop()
  }

  test("span-store maintenance: stream grams create cross-population spans, latest-wins re-ingest") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("spanstore")
    def tokens(p: String, n: Int = 12) = (1 to n).map(i => s"$p$i").mkString(" ")
    // batch build: two docs with NO duplication — batch spans are empty
    val batchDocs = Seq((1L, tokens("a")), (2L, tokens("b"))).toDF("doc_id", "text")
    val g = graft.operators.TextQueries.positionedGrams8(batchDocs)
    graft.operators.SignatureStore.publish(spark, graft.operators.SignatureStore.spanGramsDir(base) -> g,
      graft.operators.SignatureStore.spansDir(base) -> graft.operators.TextQueries.spansFromGrams(g))
    assert(graft.operators.SignatureStore.readSpans(spark, base).count() == 0)

    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainSpanGrams(
      input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      // a streamed doc repeats batch doc 1's text: duplication now exists
      // ACROSS the batch/stream populations — per-batch span computation
      // would miss it, the gram-table re-derivation must not
      input.addData((30L, tokens("a")))
      query.processAllAvailable()
      def spanSet() = graft.operators.SignatureStore.readSpans(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val crossPop = spanSet()
      assert(crossPop.map(_._1) == Set(1L, 30L),
        s"both the batch-era and the streamed copy must carry spans: $crossPop")
      // exactness: identical to a full batch recompute over the union
      val truth = graft.operators.TextQueries.substringSpans(
        Seq((1L, tokens("a")), (2L, tokens("b")), (30L, tokens("a")))
          .toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(crossPop == truth)

      // doc 30 re-ingested with fresh text: latest-wins drops its old
      // grams, so the duplication (and every span) disappears again
      input.addData((30L, tokens("c")))
      query.processAllAvailable()
      assert(spanSet().isEmpty,
        "a re-ingested doc's old grams must not keep phantom spans alive")

      // bring the duplication back, then SEAL: compaction must serve
      // identical spans from the batch subtree alone (two-table swap)
      input.addData((31L, tokens("a")))
      query.processAllAvailable()
      val before = spanSet()
      assert(before.nonEmpty)
      graft.operators.SignatureStore.compactSpans(spark, base)
      assert(spanSet() == before,
        "compaction must not change the served spans")
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        graft.operators.SignatureStore.streamDir(graft.operators.SignatureStore.spanGramsDir(base)))),
        "compaction must drop the stream subtree")
      // the sealed grams stay live: a post-seal re-ingest of doc 31
      // still supersedes its sealed grams and the spans vanish again
      input.addData((31L, tokens("d")))
      query.processAllAvailable()
      assert(spanSet().isEmpty,
        "post-seal supersession must still work against sealed grams")
    } finally query.stop()
  }

  test("transition-store maintenance ≡ batch triples under late adjacency-splitting arrival") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    val dir = tmpDir("transstore")
    val input = MemoryStream[EventStream.TransEvent]
    val query = EventStream.maintainTransitions(input.toDS(), dir)
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      def counts() = EventStream.readTransitionCounts(spark, dir)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))) -> r.getLong(3))
        .toMap
      def batchTruth(evs: Seq[EventStream.TransEvent]) = {
        import spark.implicits._
        val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
        evs.toDF()
          .select(col("event_type").as("e1"),
            lead(col("event_type"), 1).over(w).as("e2"),
            lead(col("event_type"), 2).over(w).as("e3"))
          .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))) -> r.getLong(3))
          .toMap
      }
      // user 1 arrives OUT OF ORDER across batches; user 2 in one batch
      val b1 = Seq(
        EventStream.TransEvent(1L, 10L, "view", 1000L),
        EventStream.TransEvent(1L, 30L, "purchase", 3000L),
        EventStream.TransEvent(2L, 40L, "signup", 500L))
      input.addData(b1: _*)
      query.processAllAvailable()
      assert(counts() == batchTruth(b1))

      // the LATE event lands BETWEEN view and purchase: the (view,
      // purchase) adjacency must split into (view, click) + (click,
      // purchase), and every stale triple row must stop counting
      val late = EventStream.TransEvent(1L, 20L, "click", 2000L)
      input.addData(late)
      query.processAllAvailable()
      assert(counts() == batchTruth(b1 :+ late))
      assert(!counts().contains(("view", Some("purchase"), None)),
        "the split pair must not survive in the rolled-up store")

      // an exact re-send must not double-count anything
      input.addData(late)
      query.processAllAvailable()
      assert(counts() == batchTruth(b1 :+ late))
    } finally query.stop()
  }

  test("phrase-bigram store: stream appends supersede batch rows latest-wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.SignatureStore
    val base = tmpDir("phrasestore")
    // batch subtree for docs 1 and 2
    SignatureStore.publish(spark, SignatureStore.phraseBigramsDir(base) ->
      Seq((1L, "alpha beta gamma"), (2L, "delta echo"))
        .toDF("doc_id", "text")
        .transform(graft.operators.SearchQueries.bigramsOf))
    // stream: doc 2 re-ingested with CHANGED text, doc 3 new; then doc 2
    // corrected again in a later epoch (latest must win)
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPhraseBigrams(
      input.toDS().toDF("doc_id", "text"),
      SignatureStore.streamDir(SignatureStore.phraseBigramsDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "zeta eta"), (3L, "theta iota kappa"))
      query.processAllAvailable()
      input.addData((2L, "mu nu"))
      query.processAllAvailable()
    } finally query.stop()
    val got = SignatureStore.readPhraseBigrams(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "alpha beta"), (1L, "beta gamma"),      // batch, untouched
      (2L, "mu nu"),                               // ONLY the newest version
      (3L, "theta iota"), (3L, "iota kappa")))
  }

  test("phrase-store compaction seals the resolved state and drops the stream subtree") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.SignatureStore
    val base = tmpDir("phrasecompact")
    SignatureStore.publish(spark, SignatureStore.phraseBigramsDir(base) ->
      Seq((1L, "alpha beta gamma"), (2L, "delta echo"))
        .toDF("doc_id", "text")
        .transform(graft.operators.SearchQueries.bigramsOf))
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPhraseBigrams(
      input.toDS().toDF("doc_id", "text"),
      SignatureStore.streamDir(SignatureStore.phraseBigramsDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, "zeta eta"), (3L, "theta iota"))
      query.processAllAvailable()
    } finally query.stop()
    val before = SignatureStore.readPhraseBigrams(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    SignatureStore.compactPhraseBigrams(spark, base)
    // identical rows, now from the batch subtree alone
    val after = SignatureStore.readPhraseBigrams(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      SignatureStore.streamDir(SignatureStore.phraseBigramsDir(base)))),
      "compaction must drop the stream subtree")
    // a compacted store keeps taking appends: a NEW stream version of a
    // sealed doc still supersedes its batch rows
    val input2 = MemoryStream[(Long, String)]
    val query2 = EventStream.maintainPhraseBigrams(
      input2.toDS().toDF("doc_id", "text"),
      SignatureStore.streamDir(SignatureStore.phraseBigramsDir(base)))
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((2L, "mu nu"))
      query2.processAllAvailable()
    } finally query2.stop()
    val resumed = SignatureStore.readPhraseBigrams(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(resumed == Set(
      (1L, "alpha beta"), (1L, "beta gamma"),
      (2L, "mu nu"),
      (3L, "theta iota")))
  }

  test("frame-diff store: a re-ingested video's newest pair set replaces the whole old one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Multimodal, SignatureStore}
    val base = tmpDir("framediffstore")
    def vid(seed: Char, frames: Int): String =
      (0 until frames * 32).map(i => (('a' + (i * (seed - 'a' + 1)) % 20).toChar)).mkString
    // batch subtree: docs 1 (3 frames) and 2 (4 frames → pair idx up to 2)
    SignatureStore.publish(spark, SignatureStore.frameDiffDir(base) ->
      Multimodal.frameDiffs(Seq((1L, vid('b', 3)), (2L, vid('c', 4))).toDF("doc_id", "text")))
    // stream: doc 2 re-ingested SHORTER (3 frames → pairs 0,1 only), doc 3 new
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainFrameDiffs(
      input.toDS().toDF("doc_id", "text"),
      SignatureStore.streamDir(SignatureStore.frameDiffDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((2L, vid('d', 3)), (3L, vid('e', 2)))
      query.processAllAvailable()
    } finally query.stop()
    val got = SignatureStore.readFrameDiffs(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 2's stale idx=2 pair from the longer old version must be GONE
    assert(got == Set((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L), (3L, 0L)),
      s"got $got")
    // and doc 2's kept pairs carry the NEW version's energies
    val newDiffs = Multimodal.frameDiffs(Seq((2L, vid('d', 3))).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val stored = SignatureStore.readFrameDiffs(spark, base)
      .filter(col("doc_id") === 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(stored == newDiffs)
  }

  test("frame-diff store: a doc ingested twice in ONE micro-batch resolves to a single version") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Multimodal, SignatureStore}
    val base = tmpDir("framediffdup")
    def vid(seed: Char, frames: Int): String =
      (0 until frames * 32).map(i => (('a' + (i * (seed - 'a' + 1)) % 20).toChar)).mkString
    val vA = vid('b', 4) // 3 pairs
    val vB = vid('c', 3) // 2 pairs
    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainFrameDiffs(
      input.toDS().toDF("doc_id", "text"),
      SignatureStore.streamDir(SignatureStore.frameDiffDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      // both versions of doc 7 in the SAME batch: batch_id can't
      // discriminate them, so the writer must resolve before the kernel
      input.addData((7L, vA), (7L, vB))
      query.processAllAvailable()
    } finally query.stop()
    val got = SignatureStore.readFrameDiffs(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def pairsOf(text: String) =
      Multimodal.frameDiffs(Seq((7L, text)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exactly ONE version's complete pair set survives — never a blend
    assert(got == pairsOf(vA) || got == pairsOf(vB),
      s"mixed-version rows survived same-batch re-ingestion: $got")
  }

  test("IVF-assignment store compaction seals latest-wins and keeps taking appends") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{SignatureStore, VectorQueries}
    val base = tmpDir("ivfcompact")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == seed % 8) 1f else 0f)
    val centroids = Seq(0L, 1L).map(id => (id, vec(id.toInt)))
      .toDF("cent_id", "cv")
    // batch subtree: vectors 10, 11 assigned by the real assigner
    SignatureStore.publish(spark, SignatureStore.ivfDir(base) -> VectorQueries.ivfAssign(
      Seq((10L, vec(0)), (11L, vec(1))).toDF("vec_id", "embedding"), centroids))
    // stream: vector 11 re-sent pointing at the OTHER centroid, 12 new
    val input = MemoryStream[(Long, Int)]
    val query = EventStream.maintainIvfAssignments(
      input.toDS().toDF("vec_id", "seed")
        .select(col("vec_id"), udf((s: Int) => vec(s)).apply(col("seed")).as("embedding")),
      SignatureStore.streamDir(SignatureStore.ivfDir(base)), centroids)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((11L, 0), (12L, 1))
      query.processAllAvailable()
    } finally query.stop()
    val before = SignatureStore.readIvfAssignments(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(10L -> 0L, 11L -> 0L, 12L -> 1L),
      s"stream row must supersede 11's batch assignment: $before")
    SignatureStore.compactIvfAssignments(spark, base)
    val after = SignatureStore.readIvfAssignments(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(SignatureStore.streamDir(SignatureStore.ivfDir(base)))),
      "compaction must drop the stream subtree")
    // a compacted store keeps taking appends
    val input2 = MemoryStream[(Long, Int)]
    val query2 = EventStream.maintainIvfAssignments(
      input2.toDS().toDF("vec_id", "seed")
        .select(col("vec_id"), udf((s: Int) => vec(s)).apply(col("seed")).as("embedding")),
      SignatureStore.streamDir(SignatureStore.ivfDir(base)), centroids)
      .option("checkpointLocation", s"$base/_ckpt2").start()
    try {
      input2.addData((10L, 1))
      query2.processAllAvailable()
    } finally query2.stop()
    val resumed = SignatureStore.readIvfAssignments(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == Map(10L -> 1L, 11L -> 0L, 12L -> 1L))
  }

  test("image-phash store: a re-ingested image's newest fingerprint wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Multimodal, SignatureStore}
    val base = tmpDir("phashstore")
    // batch subtree: real decode+hash of two synthesized images
    SignatureStore.publish(spark, SignatureStore.imagePhashDir(base) ->
      Multimodal.imagePhash(Multimodal.pngAssets(Seq(10L, 11L).toDF("doc_id"))))
    val batchHash10 = SignatureStore.readImagePhash(spark, base)
      .filter(col("doc_id") === 10L).collect().head.getLong(1)
    // stream: doc 10 re-ingested with a DIFFERENT picture (payload of id
    // 999), doc 12 new — both through the real maintenance writer
    val input = MemoryStream[Long]
    val assets = input.toDS().toDF("img_src").select(
      when(col("img_src") === 999L, lit(10L)).otherwise(col("img_src")).as("doc_id"),
      udf((id: Long) => Multimodal.pngPayload(id)).apply(col("img_src")).as("payload"))
    val query = EventStream.maintainImagePhash(
      assets, SignatureStore.streamDir(SignatureStore.imagePhashDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData(999L, 12L)
      query.processAllAvailable()
    } finally query.stop()
    val got = SignatureStore.readImagePhash(spark, base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    // doc 10 now carries the fingerprint of the NEW picture, not the old
    val want999 = Multimodal.imagePhash(
      Multimodal.pngAssets(Seq(999L).toDF("doc_id"))).collect().head.getLong(1)
    assert(got(10L) == want999 && got(10L) != batchHash10)
  }

  test("transition store read unions the batch build with stream appends") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.SignatureStore
    val base = tmpDir("transunion")
    // batch subtree: pre-aggregated triples, as ensureEventTransitions writes
    SignatureStore.publish(spark, SignatureStore.eventTransitionsDir(base) ->
      Seq(("view", Some("click"), None: Option[String], 3L),
        ("view", None: Option[String], None: Option[String], 1L))
        .toDF("e1", "e2", "e3", "n"))
    // stream subtree: per-user emissions via the real maintenance writer,
    // including a superseded older emission for user 7
    val input = MemoryStream[EventStream.TransEvent]
    val query = EventStream.maintainTransitions(
      input.toDS(), SignatureStore.streamDir(SignatureStore.eventTransitionsDir(base)))
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData(EventStream.TransEvent(7L, 1L, "view", 100L))
      query.processAllAvailable()
      input.addData(EventStream.TransEvent(7L, 2L, "click", 200L))
      query.processAllAvailable()
    } finally query.stop()
    val got = SignatureStore.readEventTransitions(spark, base)
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))) -> r.getLong(3))
      .toMap
    // user 7's current history is view->click: (view, click, None) joins the
    // batch count 3 -> 4; the stale single-event (view, None, None) emission
    // must NOT survive into the union (latest-wins before summing)
    assert(got(("view", Some("click"), None)) == 4L)
    assert(got(("view", None, None)) == 1L, "only the batch tail row remains")
    assert(got(("click", None, None)) == 1L)
    // batch-only and stream-only reads also serve
    assert(SignatureStore.readEventTransitions(
      spark, base).columns.toSeq == Seq("e1", "e2", "e3", "n"))
  }

  test("sessionize absorbs a late cross-batch event without splitting the session") {
    // Regression: absorbing a late event used to REWIND lastSeen, so a
    // later in-gap event measured its gap against the stale minimum and
    // wrongly closed the session.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.UserEvent]
    val query = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:10:00"), 1.0))
      query.processAllAvailable()
      // late event: 5 min EARLIER than anything seen — absorbed
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:05:00"), 1.0))
      query.processAllAvailable()
      // 8 min after the true latest (00:10) — in-gap, must NOT close
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:18:00"), 1.0))
      query.processAllAvailable()
      val rows = spark.table("sessions_ooo")
        .select("user_id", "session_start", "n_events", "closed")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getBoolean(3)))
      assert(!rows.exists(_._4), s"no session may close: ${rows.mkString(", ")}")
      assert(rows.contains((1L, "2024-01-01 00:05:00.0", 3L, false)),
        "session start follows the earliest absorbed event")
    } finally query.stop()
  }

  test("curated ingest: gate + redact + decontaminate + signatures, per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("curated")
    val evalDocs = Seq((9001L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = EventStream.curatedIngest(docs, evalDocs, base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData(
        (1L, "clean document with enough tokens and mail u1@ex.com inside"),
        (2L, "too short"), // fails the quality gate
        (3L, "contaminated: the quick brown fox jumps over the lazy dog copy"),
        (4L, "call 555-0199 about host 10.0.3.7 maintenance window tonight"))
      query.processAllAvailable()

      val out = spark.read.parquet(s"$base/docs")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      // gate dropped 2, decontamination dropped 3
      assert(out.keySet == Set(1L, 4L))
      assert(out(1L).contains("<EMAIL>") && !out(1L).contains("@"))
      assert(out(4L).contains("<PHONE>") && out(4L).contains("<IP>")
        && !out(4L).contains("555-0199") && !out(4L).contains("10.0.3.7"))

      // signature store holds exactly the surviving documents' bands
      val stored = graft.operators.SignatureStore.readMinhashBands(spark, base)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(stored == Set(1L, 4L))
    } finally query.stop()
  }

  test("streaming incremental dedup: batch probes the store, survivors extend it") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("incdedup")
    val input = MemoryStream[(Long, String)]
    val query = EventStream.dedupIncrementalStream(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      val tA = "alpha beta gamma delta epsilon zeta"
      val tB = "one two three four five six seven"
      // batch 0: doc 3 duplicates doc 1 within the batch
      input.addData((1L, tA), (2L, tB), (3L, tA))
      query.processAllAvailable()
      // batch 1: doc 4 duplicates the STORE (doc 1, from the previous
      // epoch); doc 5 is novel
      input.addData((4L, tA), (5L, "lorem ipsum dolor sit amet consectetur"))
      query.processAllAvailable()

      val kept = spark.read.parquet(s"$base/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 5L))
      // the store holds exactly the survivors' signatures
      val stored = graft.operators.SignatureStore.readMinhashBands(spark, base)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(stored == Set(1L, 2L, 5L))
      // replay safety: an epoch probing the store must not see its own
      // append — excluding epoch 0 leaves only epoch 1's survivor
      val excl = graft.operators.SignatureStore
        .readMinhashBandsExcluding(spark, base, 0L)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(excl == Set(5L))
    } finally query.stop()
  }

  test("window-rollup maintenance: out-of-order replayed stream reads back ≡ batch aggregation") {
    // The events-analytics store twin (VERDICT r5 #4): the watermarked
    // UPDATE stream lands batch_id-keyed, late (in-watermark) events
    // re-emit their window, and readWindowCounts resolves latest-wins —
    // the result must equal the one-shot batch aggregation of the union.
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("winmaint") + "/rollup"
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.maintainWindowCounts(events, store, "1 hour", "1 day")
      .option("checkpointLocation", s"$store/_ckpt").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "error", 1.0),
        (ts("2024-01-01 01:10:00"), "purchase", 2.0))
      query.processAllAvailable()
      // out-of-order: a LATE hour-0 error (its window was already
      // written in epoch 0 — the store now holds two generations)
      input.addData(
        (ts("2024-01-01 00:20:00"), "error", 2.0),
        (ts("2024-01-01 01:20:00"), "error", 3.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 00:05:00"), "purchase", 7.0))
      query.processAllAvailable()

      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val stored = key(EventStream.readWindowCounts(spark, store)
        .select("window_start", "event_type", "n", "total_value"))
      val all = Seq(
        (ts("2024-01-01 00:10:00"), "error", 1.0),
        (ts("2024-01-01 01:10:00"), "purchase", 2.0),
        (ts("2024-01-01 00:20:00"), "error", 2.0),
        (ts("2024-01-01 01:20:00"), "error", 3.0),
        (ts("2024-01-01 00:05:00"), "purchase", 7.0)).toDF("ts", "event_type", "value")
      val batch = key(all
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value")))
      assert(stored == batch && stored.size == 4, s"stored=$stored batch=$batch")
    } finally query.stop()
  }

  test("streaming funnel ≡ batch funnel under out-of-order replay") {
    // The juicy case: the ANCHOR arrives last. User 3 completes a slow
    // funnel (500→600→650), then a late batch delivers an EARLIER
    // signup+click+purchase — the strictly-after chain must re-anchor
    // to (100,150,200), which only works if the state re-chains from
    // the per-stage time lists instead of keeping running mins.
    implicit val sqlCtx = spark.sqlContext
    import EventStream.StageEvent
    val input = MemoryStream[StageEvent]
    val query = EventStream.funnelStages(input.toDS())
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        StageEvent(1, "click", 200L), StageEvent(1, "purchase", 300L),
        StageEvent(2, "click", 50L), StageEvent(2, "purchase", 150L),
        StageEvent(3, "signup", 500L), StageEvent(3, "click", 600L),
        StageEvent(3, "purchase", 650L))
      query.processAllAvailable()
      // late arrivals: user 1's missing signup; user 2's signup AFTER
      // their only click (click never qualifies → stage stays 1);
      // user 3's earlier full funnel
      input.addData(
        StageEvent(1, "signup", 100L), StageEvent(2, "signup", 100L),
        StageEvent(3, "signup", 100L), StageEvent(3, "click", 150L),
        StageEvent(3, "purchase", 200L))
      query.processAllAvailable()

      val rows = spark.table("funnel_ooo")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
      // stage is monotone non-decreasing and the signup anchor monotone
      // non-increasing, so each user's FINAL state is the max-stage row
      // with the smallest signup anchor.
      val finalByUser = rows.groupBy(_._1).map { case (u, rs) =>
        val maxStage = rs.map(_._2).max
        u -> rs.filter(_._2 == maxStage).minBy(_._3.getOrElse(Long.MaxValue))
      }
      // batch semantics (a6_funnel): earliest signup, earliest click
      // strictly after it, earliest purchase strictly after that
      assert(finalByUser(1L) == ((1L, 3L, Some(100L), Some(200L), Some(300L))))
      assert(finalByUser(2L) == ((2L, 1L, Some(100L), None, None)))
      assert(finalByUser(3L) == ((3L, 3L, Some(100L), Some(150L), Some(200L))))
    } finally query.stop()
  }

  test("streaming sessions ≡ batch sessionize under out-of-order replay") {
    // Closes the batch↔stream loop for o4_sessionize: the final closed +
    // open session set must equal the batch lag-window computation over
    // the union, with a late in-session event replayed across batches.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.UserEvent]
    val query = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions_eq")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:10:00"), 1.0))
      query.processAllAvailable()
      // late 00:05 (absorbed into the open session), then 00:18 (in-gap
      // of the true latest 00:10)
      input.addData(
        EventStream.UserEvent(1, ts("2024-01-01 00:05:00"), 1.0),
        EventStream.UserEvent(1, ts("2024-01-01 00:18:00"), 1.0))
      query.processAllAvailable()
      // 22 min after 00:18 → closes [00:05..00:18], opens a new session
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:40:00"), 1.0))
      query.processAllAvailable()

      val emitted = spark.table("sessions_eq")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getBoolean(3)))
      val closed = emitted.filter(_._4).map(r => (r._1, r._2, r._3)).toSet
      // Update mode re-emits the open session as it grows, so the sink
      // holds stale partials; the CURRENT open session is the latest-
      // starting open emission (sessions only move forward in time
      // here), at its largest event count.
      val open = emitted.filter(!_._4).groupBy(_._1).map { case (u, rs) =>
        val start = rs.map(_._2).max
        (u, start, rs.filter(_._2 == start).map(_._3).max)
      }.toSet

      // batch twin: the o4 lag-window formula over the union
      val all = Seq(
        (1L, ts("2024-01-01 00:10:00")), (1L, ts("2024-01-01 00:05:00")),
        (1L, ts("2024-01-01 00:18:00")), (1L, ts("2024-01-01 00:40:00")))
        .toDF("user_id", "ts")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts")
      val batchSessions = all
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("is_new", when(col("prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 600L, 1L)
          .otherwise(0L))
        .withColumn("sid", sum("is_new").over(w))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      assert(closed == Set((1L, "2024-01-01 00:05:00.0", 3L)))
      assert((closed ++ open) == batchSessions,
        s"stream=${closed ++ open} batch=$batchSessions")
    } finally query.stop()
  }

  test("a doc re-sent with changed text supersedes its batch postings (latest wins)") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("bm25resend")
    val batchDocs = Seq((1L, "alpha beta alpha"), (2L, "gamma")).toDF("doc_id", "text")
    graft.operators.SignatureStore.publish(spark,
      graft.operators.SignatureStore.bm25PostingsDir(base) -> graft.operators.SearchQueries.postingsOf(batchDocs),
      graft.operators.SignatureStore.bm25DoclensDir(base) -> graft.operators.SearchQueries.doclensOf(batchDocs))

    val input = MemoryStream[(Long, String)]
    val query = EventStream.maintainPostings(input.toDF().toDF("doc_id", "text"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((1L, "delta")) // doc 1 re-ingested with CHANGED text
      query.processAllAvailable()
      input.addData((1L, "delta epsilon")) // …and changed again
      query.processAllAvailable()

      val (post, lens) = graft.operators.SignatureStore.readBm25(spark, base)
      // only the NEWEST version's rows survive: no stale alpha/beta tf,
      // no doubled doclens, corpus stats see n=2 docs
      assert(post.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        == Set((1L, "delta", 1L), (1L, "epsilon", 1L), (2L, "gamma", 1L)))
      assert(lens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == Set((1L, 2L), (2L, 1L)))
    } finally query.stop()
  }

  test("a re-assigned vector keeps exactly one IVF assignment row (latest wins)") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("ivfresend")
    val dim = graft.operators.VectorQueries.Dim
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    val centroids = Seq((0L, unit(0)), (1L, unit(1))).toDF("cent_id", "cv")

    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStream.maintainIvfAssignments(
      input.toDF().toDF("vec_id", "embedding"), base, centroids)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((10L, unit(0)))
      query.processAllAvailable()
      input.addData((10L, unit(1))) // vector re-sent nearer the OTHER centroid
      query.processAllAvailable()

      val stored = graft.operators.SignatureStore.readIvfAssignments(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // one row, the later batch's assignment — a stale duplicate would
      // let this vector double-vote in knn_classify_ivf probes
      assert(stored.toSeq == Seq((10L, 1L)))
    } finally query.stop()
  }

  test("streaming retention ≡ batch matrix under an out-of-order cohort re-date") {
    // The hard case for incremental retention: a LATE event from an
    // EARLIER day lowers user 1's cohort, re-dating every offset
    // already emitted — the state re-emits all days under the new
    // cohort and latest-wins supersedes the stale rows.
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("retmaint") + "/pairs"
    val input = MemoryStream[EventStream.DayEvent]
    val query = EventStream.maintainRetention(input.toDS(), store)
      .option("checkpointLocation", s"$store/_ckpt").start()
    try {
      input.addData(
        EventStream.DayEvent(1, 10), EventStream.DayEvent(1, 12),
        EventStream.DayEvent(2, 20))
      query.processAllAvailable()
      // u1's late day 5: cohort 10 → 5 (all offsets re-date)
      input.addData(
        EventStream.DayEvent(1, 5), EventStream.DayEvent(2, 21))
      query.processAllAvailable()
      // duplicates emit nothing; u2 adds day 25
      input.addData(
        EventStream.DayEvent(1, 12), EventStream.DayEvent(2, 20),
        EventStream.DayEvent(2, 25))
      query.processAllAvailable()

      val matrix = EventStream.readRetention(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch twin (a7_retention formula) over the union
      val all = Seq((1L, 10L), (1L, 12L), (2L, 20L), (1L, 5L), (2L, 21L),
        (1L, 12L), (2L, 20L), (2L, 25L)).toDF("user_id", "day")
      val first = all.groupBy("user_id").agg(min("day").as("cohort_day"))
      val batch = all.distinct().join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(matrix == batch, s"stream=$matrix batch=$batch")
      assert(!matrix.exists(_._1 == 10L), "stale cohort-10 rows must be superseded")
    } finally query.stop()
  }

  test("incremental quantized-vector maintenance matches the batch quantizer, latest wins") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("q8maint")
    val dim = graft.operators.VectorQueries.Dim
    def vec(seed: Float): Seq[Float] = Seq.tabulate(dim)(i => seed * (i + 1) / dim)

    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStream.maintainQuantizedVectors(
      input.toDF().toDF("vec_id", "embedding"), base)
      .option("checkpointLocation", s"$base/_ckpt").start()
    try {
      input.addData((10L, vec(1.0f)), (11L, vec(-0.5f)))
      query.processAllAvailable()
      input.addData((10L, vec(2.0f))) // re-sent with CHANGED embedding
      query.processAllAvailable()

      val stored = graft.operators.SignatureStore.readQuantizedVectors(spark, base)
        .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
      // codes equal the batch quantizer over the FINAL corpus state
      val expect = graft.operators.VectorQueries.quantizeInt8(
        Seq((10L, vec(2.0f)), (11L, vec(-0.5f))).toDF("vec_id", "embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
      assert(stored.keySet == Set(10L, 11L))
      assert(stored == expect, "one latest-wins code row per vector")
    } finally query.stop()
  }

  test("mapGroupsWithState per-user running totals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.UserEvent]
    val query = EventStream.userTotals(input.toDS())
      .writeStream.format("memory").queryName("user_totals")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStream.UserEvent(1, ts("2024-01-01 00:00:00"), 10.0),
        EventStream.UserEvent(1, ts("2024-01-01 00:01:00"), 5.0),
        EventStream.UserEvent(2, ts("2024-01-01 00:02:00"), 7.0))
      query.processAllAvailable()
      // second batch: state carries over
      input.addData(EventStream.UserEvent(1, ts("2024-01-01 00:05:00"), 1.0))
      query.processAllAvailable()
      val last = spark.table("user_totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("tot"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(last.toSeq == Seq((1L, 3L, 16.0), (2L, 1L, 7.0)))
    } finally query.stop()
  }
}
