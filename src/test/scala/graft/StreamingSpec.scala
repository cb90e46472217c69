package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

/** Structured-Streaming face of the reference's micro-batch pattern:
  * watermarked dedup, keyed state across batches (the incremental MERGE),
  * and batch/stream equivalence of the balance recurrence. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  test("funnelProgress emits stages once, in batch order, strict sequencing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.funnelProgress(mem.toDS())
      .writeStream.format("memory").queryName("funnel1").outputMode("append").start()
    try {
      // the a23_funnel golden corpus, split across batches: u1's click@10
      // precedes their first view@20 and must never count; u2 purchases
      // BEFORE viewing and converts no further
      mem.addData(
        Ev(1, ts(10), 1, "click", 1.0), Ev(2, ts(20), 1, "view", 1.0),
        Ev(5, ts(5), 2, "purchase", 1.0), Ev(6, ts(15), 2, "view", 1.0))
      q.processAllAvailable()
      val b1 = spark.table("funnel1").as[(Long, Int, Timestamp)].collect().toSet
      assert(b1 == Set((1L, 1, ts(20)), (2L, 1, ts(15))), b1.toString)
      mem.addData(Ev(3, ts(30), 1, "click", 1.0), Ev(4, ts(40), 1, "purchase", 1.0))
      q.processAllAvailable()
      val b2 = spark.table("funnel1").as[(Long, Int, Timestamp)].collect().toSet
      assert(b2 == Set((1L, 1, ts(20)), (2L, 1, ts(15)),
        (1L, 2, ts(30)), (1L, 3, ts(40))), b2.toString)
    } finally q.stop()
  }

  test("funnelProgress: a late view re-qualifies the stored global-min click") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.funnelProgress(mem.toDS(), watermarkAge = "2 hours")
      .writeStream.format("memory").queryName("funnel2").outputMode("append").start()
    try {
      // click arrives before any view exists — ineligible at arrival, but
      // retained as the global-min click in state
      mem.addData(Ev(1, ts(30), 3, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("funnel2").isEmpty)
      // the view arrives LATE (earlier event time, later batch): stage 1
      // emits at the view's time AND the stored click re-qualifies stage 2
      mem.addData(Ev(2, ts(20), 3, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("funnel2").as[(Long, Int, Timestamp)].collect().toSet
      assert(out == Set((3L, 1, ts(20)), (3L, 2, ts(30))), out.toString)
    } finally q.stop()
  }

  test("dedupedWindowedAgg drops in-watermark duplicate event_ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupedWindowedAgg(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dwa").outputMode("update").start()
    try {
      mem.addData(
        Ev(1, ts(0), 1, "purchase", 10.0),
        Ev(1, ts(1), 1, "purchase", 10.0), // duplicate id within watermark
        Ev(2, ts(2), 1, "purchase", 5.0))
      q.processAllAvailable()
      val out = spark.table("dwa").as[(Timestamp, Long, Double, Long)].collect()
      assert(out.map(_._4).sum == 2, s"expected 2 deduped events, got $out")
      assert(out.map(_._3).sum == 15.0)
    } finally q.stop()
  }

  test("runningBalance state across micro-batches ≡ batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.runningBalance(mem.toDS())
      .writeStream.format("memory").queryName("rb").outputMode("update").start()
    try {
      // batch 1
      mem.addData(Ev(1, ts(0), 7, "purchase", 100.0), Ev(2, ts(1), 7, "error", 30.0))
      q.processAllAvailable()
      // batch 2 folds into stored state
      mem.addData(Ev(3, ts(2), 7, "purchase", 5.0), Ev(4, ts(3), 8, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("rb").as[(Long, Double, Long)].collect()
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._3) }
      assert(out(7L)._2 == 75.0) // 100 - 30 + 5, across two micro-batches
      assert(out(7L)._3 == 3L)
      assert(out(8L)._2 == 0.0)
    } finally q.stop()
  }

  test("sessionize closes sessions on in-batch gaps AND on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDS(), gapMs = 30 * 60000L, watermarkAge = "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // batch 1: user 1 has two bursts separated by > 30min IN ONE BATCH —
      // the first session closes inline; the second stays open
      mem.addData(
        Ev(1, ts(0), 1, "purchase", 10.0),
        Ev(2, ts(5), 1, "purchase", 5.0),
        Ev(3, ts(60), 1, "purchase", 1.0))
      q.processAllAvailable()
      val afterB1 = spark.table("sess")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
      assert(afterB1.toSeq == Seq((1L, ts(0), ts(5), 2L, 15.0)), afterB1.toSeq.toString)

      // batch 2: a far-future event from ANOTHER user advances the
      // watermark past t60 + gap, firing user 1's event-time timeout
      mem.addData(Ev(4, ts(600), 2, "purchase", 2.0))
      q.processAllAvailable()
      // one more batch so the new watermark is applied to the state store
      mem.addData(Ev(5, ts(601), 2, "purchase", 2.0))
      q.processAllAvailable()
      val afterB2 = spark.table("sess")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      assert(afterB2.contains((1L, ts(60), ts(60), 1L, 1.0)), afterB2.toString)
    } finally q.stop()
  }

  test("sessionize absorbs an in-watermark LATE event without regressing the session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDS(), gapMs = 30 * 60000L, watermarkAge = "2 hours")
      .writeStream.format("memory").queryName("sessl").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(10), 1, "purchase", 1.0))
      q.processAllAvailable()
      // LATE event (ts 5 < the state's lastTs 10, inside the watermark):
      // must extend the session hull, not regress lastTs — a regressed
      // lastTs would split the session at the next on-time event
      mem.addData(Ev(2, ts(5), 1, "purchase", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(35), 1, "purchase", 4.0)) // within gap of ts(10)
      q.processAllAvailable()
      // advance the watermark far enough to fire the timeout
      mem.addData(Ev(4, ts(600), 2, "purchase", 0.5))
      q.processAllAvailable()
      mem.addData(Ev(5, ts(601), 2, "purchase", 0.5))
      q.processAllAvailable()
      val out = spark.table("sessl")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .filter(_._1 == 1L)
      assert(out.length == 1,
        s"late event split the session: $out")
      assert(out.head == ((1L, ts(5), ts(35), 3L, 7.0)), out.head.toString)
      assert(out.forall(s => !s._3.before(s._2)), "session end < start emitted")
    } finally q.stop()
  }

  test("driftTvd: windows close once on the watermark, TVD ≡ the batch cross-product form") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // reference histogram: 40 ref-window events, value ∈ {10, 30} evenly →
    // buckets 0 and 1 get 20 each
    val ref = Seq(20L, 20L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val winMs = 60L * 60000L // 1-hour tumbling windows for the test
    val q = Streams.driftTvd(mem.toDS(), ref, windowMs = winMs,
        watermarkAge = "0 seconds")
      .writeStream.format("memory").queryName("drift").outputMode("append").start()
    try {
      // window W0 (minutes 0..59): 6 events in bucket 0, 2 in bucket 2 —
      // a clear shift off the reference; split across two batches to prove
      // cross-batch accumulation into one window's state
      mem.addData(
        Ev(1, ts(1), 1, "view", 5.0), Ev(2, ts(2), 1, "view", 15.0),
        Ev(3, ts(3), 2, "view", 5.0), Ev(4, ts(4), 2, "view", 45.0))
      q.processAllAvailable()
      mem.addData(
        Ev(5, ts(10), 1, "view", 5.0), Ev(6, ts(11), 1, "view", 5.0),
        Ev(7, ts(12), 2, "view", 5.0), Ev(8, ts(13), 2, "view", 50.0))
      q.processAllAvailable()
      // nothing emits while the window is open
      assert(spark.table("drift").count() == 0,
        "drift row emitted before the watermark closed the window")
      // an event two windows ahead advances the watermark past W0's end;
      // one more batch applies the new watermark to the state store
      mem.addData(Ev(9, ts(125), 3, "view", 30.0))
      q.processAllAvailable()
      mem.addData(Ev(10, ts(126), 3, "view", 30.0))
      q.processAllAvailable()
      val rows = spark.table("drift")
        .as[(Timestamp, Long, Double)].collect().toSeq
      assert(rows.size == 1, s"W0 should close exactly once: $rows")
      val (w0, nCur, tvd) = rows.head
      assert(w0 == ts(0) && nCur == 8L, rows.toString)
      // batch recompute, the dq_drift_tvd cross-product form: counts
      // (6,0,2,0...) vs ref (20,20,0,...), t_ref=40, t_cur=8 →
      // Σ|r_b·t_cur − c_b·t_ref| = |160−240| + |160−0| + |0−80| = 320;
      // tvd = 320 / (2·40·8) = 0.5 — one IEEE division, bit-exact
      assert(tvd == 320.0 / (2.0 * 40.0 * 8.0), s"tvd=$tvd")
      // the closed window left the state store: a late W0 event (outside
      // the watermark) re-opens nothing and the emitted row never repeats
      mem.addData(Ev(11, ts(127), 3, "view", 30.0))
      q.processAllAvailable()
      assert(spark.table("drift").count() >= 1)
      assert(spark.table("drift").filter(col("window_start") === ts(0)).count() == 1,
        "closed window emitted twice")
    } finally q.stop()
  }

  test("staleEntities: silence alerts once when proven, activity resets, returns re-seed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // silence threshold 30 min of event time; zero watermark delay so the
    // test controls the clock precisely
    val q = Streams.staleEntities(mem.toDS(), silenceMs = 30L * 60000L,
        watermarkAge = "0 seconds")
      .writeStream.format("memory").queryName("stale").outputMode("append").start()
    try {
      // u1 active at minutes 0 and 5; u2 active at minute 28 — u2's later
      // activity keeps advancing the watermark without tripping itself
      mem.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(5), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(28), 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("stale").count() == 0,
        "alert fired before any silence was proven")
      // watermark jumps past u1's last(5) + 30 but NOT past u2's 28 + 30:
      // exactly u1 alerts, with its last activity and event count
      mem.addData(Ev(4, ts(40), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(5, ts(41), 2, "view", 1.0))
      q.processAllAvailable()
      val a1 = spark.table("stale")
        .as[(Long, Timestamp, Long, Long)].collect().toSeq
      assert(a1 == Seq((1L, ts(5), 2L, 30L * 60000L)), a1.toString)
      // u1 RETURNS at minute 50: state re-seeds; a second silence past
      // 50 + 30 alerts AGAIN with the fresh episode's accounting
      mem.addData(Ev(6, ts(50), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(7, ts(90), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(8, ts(91), 2, "view", 1.0))
      q.processAllAvailable()
      val a2 = spark.table("stale")
        .as[(Long, Timestamp, Long, Long)].collect().toSet
      assert(a2.contains((1L, ts(50), 1L, 30L * 60000L)), a2.toString)
      assert(a2.size == 2, s"duplicate or spurious alerts: $a2")
    } finally q.stop()
  }

  test("hllDistinct survives NULL user ids (batch twin tolerates them)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Option[Long])]
    val q = Streams.hllDistinct(mem.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("hlln").outputMode("update").start()
    try {
      mem.addData(("a", Some(1L)), ("a", None), ("a", Some(2L)))
      q.processAllAvailable()
      val got = spark.table("hlln")
        .as[(String, Long, Double)].collect()
      assert(got.nonEmpty, "null user_id killed the streaming query")
      // two non-null distinct ids, well inside linear counting's range
      assert(math.abs(got.map(_._3).max - 2.0) < 1.5, got.toSeq.toString)
    } finally q.stop()
  }

  test("stream-stream interval join ≡ batch join; left-outer emits after watermark") {
    import graft.streaming.Streams.{Tx, Receipt}
    implicit val sqlCtx = spark.sqlContext
    val txm = MemoryStream[Tx]
    val rcm = MemoryStream[Receipt]
    val q = Streams.txWithReceipts(txm.toDF(), rcm.toDF(),
        watermarkAge = "0 seconds", window = "30 minutes")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      // batch 1: two txs; receipt for h1 arrives IN WINDOW, out of order
      txm.addData(Tx("h1", ts(0), "w1", 10.0), Tx("h2", ts(1), "w2", 20.0))
      rcm.addData(Receipt("h1", ts(5), 1, 21000L))
      q.processAllAvailable()
      // batch 2: a receipt for h2 OUTSIDE the 30-minute window (never
      // joins) + far-future rows on both sides to advance the global
      // watermark past h2's join horizon
      rcm.addData(Receipt("h2", ts(40), 1, 42000L))
      txm.addData(Tx("h9", ts(600), "w9", 1.0))
      rcm.addData(Receipt("h9", ts(601), 1, 1L))
      q.processAllAvailable()
      // nudge until the state store evicts and emits h2's null row —
      // outer-join eviction can lag a micro-batch or two depending on the
      // Spark version's cleanup timing, so a single fixed nudge is flaky
      val txNudges = scala.collection.mutable.ArrayBuffer.empty[Tx]
      val rcNudges = scala.collection.mutable.ArrayBuffer.empty[Receipt]
      var nudge = 0
      while (nudge < 5 &&
          spark.table("ssj").filter(col("tx_hash") === "h2").isEmpty) {
        val t = Tx(s"h1$nudge", ts(602 + nudge), "w9", 1.0)
        val r = Receipt(s"h1$nudge", ts(603 + nudge), 1, 1L)
        txNudges += t; rcNudges += r
        txm.addData(t)
        rcm.addData(r)
        q.processAllAvailable()
        nudge += 1
      }
      val out = spark.table("ssj")
        .as[(String, Timestamp, String, Double, Option[Int], Option[Long])]
        .collect().toSet
      // matched row carries its receipt
      assert(out.contains(("h1", ts(0), "w1", 10.0, Some(1), Some(21000L))), out.toString)
      // out-of-window receipt = no match: h2 emits with NULLs once the
      // watermark proves no receipt can still arrive
      assert(out.contains(("h2", ts(1), "w2", 20.0, None, None)), out.toString)
      // the equivalent batch join agrees on every matched row
      val txB = (Seq(Tx("h1", ts(0), "w1", 10.0), Tx("h2", ts(1), "w2", 20.0),
        Tx("h9", ts(600), "w9", 1.0)) ++ txNudges).toDF()
      val rcB = (Seq(Receipt("h1", ts(5), 1, 21000L), Receipt("h2", ts(40), 1, 42000L),
        Receipt("h9", ts(601), 1, 1L)) ++ rcNudges).toDF()
      val batch = txB.join(rcB,
          col("r_hash") === col("tx_hash") && col("r_ts") >= col("ts") &&
            col("r_ts") <= col("ts") + org.apache.spark.sql.functions.expr("interval 30 minutes"),
          "left")
        .select(col("tx_hash"), col("ts"), col("wallet"), col("amount"),
          col("status").as("receipt_status"), col("gas_used").as("receipt_gas_used"))
        .as[(String, Timestamp, String, Double, Option[Int], Option[Long])]
        .collect().toSet
      assert(out == batch, s"stream $out vs batch $batch")
    } finally q.stop()
  }

  test("domain raw merge as a stream: CSV feeds -> foreachBatch raw layer ≡ RawIngestion batch") {
    import graft.core.{Lakehouse, Schemas}
    import graft.pipeline.RawIngestion
    import org.apache.spark.sql.types.{LongType, StructField, StructType}

    val txHeader = "hash,from_address,to_address,nonce,transaction_index,gas,gas_price," +
      "max_fee_per_gas,max_priority_fee_per_gas,value,input,block_hash," +
      "block_timestamp,block_number,transaction_type"
    // the streaming exporter attaches the block timestamp to receipts
    // (it holds the header when it emits) — that is the feed's event time
    val rcHeader = "transaction_hash,block_number,cumulative_gas_used,gas_used," +
      "contract_address,root,status,effective_gas_price,block_timestamp"
    val rcStreamSchema = StructType(
      Schemas.receiptsCsv.fields :+ StructField("block_timestamp", LongType))

    def txRow(h: String, ts: Long, bn: Long) =
      s"$h,0xaaaa11,0xbbbb22,1,0,21000,1000000000,0,0,2000000000000000000,0x,bh$bn,$ts,$bn,2"
    def rcRow(h: String, ts: Long, bn: Long) = s"$h,$bn,21000,21000,,r,1,1000000000,$ts"

    val txDir = tmpDir("dom-stream-tx"); val rcDir = tmpDir("dom-stream-rc")
    val lake = tmpDir("dom-stream-lake"); val ckpt = tmpDir("dom-stream-ck")
    def writeFile(dir: String, name: String, header: String, rows: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name),
        (header +: rows).mkString("\n"))

    // micro-batch 1: two txs, but only h1's receipt — h2's is in flight
    writeFile(txDir, "b1.csv", txHeader,
      txRow("h1", 1704067200L, 17000100L), txRow("h2", 1704067212L, 17000101L))
    writeFile(rcDir, "b1.csv", rcHeader, rcRow("h1", 1704067200L, 17000100L))

    val txS = spark.readStream.option("header", "true")
      .schema(Schemas.rawTransactionsCsv).csv(txDir)
    val rcS = spark.readStream.option("header", "true")
      .schema(rcStreamSchema).csv(rcDir)
    val rawPath = s"$lake/raw/ethereum_transactions"
    val q = graft.streaming.Streams.foreachBatchRawAppend(
      graft.streaming.Streams.domainTxWithReceipts(txS, rcS),
      rawPath, keys = Seq("hash", "block_number"), partitionCols = Seq("date_partition"),
      checkpoint = ckpt)
    try {
      q.processAllAvailable()
      assert(Lakehouse.read(spark, rawPath).count() == 1) // h2 still unmatched

      // micro-batch 2: h2's late receipt joins the buffered tx; h1's
      // receipt is RE-DELIVERED (source replay) — the anti-join guard in
      // the sink must keep the table exactly-once; h3 arrives complete
      writeFile(txDir, "b2.csv", txHeader, txRow("h3", 1704067224L, 17000102L))
      writeFile(rcDir, "b2.csv", rcHeader,
        rcRow("h2", 1704067212L, 17000101L),
        rcRow("h1", 1704067200L, 17000100L),
        rcRow("h3", 1704067224L, 17000102L))
      q.processAllAvailable()

      val streamed = Lakehouse.read(spark, rawPath)
      assert(streamed.count() == 3)

      // ≡ the batch merge on the union of everything both feeds delivered
      def csvDf(dir: String, schema: StructType) =
        spark.read.option("header", "true").schema(schema).csv(dir)
      val batch = RawIngestion.transactionsWithReceipts(
        csvDf(txDir, Schemas.rawTransactionsCsv),
        csvDf(rcDir, rcStreamSchema).drop("block_timestamp").distinct())
      val cols = batch.columns.sorted.map(col)
      val a = streamed.select(cols: _*).orderBy("hash").collect().toSeq
      val b = batch.select(cols: _*).orderBy("hash").collect().toSeq
      assert(a == b, s"stream raw layer $a vs batch merge $b")
    } finally q.stop()
  }

  test("streaming corpus admission: near-dups rejected across and within micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val root = tmpDir("stream-admission")
    val corpus = tmpDir("stream-corpus") + "/docs"
    val ckpt = tmpDir("stream-admission-ck")
    val q = graft.streaming.Streams.documentAdmission(
      docs.toDF().toDF("doc_id", "text"), root, corpus, ckpt)
    try {
      // batch 1: 11 near-dups 10 within the batch -> only 10 admitted
      docs.addData(
        10L -> "alpha beta gamma delta epsilon zeta",
        11L -> "alpha beta gamma delta epsilon eta")
      q.processAllAvailable()
      // batch 2: 20 dups the STORED 10 (via the persisted index, not any
      // in-flight state) -> rejected; 21 is new -> admitted
      docs.addData(
        20L -> "alpha beta gamma delta epsilon zeta",
        21L -> "one two three four five six seven")
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(10L, 21L), kept.toString)
      // replayed delivery (checkpoint recovery shape): same rows again —
      // corpus and index must be unchanged (idempotent appends)
      docs.addData(
        20L -> "alpha beta gamma delta epsilon zeta",
        21L -> "one two three four five six seven")
      q.processAllAvailable()
      val afterReplay = spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet
      assert(afterReplay == Set(10L, 21L), afterReplay.toString)
      // and a later near-dup of an admitted doc is still rejected exactly
      // once (no inflated signatures from the replay)
      docs.addData(
        30L -> "one two three four five six eight",
        31L -> "nine ten eleven twelve thirteen fourteen")
      q.processAllAvailable()
      val finalKept = spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet
      assert(finalKept == Set(10L, 21L, 31L), finalKept.toString)
    } finally q.stop()
  }

  test("streaming view maintenance: stream-maintained partials ≡ batch recompute; redelivery lands once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.ManifestSnapshots
    import graft.pipeline.MaterializedView
    val baseDir = tmpDir("svm-base") + "/t"
    val viewDir = tmpDir("svm-view") + "/v"
    val ckpt = tmpDir("svm-ck")
    val mem = MemoryStream[(Long, Long, Double)] // (id, k, v)
    val spec = MaterializedView.MvSpec(keys = Seq("k"), sums = Seq("v"))
    val q = Streams.foreachBatchViewMaintenance(
      mem.toDF().toDF("id", "k", "v"), baseDir, viewDir, spec,
      keys = Seq("id"), checkpoint = ckpt)
    try {
      mem.addData((1L, 0L, 10.0), (2L, 1L, 5.0))
      q.processAllAvailable()
      // second micro-batch REDELIVERS id=2 (at-least-once source) along
      // with a genuinely new row for the already-seen group k=0
      mem.addData((3L, 0L, 2.5), (2L, 1L, 5.0))
      q.processAllAvailable()

      // base chain: the guard admitted 3 distinct rows across 2 versions
      assert(ManifestSnapshots.readLatest(spark, baseDir).count() == 3)
      assert(ManifestSnapshots.latestVersion(spark, baseDir).contains(2L))

      val served = MaterializedView.serve(spark, viewDir)
        .select(col("k"), col("sum_v").cast("double").as("s"), col("n_rows"))
        .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(served(0L) == ((12.5, 2L)), s"k=0 partials wrong: $served")
      assert(served(1L) == ((5.0, 1L)), s"redelivered row double-counted: $served")

      // the stream's state IS the batch state: a batch-mode refresh on
      // the same dirs is a noop
      assert(MaterializedView.refresh(spark, baseDir, viewDir, spec).mode == "noop")
    } finally q.stop()
  }

  test("streaming join-view maintenance: two-sided deltas fold exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.ManifestSnapshots
    import graft.pipeline.JoinMaterializedView
    import graft.pipeline.JoinMaterializedView.JoinMvSpec
    import graft.pipeline.MaterializedView.MvSpec
    val aDir = tmpDir("sjmv-a") + "/a"
    val bDir = tmpDir("sjmv-b") + "/b"
    val viewDir = tmpDir("sjmv-v") + "/v"
    val ckpt = tmpDir("sjmv-ck")
    val jm = JoinMvSpec("fk", "dk", MvSpec(keys = Seq("g"), sums = Seq("v")))
    // dims land OUTSIDE the stream (another writer's appends)
    ManifestSnapshots.writeFull(
      Seq((0L, 0L), (1L, 1L)).toDF("dk", "g"), bDir)
    val mem = MemoryStream[(Long, Long, Double)] // (id, fk, v)
    val q = Streams.foreachBatchJoinViewMaintenance(
      mem.toDF().toDF("id", "fk", "v"), aDir, bDir, viewDir, jm,
      keys = Seq("id"), checkpoint = ckpt)
    try {
      mem.addData((1L, 0L, 10.0), (2L, 1L, 5.0))
      q.processAllAvailable()
      // the dim side advances between micro-batches; batch 2 REDELIVERS
      // id=2 and adds a fact referencing the NEW dim (the cross term)
      ManifestSnapshots.appendDelta(Seq((2L, 0L)).toDF("dk", "g"), bDir)
      mem.addData((3L, 2L, 2.5), (2L, 1L, 5.0))
      q.processAllAvailable()

      assert(ManifestSnapshots.readLatest(spark, aDir).count() == 3,
        "replay guard must admit 3 distinct facts")
      val served = JoinMaterializedView.serve(spark, viewDir)
        .select(col("g"), col("sum_v").cast("double").as("s"), col("n_rows"))
        .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(served(0L) == ((12.5, 2L)), s"g=0 partials wrong: $served")
      assert(served(1L) == ((5.0, 1L)), s"redelivered fact double-counted: $served")
      // a batch-mode refresh on the same state is a noop — shared ledger
      val s = JoinMaterializedView.refresh(spark, aDir, bDir, viewDir, jm)
      assert(s.mode == "noop", s"stream state must BE the batch state, got ${s.mode}")
    } finally q.stop()
  }

  test("streaming medallion CDC: stream-maintained features ≡ batch cycle; redelivery lands once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.MedallionCdc
    val root = tmpDir("smcdc")
    val rootBatch = tmpDir("smcdc-batch")
    val ckpt = tmpDir("smcdc-ck")
    import org.apache.spark.sql.functions.{format_string, lit, when}
    def stageRows(lo: Long, hi: Long) =
      (lo until hi).toDF("event_id")
        .withColumn("ts_us", col("event_id") * 1000L)
        .withColumn("user_id", col("event_id") % 50)
        .withColumn("event_type",
          when(col("event_id") % 3 === 0, "purchase")
            .when(col("event_id") % 3 === 1, "error").otherwise("view"))
        .withColumn("value", (col("event_id") % 8).cast("double") * 0.25 + 1)
        .withColumn("props", format_string("{\"k\":%d}", col("event_id") % 11))
        .withColumn("date_partition", lit("2024-01"))
    val mem2 = MemoryStream[(Long, Long, Long, String, Double, String, String)]
    val stageStream = mem2.toDF().toDF(
      "event_id", "ts_us", "user_id", "event_type", "value", "props", "date_partition")
    val q2 = Streams.foreachBatchMedallionCdc(stageStream, root, ckpt)
    def feed(lo: Long, hi: Long): Unit = {
      val rows = stageRows(lo, hi)
        .as[(Long, Long, Long, String, Double, String, String)].collect()
      mem2.addData(rows.toIndexedSeq: _*)
      q2.processAllAvailable()
    }
    try {
      feed(0, 120)
      feed(120, 160)
      feed(120, 160) // full redelivery: guard must absorb it
      // batch-mode over the same data agrees row-for-row
      MedallionCdc.runCycle(spark, rootBatch, stageRows(0, 160))
      val a = MedallionCdc.serveFeatures(spark, root)
      val b = MedallionCdc.serveFeatures(spark, rootBatch)
      val cols = a.columns.sorted.toSeq.map(col)
      assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
        b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty,
        "stream-maintained features diverged from the batch cycle")
      // the redelivered micro-batch created no chain version
      assert(graft.core.ManifestSnapshots
        .latestVersion(spark, MedallionCdc.analyticsDir(root)).contains(2L),
        "a replayed micro-batch committed a chain version")
    } finally q2.stop()
  }

  test("parquet file source streams the lake: new files arrive as micro-batches") {
    val srcDir = tmpDir("stream-src")
    val outDir = tmpDir("stream-out")
    val ckpt = tmpDir("stream-fck")
    val batch1 = Seq(Ev(1, ts(0), 1, "purchase", 10.0), Ev(2, ts(1), 2, "click", 1.0))
    batch1.toDS().write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .parquet(srcDir)
    val q = Streams.dedupedWindowedAgg(stream, "10 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // append-mode windowed agg emits only watermark-closed windows; a second
    // file arriving later advances the watermark and flushes the first hour
    val batch2 = Seq(Ev(3, ts(90), 1, "purchase", 5.0))
    batch2.toDS().write.mode("append").parquet(srcDir)
    val q2 = Streams.dedupedWindowedAgg(
      spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema).parquet(srcDir),
      "10 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    assert(out.count() >= 1) // the first closed hour window surfaced
    assert(out.filter(col("user_id") === 1).head().getAs[Double]("total_value") == 10.0)
  }

  test("foreachBatchUpsert merges each micro-batch into the lake table") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val path = tmpDir("stream-sink")
    val ckpt = tmpDir("stream-ckpt")
    val balances = Streams.runningBalance(mem.toDS()).toDF()
    val q = Streams.foreachBatchUpsert(balances, path, Seq("user_id"), ckpt)
    try {
      mem.addData(Ev(1, ts(0), 7, "purchase", 100.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts(1), 7, "error", 30.0), Ev(3, ts(2), 9, "purchase", 1.0))
      q.processAllAvailable()
      val out = spark.read.parquet(path).as[(Long, Double, Long)].collect()
        .map(r => r._1 -> r._2).toMap
      assert(out == Map(7L -> 70.0, 9L -> 1.0))
    } finally q.stop()
  }

  test("streaming KMV sketch: k-bounded state, every emission ≡ independent recompute") {
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    val docs = MemoryStream[(String, String)]
    val q = Streams.kmvDistinct(docs.toDF().toDF("source", "text"), k)
      .writeStream.format("memory").queryName("kmv_out").outputMode("update").start()

    // independent oracle: plain-Scala shingling + MD5 + k-min merge
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingles(t: String): Seq[String] = {
      val w = t.split(" ")
      if (w.length < 3) Nil else w.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }
    def est(st: List[(String, String)]): Double =
      if (st.size < k) st.size.toDouble
      else {
        val kth = st.last._1.take(12).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
        (k - 1).toDouble * 281474976710656.0 / kth
      }
    var state = Map.empty[String, List[(String, String)]]
    val expected = Seq.newBuilder[(String, Long, Double)]
    def feed(batch: Seq[(String, String)]): Unit = {
      docs.addData(batch: _*); q.processAllAvailable()
      batch.groupBy(_._1).foreach { case (src, ds) =>
        val merged = (state.getOrElse(src, Nil) ++
          ds.flatMap(d => shingles(d._2)).map(s => (md5hex(s), s)))
          .distinct.sortBy(identity).take(k)
        state += src -> merged
        expected += ((src, merged.size.toLong, est(merged)))
      }
    }
    try {
      // s1 accumulates 11 distinct shingles across batches (> k: the
      // estimator path AND the state bound are both exercised); s2's
      // second batch is an exact replay (state unchanged, re-emitted)
      feed(Seq(
        "s1" -> "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9",
        "s2" -> "a b c d e f"))
      feed(Seq(
        "s1" -> "w5 w6 w7 w8 w9 w10 w11 w12",
        "s2" -> "a b c d e f"))
      val got = spark.table("kmv_out").as[(String, Long, Double)].collect().toSeq
      // update-mode memory sink keeps one row per (source, batch) emission
      assert(got.sorted == expected.result().sorted, s"got=$got")
      // the state bound IS the sketch: n_min never exceeds k even though
      // s1 has seen more than k distinct shingles
      assert(got.forall(_._2 <= k))
      assert(got.count(_._1 == "s1") == 2 &&
        got.filter(_._1 == "s1").map(_._2).max == k)
    } finally q.stop()
  }

  test("streaming HLL sketch: fixed 64-register state, emissions ≡ independent recompute") {
    implicit val sqlCtx = spark.sqlContext
    val ev = MemoryStream[(String, Long)]
    val q = Streams.hllDistinct(ev.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("hll_out").outputMode("update").start()

    // independent oracle: plain-Scala md5 + register/rho + estimator
    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def addTo(regs: Array[Int], uid: Long): Unit = {
      val hv = md5hex(s"hll:$uid").take(12)
        .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
      val reg = (hv % 64).toInt; val qq = hv / 64
      val rho = if (qq == 0) 43 else 43 - java.lang.Long.toBinaryString(qq).length
      if (rho > regs(reg)) regs(reg) = rho
    }
    def estOf(regs: Array[Int]): (Long, Double) = {
      val v = regs.count(_ == 0).toLong
      val denom = regs.map(mj => 1L << (43 - mj)).sum
      val raw = 0.709 * 4096 * 8796093022208L / denom
      (v, if (v > 0 && raw <= 160.0) 64 * math.log(64.0 / v) else raw)
    }
    var state = Map.empty[String, Array[Int]]
    val expected = Seq.newBuilder[(String, Long, Double)]
    def feed(batch: Seq[(String, Long)]): Unit = {
      ev.addData(batch: _*); q.processAllAvailable()
      batch.groupBy(_._1).foreach { case (k, rows) =>
        val regs = state.getOrElse(k, new Array[Int](64))
        rows.foreach(r => addTo(regs, r._2))
        state += k -> regs
        val (v, e) = estOf(regs)
        expected += ((k, v, e))
      }
    }
    try {
      // t1 crosses the linear-counting regime over two batches; t2's
      // second batch replays the same ids (registers unchanged, re-emitted)
      feed(Seq("t1" -> 1L, "t1" -> 2L, "t1" -> 3L, "t2" -> 10L, "t2" -> 11L))
      feed((100L to 400L).map(i => "t1" -> i) ++ Seq("t2" -> 10L, "t2" -> 11L))
      val got = spark.table("hll_out")
        .as[(String, Long, Double)].collect().toSeq
      assert(got.sorted == expected.result().sorted, s"got=$got")
      // accuracy on the big key: 301+3 distinct ids, HLL m=64 → well
      // inside +-50%
      val big = got.filter(g => g._1 == "t1").map(_._3).max
      assert(big > 150 && big < 600, s"t1 estimate $big")
    } finally q.stop()
  }

  test("streaming CMS sketch: grid-bounded state, overcount-only, replay re-counts") {
    implicit val sqlCtx = spark.sqlContext
    val words = MemoryStream[(String, String)]
    val q = Streams.cmsFrequency(words.toDF().toDF("source", "w"))
      .writeStream.format("memory").queryName("cms_out").outputMode("update").start()
    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(salt: Int, w: String): Int = {
      val h = md5hex(s"$salt:$w").take(2)
      Character.digit(h(0), 16) * 16 + Character.digit(h(1), 16)
    }
    var cells = Map.empty[String, Array[Int]]
    var truth = Map.empty[(String, String), Long]
    val expected = Seq.newBuilder[(String, String, Long)]
    def feed(batch: Seq[(String, String)]): Unit = {
      words.addData(batch: _*); q.processAllAvailable()
      batch.groupBy(_._1).foreach { case (src, rows) =>
        val c = cells.getOrElse(src, new Array[Int](512))
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        rows.foreach { case (_, w) =>
          c(bucket(1, w)) += 1; c(256 + bucket(2, w)) += 1; seen += w
          truth += (src, w) -> (truth.getOrElse((src, w), 0L) + 1)
        }
        cells += src -> c
        seen.foreach(w => expected +=
          ((src, w, math.min(c(bucket(1, w)), c(256 + bucket(2, w))).toLong)))
      }
    }
    try {
      feed(Seq("s" -> "a", "s" -> "a", "s" -> "b", "t" -> "a"))
      // replay of s's first batch: a counting sketch re-counts (the spec
      // pins the documented at-least-once caveat, not idempotence)
      feed(Seq("s" -> "a", "s" -> "a", "s" -> "b"))
      val got = spark.table("cms_out").as[(String, String, Long)].collect().toSeq
      assert(got.sorted == expected.result().sorted, s"got=$got")
      // overcount-only: every emission >= the true running count at that point
      // (exact equality here — 512 cells, 2 words, no collisions)
      assert(got.forall(_._3 > 0))
      val sFinal = got.filter(g => g._1 == "s" && g._2 == "a").map(_._3).max
      assert(sFinal == 4, s"replayed count should be 4, got $sFinal")
    } finally q.stop()
  }

  test("ledgered CMS sketch: a redelivered batch counts exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val words = MemoryStream[(String, String, Long)]
    val q = Streams.cmsFrequencyLedgered(
        words.toDF().toDF("source", "w", "batch_id"))
      .writeStream.format("memory").queryName("cmsl_out").outputMode("update").start()
    try {
      // batch 1 delivers, then is REDELIVERED alongside fresh batch 2 —
      // the ledger must absorb the replay (equality, not the documented
      // at-least-once caveat of the unledgered sketch)
      words.addData(("s", "a", 1L), ("s", "a", 1L), ("s", "b", 1L), ("t", "a", 1L))
      q.processAllAvailable()
      words.addData(("s", "a", 1L), ("s", "a", 1L), ("s", "b", 1L), // replay of 1
        ("s", "a", 2L), ("t", "a", 2L)) // fresh batch 2
      q.processAllAvailable()
      val got = spark.table("cmsl_out")
        .as[(String, String, Long)].collect().toSeq
      // final estimates: s/a counted twice in b1 + once in b2 = 3 (the
      // replayed copies add nothing); s/b = 1; t/a = 2
      def finalOf(s: String, w: String) =
        got.filter(g => g._1 == s && g._2 == w).map(_._3).max
      assert(finalOf("s", "a") == 3L, s"replay re-counted: ${finalOf("s", "a")}")
      assert(finalOf("s", "b") == 1L)
      assert(finalOf("t", "a") == 2L)
      // and the replayed rows still re-emitted their (unchanged) estimate —
      // idempotent output, so a downstream upsert converges
      assert(got.count(g => g._1 == "s" && g._2 == "b") >= 2)
    } finally q.stop()
  }

  test("ledgered CMS sketch: a replay from beyond the ledger horizon fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    val words = MemoryStream[(String, String, Long)]
    val q = Streams.cmsFrequencyLedgered(
        words.toDF().toDF("source", "w", "batch_id"))
      .writeStream.format("memory").queryName("cmsl_hz").outputMode("update").start()
    try {
      // fill the ledger past capacity: LedgerCap+1 distinct batch ids —
      // the retained window becomes ids 2..LedgerCap+1, horizon = 2
      words.addData((1 to Streams.LedgerCap + 1).map(b => ("s", "w", b.toLong)): _*)
      q.processAllAvailable()
      // a replay ABOVE the horizon is decidable and absorbed silently
      words.addData(("s", "w", 5L))
      q.processAllAvailable()
      // batch id 1 was evicted: counted-and-evicted vs genuinely-new is
      // undecidable — the sketch must refuse rather than silently re-count
      words.addData(("s", "w", 1L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("replay horizon")),
        s"expected the replay-horizon refusal, got: $e")
    } finally q.stop()
  }

  test("sessionize: a stale in-watermark event becomes its own session, not a hull corruption") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDS(), gapMs = 30 * 60000L, watermarkAge = "4 hours")
      .writeStream.format("memory").queryName("sessstale").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(100), 1, "purchase", 1.0))
      q.processAllAvailable()
      // STALE event: ts 10 is 90 min before the open session's start —
      // gap-disjoint on the early side. A sorted batch sessionization
      // would close it into its own earlier session; merging it here
      // would drag the open session's start back 90 minutes.
      mem.addData(Ev(2, ts(10), 1, "purchase", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(120), 1, "purchase", 4.0)) // within gap of ts(100)
      q.processAllAvailable()
      // fire the timeout for user 1's open session
      mem.addData(Ev(4, ts(2000), 2, "purchase", 0.5))
      q.processAllAvailable()
      mem.addData(Ev(5, ts(2001), 2, "purchase", 0.5))
      q.processAllAvailable()
      val out = spark.table("sessstale")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .filter(_._1 == 1L).sortBy(_._2.getTime)
      assert(out.length == 2, s"expected stale singleton + main session: ${out.toSeq}")
      assert(out(0) == ((1L, ts(10), ts(10), 1L, 2.0)),
        s"stale event did not close as its own session: ${out(0)}")
      assert(out(1) == ((1L, ts(100), ts(120), 2L, 5.0)),
        s"open session corrupted by the stale event: ${out(1)}")
    } finally q.stop()
  }

  test("bloom-guarded streaming append: replayed micro-batches land exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val path = tmpDir("stream-bloomguard") + "/t"
    val ckpt = tmpDir("stream-bloomguard-ck")
    def ev(i: Int) = Ev(i.toLong, ts(i), i % 3L, s"type${i % 2}", i * 1.5)
    val q = Streams.foreachBatchBloomGuardedAppend(
      mem.toDF(), path, keys = Seq("event_id"), partitionCols = Seq("event_type"),
      checkpoint = ckpt)
    try {
      mem.addData((1 to 5).map(ev): _*)
      q.processAllAvailable()
      // source replay: 3..5 re-delivered alongside fresh 6..8
      mem.addData((3 to 8).map(ev): _*)
      q.processAllAvailable()
      val got = spark.read.parquet(path)
      assert(got.count() == 8, "replayed rows duplicated through the bloom guard")
      assert(got.select("event_id").as[Long].collect().sorted.toSeq ==
        (1L to 8L).toSeq)
      // the persistent guard exists and carries the stream's keys forward
      assert(graft.core.BloomSkipping.loadKeyBloom(spark, path).isDefined)
    } finally q.stop()
  }

  test("ewma across micro-batches ≡ batch w18_ewma, state capped at 7 taps") {
    implicit val sqlCtx = spark.sqlContext
    // 10 events for user 7 (forces the 8-tap cap to engage past event 8)
    // plus 2 for user 8, split mid-series so taps must carry across the
    // batch boundary
    val evs = (1 to 10).map(i => Ev(i.toLong, ts(i), 7L, "t", i * 1.5)) ++
      Seq(Ev(11L, ts(1), 8L, "t", 2.0), Ev(12L, ts(2), 8L, "t", 4.0))
    val mem = MemoryStream[Ev]
    val q = Streams.ewma(mem.toDS())
      .writeStream.format("memory").queryName("ewma").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 5): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 5): _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      // batch twin over the identical rows
      val dir = java.nio.file.Files.createTempDirectory("sewma").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("w18_ewma")(spark, dir)
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      // the 9th/10th events prove the cap: den saturates at 255
      assert(streamed.filter(r => r._1 == 7L && r._2 >= 9L).forall(_._5 == 255L))
    } finally q.stop()
  }

  test("drawdown across micro-batches ≡ batch w19_drawdown, state is one long per key") {
    implicit val sqlCtx = spark.sqlContext
    // a peak early (event 2), a deep trough later (event 5), recovery,
    // then a NEW higher peak — split mid-series so the running peak must
    // carry across the batch boundary; second user for key isolation
    val vals = Seq(3.0, 9.0, 4.0, 2.0, 0.5, 7.0, 11.0, 6.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i + 1L, ts(i + 1), 7L, "t", v)
    } ++ Seq(Ev(11L, ts(1), 8L, "t", 2.0), Ev(12L, ts(2), 8L, "t", 5.0))
    val mem = MemoryStream[Ev]
    val q = Streams.drawdown(mem.toDS())
      .writeStream.format("memory").queryName("sdd").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 4): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 4): _*)
      q.processAllAvailable()
      val streamed = spark.table("sdd")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // running columns ≡ the batch window computation over the same rows
      val dir = java.nio.file.Files.createTempDirectory("sdd").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val wRun = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val batchRun = graft.core.Graft.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          org.apache.spark.sql.functions.floor(col("value") * 100 +
            org.apache.spark.sql.functions.lit(0.5)).cast("long").as("cents"))
        .withColumn("peak", org.apache.spark.sql.functions.max("cents").over(wRun))
        .withColumn("dd", col("peak") - col("cents"))
        .drop("ts")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(streamed.toSet == batchRun.toSet,
        s"running columns diverged: stream ${streamed.size} vs batch ${batchRun.size}")
      // …and therefore the batch query's per-user PICK falls out of the
      // stream outputs: max dd, tie on the earlier event
      val pick = streamed.groupBy(_._1).map { case (u, rs) =>
        val best = rs.minBy(r => (-r._5, r._2))
        (u, best._5, best._4, best._2)
      }.toSet
      val batchPick = SparkEntry.queries("w19_drawdown")(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(pick == batchPick, s"pick diverged: $pick vs $batchPick")
    } finally q.stop()
  }

  test("cusum across micro-batches ≡ the batch window statistic, two longs of state") {
    implicit val sqlCtx = spark.sqlContext
    // a level shift upward mid-series (values jump at event 5) so the
    // statistic accumulates and alarms; split ACROSS the shift so both
    // prefix sum and running min must carry over the batch boundary
    val vals = Seq(2.0, 3.0, 1.0, 2.5, 9.0, 8.0, 10.0, 9.5)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i + 1L, ts(i + 1), 7L, "t", v)
    } ++ Seq(Ev(11L, ts(1), 8L, "t", 2.0), Ev(12L, ts(2), 8L, "t", 2.0))
    val refCents = 300L // monitored level: 3.00
    val mem = MemoryStream[Ev]
    val q = Streams.cusum(mem.toDS(), refCents, alarmAt = 500L)
      .writeStream.format("memory").queryName("scusum").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 5): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 5): _*)
      q.processAllAvailable()
      val streamed = spark.table("scusum")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      // identically-parameterized batch window program over the same rows
      val dir = java.nio.file.Files.createTempDirectory("scusum").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val wRun = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      import org.apache.spark.sql.functions.{floor => ffloor, lit => flit, min => fmin, sum => fsum}
      val batch = graft.core.Graft.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          ffloor(col("value") * 100 + flit(0.5)).cast("long").as("cents"))
        .withColumn("ps", fsum(col("cents") - flit(refCents)).over(wRun).cast("long"))
        .withColumn("cusum", col("ps") - fmin("ps").over(wRun))
        .withColumn("alarm", col("cusum") > 500L)
        .select("user_id", "event_id", "cents", "cusum", "alarm")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      // the shift is actually detected — otherwise the fixture proves nothing
      assert(streamed.exists(_._5), "expected at least one alarm")
    } finally q.stop()
  }

  test("bollinger across micro-batches ≡ the batch w22 window program") {
    implicit val sqlCtx = spark.sqlContext
    // a calm stretch then a spike (value 50 vs ~2-3) so the +2σ breakout
    // fires; split right before the spike so the 19-value lookback must
    // carry across the batch boundary. A second user proves key isolation.
    val vals = Seq(2.0, 3.0, 2.5, 2.0, 3.0, 2.5, 50.0, 2.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i + 1L, ts(i + 1), 7L, "t", v)
    } ++ Seq(Ev(11L, ts(1), 8L, "t", 2.0), Ev(12L, ts(2), 8L, "t", 2.0))
    val mem = MemoryStream[Ev]
    val q = Streams.bollinger(mem.toDS())
      .writeStream.format("memory").queryName("sboll").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 5): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 5): _*)
      q.processAllAvailable()
      val streamed = spark.table("sboll")
        .as[(Long, Long, Long, Long, Long, Option[Double], Int)].collect().toSet
      // identically-parameterized batch recompute (the w22_bollinger form)
      val dir = java.nio.file.Files.createTempDirectory("sboll").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("w22_bollinger")(spark, dir)
        .as[(Long, Long, Long, Long, Long, Option[Double], Int)].collect().toSet
      assert(streamed == batch, s"stream $streamed\nvs batch $batch")
      // the spike actually breaks out upward, and its successor re-arms
      assert(streamed.exists(_._7 == 1), "expected a +2σ breakout at the spike")
    } finally q.stop()
  }

  test("rsi across micro-batches ≡ the batch w23 window program") {
    implicit val sqlCtx = spark.sqlContext
    // 17 values for user 7: alternating moves then a rally, split so the
    // 13-delta deque must carry across the batch boundary (emissions
    // start at the 15th event). User 8 stays under warmup — no output.
    val vals = Seq(2.0, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0, 5.5, 7.0,
      6.5, 8.0, 7.5, 9.0, 8.5, 10.0, 12.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i + 1L, ts(i + 1), 7L, "t", v)
    } ++ Seq(Ev(21L, ts(1), 8L, "t", 2.0), Ev(22L, ts(2), 8L, "t", 3.0))
    val mem = MemoryStream[Ev]
    val q = Streams.rsi(mem.toDS())
      .writeStream.format("memory").queryName("srsi").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 10): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 10): _*)
      q.processAllAvailable()
      val streamed = spark.table("srsi")
        .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("srsi").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("w23_rsi")(spark, dir)
        .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
      assert(streamed == batch, s"stream $streamed\nvs batch $batch")
      assert(streamed.nonEmpty && streamed.forall(r => r._6.exists(v => v > 500000)),
        "the rally fixture should emit gain-dominated RSI rows")
    } finally q.stop()
  }

  test("lastTouch across micro-batches: per-channel rollup ≡ batch a48_attribution") {
    implicit val sqlCtx = spark.sqlContext
    // user 7: view → purchase (view credit), click → purchase (click),
    // purchase FIRST in a batch whose preceding touch arrived last batch
    // (carry), and user 8's leading purchase with no touch → organic
    val evs = Seq(
      Ev(1, ts(1), 7, "view", 10.0), Ev(2, ts(2), 7, "purchase", 5.0),
      Ev(3, ts(3), 7, "click", 1.0),
      Ev(4, ts(4), 7, "purchase", 7.0), Ev(5, ts(5), 7, "purchase", 3.0),
      Ev(6, ts(1), 8, "purchase", 9.0), Ev(7, ts(2), 8, "error", 1.0))
    val mem = MemoryStream[Ev]
    val q = Streams.lastTouch(mem.toDS())
      .writeStream.format("memory").queryName("stouch").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 3): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 3): _*)
      q.processAllAvailable()
      val streamed = spark.table("stouch")
        .groupBy(org.apache.spark.sql.functions.col("channel"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).cast("long").as("n_purchases"),
          org.apache.spark.sql.functions.sum("cents").cast("long").as("revenue_cents"))
        .as[(String, Long, Long)].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("stouch").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("a48_attribution")(spark, dir)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream $streamed\nvs batch $batch")
      assert(streamed.exists(_._1 == "organic"), "expected the organic bucket")
    } finally q.stop()
  }

  test("driftPsi closes once on the watermark; PSI ≡ the batch dq_psi arithmetic") {
    implicit val sqlCtx = spark.sqlContext
    // the driftTvd fixture exactly: ref buckets (20,20,0,...), W0 observes
    // 6 in bucket 0 and 2 in bucket 2, split across two batches
    val ref = Seq(20L, 20L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val winMs = 60L * 60000L
    val mem = MemoryStream[Ev]
    val q = Streams.driftPsi(mem.toDS(), ref, windowMs = winMs,
        watermarkAge = "0 seconds")
      .writeStream.format("memory").queryName("spsi").outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts(1), 1, "view", 5.0), Ev(2, ts(2), 1, "view", 15.0),
        Ev(3, ts(3), 2, "view", 5.0), Ev(4, ts(4), 2, "view", 45.0))
      q.processAllAvailable()
      mem.addData(
        Ev(5, ts(10), 1, "view", 5.0), Ev(6, ts(11), 1, "view", 5.0),
        Ev(7, ts(12), 2, "view", 5.0), Ev(8, ts(13), 2, "view", 50.0))
      q.processAllAvailable()
      assert(spark.table("spsi").count() == 0,
        "psi row emitted before the watermark closed the window")
      mem.addData(Ev(9, ts(125), 3, "view", 30.0))
      q.processAllAvailable()
      mem.addData(Ev(10, ts(126), 3, "view", 30.0))
      q.processAllAvailable()
      val rows = spark.table("spsi")
        .as[(Timestamp, Long, Double)].collect().toSeq
      assert(rows.size == 1, s"W0 should close exactly once: $rows")
      val (w0, nCur, psi) = rows.head
      assert(w0 == ts(0) && nCur == 8L, rows.toString)
      // independent recompute of the dq_psi arithmetic on the same counts:
      // smoothed cur = (7,1,3,1,...,1) t_cur=18, smoothed ref =
      // (21,21,1,...,1) t_ref=50, exact BigInt cross products over pinned
      // logs, the identical two-division tail
      val curS = Seq(7L, 1L, 3L) ++ Seq.fill(7)(1L)
      val refS = ref.map(_ + 1L)
      val (tCur, tRef) = (curS.sum, refS.sum)
      import graft.functions.PinnedLog.lnNanos
      val num = curS.indices.map { b =>
        (BigInt(curS(b)) * tRef - BigInt(refS(b)) * tCur) *
          (lnNanos(curS(b), 1L) + lnNanos(tRef, 1L)
            - lnNanos(refS(b), 1L) - lnNanos(tCur, 1L))
      }.sum
      val want = num.doubleValue / (tRef.toDouble * tCur.toDouble) / 1e9
      assert(psi == want, s"psi=$psi want=$want")
      assert(psi > 0.0, "a shifted window must score positive PSI")
      // the closed window never re-emits
      mem.addData(Ev(11, ts(127), 3, "view", 30.0))
      q.processAllAvailable()
      assert(spark.table("spsi").filter(col("window_start") === ts(0)).count() == 1,
        "closed window emitted twice")
    } finally q.stop()
  }

  test("rollingMedian across micro-batches ≡ batch w20_rolling_median") {
    implicit val sqlCtx = spark.sqlContext
    // 7 events for one user split mid-window (taps must carry across the
    // batch boundary), plus a second user for key isolation
    val evs = (1 to 7).map(i => Ev(i.toLong, ts(i), 7L, "t", (i * 7 % 5) + 1.0)) ++
      Seq(Ev(11L, ts(1), 8L, "t", 2.0))
    val mem = MemoryStream[Ev]
    val q = Streams.rollingMedian(mem.toDS())
      .writeStream.format("memory").queryName("rmed").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 3): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 3): _*)
      q.processAllAvailable()
      val streamed = spark.table("rmed")
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("srmed").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("w20_rolling_median")(spark, dir)
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("WAP admission stream: audited batches land once, a poison batch never lands") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.ManifestSnapshots
    val root = tmpDir("swap") + "/t"
    val ckpt = tmpDir("swapckpt")
    val mem = MemoryStream[Ev]
    def noNegatives(df: org.apache.spark.sql.DataFrame): Boolean =
      df.filter(col("value") < 0).isEmpty
    val q = Streams.foreachBatchWapAppend(
      mem.toDS().toDF(), root, ckpt, noNegatives)
    try {
      mem.addData(Ev(1, ts(1), 7, "t", 10.0), Ev(2, ts(2), 7, "t", 20.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(3), 7, "t", -5.0)) // poisoned batch
      q.processAllAvailable()
      mem.addData(Ev(4, ts(4), 8, "t", 40.0))
      q.processAllAvailable()
      val ids = ManifestSnapshots.readLatest(spark, root)
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L), s"poison leaked or rows lost: $ids")
      assert(ManifestSnapshots.branches(spark, root).isEmpty)
    } finally q.stop()
  }

  test("WAP admission replay: every crash window re-admits without duplicating") {
    import graft.core.ManifestSnapshots
    val root = tmpDir("swapreplay") + "/t"
    val good = Seq(Ev(1, ts(1), 7, "t", 10.0)).toDF()
    val ok = (_: org.apache.spark.sql.DataFrame) => true
    Streams.wapAdmitBatch(spark, root, 0L, good, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 1)
    // replay of a DECIDED id: ledger short-circuits, nothing lands twice
    Streams.wapAdmitBatch(spark, root, 0L, good, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 1)
    // crash after stage, before publish: the marker's CONTENT is admitted
    val b1 = Seq(Ev(2, ts(2), 7, "t", 20.0)).toDF()
    ManifestSnapshots.stageBranch(spark, root, "wapb-1", b1)
    Streams.wapAdmitBatch(spark, root, 1L, b1, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 2)
    assert(ManifestSnapshots.branches(spark, root).isEmpty)
    // crash after publish, before the ledger write (marker kept — the
    // admission flow's publish order): the subset probe detects the
    // landed rows and repairs the ledger instead of re-publishing
    val b2 = Seq(Ev(3, ts(3), 7, "t", 30.0)).toDF()
    ManifestSnapshots.stageBranch(spark, root, "wapb-2", b2)
    ManifestSnapshots.publishBranch(spark, root, "wapb-2", dropMarker = false)
    Streams.wapAdmitBatch(spark, root, 2L, b2, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 3,
      "publish-then-crash window must not duplicate")
    assert(ManifestSnapshots.branches(spark, root).isEmpty,
      "replay must drop the crash-surviving marker")
    // and the ledger now guards the id: a further replay is a no-op
    Streams.wapAdmitBatch(spark, root, 2L, b2, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 3)
  }

  test("WAP replay after a post-publish rewrite repairs the ledger, never re-publishes") {
    import graft.core.ManifestSnapshots
    val root = tmpDir("swapcompact") + "/t"
    val ok = (_: org.apache.spark.sql.DataFrame) => true
    Streams.wapAdmitBatch(spark, root, 0L,
      Seq(Ev(1, ts(1), 7, "t", 10.0)).toDF(), ok)
    // crash window: batch 1 published, ledger not yet written — and an
    // OPTIMIZE compacted the staged files out of head before the replay.
    // The r15 subset-of-head probe saw "not landed" here and re-published
    // the staged rows (silent duplicates); the manifest-history walk
    // proves the publish from the compacted-away version's manifest
    val b1 = Seq(Ev(2, ts(2), 7, "t", 20.0)).toDF()
    ManifestSnapshots.stageBranch(spark, root, "wapb-1", b1)
    ManifestSnapshots.publishBranch(spark, root, "wapb-1", dropMarker = false)
    ManifestSnapshots.compactData(spark, root)
    val staged = ManifestSnapshots.branchInfo(spark, root, "wapb-1").get._2
      .map(_.path).toSet
    val head = ManifestSnapshots.latestVersion(spark, root).get
    assert(!ManifestSnapshots.entriesOf(spark, root, head)
      .exists(e => staged(e.path)),
      "setup: compaction should have rewritten every staged path")
    Streams.wapAdmitBatch(spark, root, 1L, b1, ok)
    val ids = ManifestSnapshots.readLatest(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"replay duplicated or lost rows: $ids")
    assert(ManifestSnapshots.branches(spark, root).isEmpty,
      "replay must drop the crash-surviving marker after the ledger repair")
    // the repaired ledger short-circuits any further replay
    Streams.wapAdmitBatch(spark, root, 1L, b1, ok)
    assert(ManifestSnapshots.readLatest(spark, root).count() == 2)
  }

  test("WAP replay with vacuumed publish evidence fails loudly, not silently") {
    import graft.core.ManifestSnapshots
    val root = tmpDir("swapvacd") + "/t"
    val ok = (_: org.apache.spark.sql.DataFrame) => true
    Streams.wapAdmitBatch(spark, root, 0L,
      Seq(Ev(1, ts(1), 7, "t", 10.0)).toDF(), ok)
    val b1 = Seq(Ev(2, ts(2), 7, "t", 20.0)).toDF()
    ManifestSnapshots.stageBranch(spark, root, "wapb-1", b1)
    ManifestSnapshots.publishBranch(spark, root, "wapb-1", dropMarker = false)
    ManifestSnapshots.compactData(spark, root)
    // the slot that proved the publish is gone: "did it land?" is now
    // unanswerable — admission must refuse to guess (publish ⇒ possible
    // duplicates, drop ⇒ possible loss) and fail the stream loudly
    val parent = ManifestSnapshots.branchInfo(spark, root, "wapb-1").get._1
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(
      s"$root/manifests/m-${parent + 1}.json"), false)
    val e = intercept[IllegalStateException] {
      Streams.wapAdmitBatch(spark, root, 1L, b1, ok)
    }
    assert(e.getMessage.contains("AMBIGUOUS"), e.getMessage)
    // nothing was decided: the marker survives for the operator
    assert(ManifestSnapshots.branches(spark, root).map(_._1) == Seq("wapb-1"))
  }

  test("WAP admission self-heals a concurrent-writer conflict via rebase") {
    import graft.core.ManifestSnapshots
    val root = tmpDir("swapconf") + "/t"
    val ok = (_: org.apache.spark.sql.DataFrame) => true
    Streams.wapAdmitBatch(spark, root, 0L,
      Seq(Ev(1, ts(1), 7, "t", 10.0)).toDF(), ok)
    // crash shape: batch 1 staged, then an EXTERNAL writer commits before
    // the replay publishes — the admission must rebase and land, never
    // fail the stream or duplicate
    ManifestSnapshots.stageBranch(spark, root, "wapb-1",
      Seq(Ev(2, ts(2), 7, "t", 20.0)).toDF())
    ManifestSnapshots.appendDelta(
      Seq(Ev(3, ts(3), 8, "t", 30.0)).toDF(), root)
    Streams.wapAdmitBatch(spark, root, 1L,
      Seq(Ev(2, ts(2), 7, "t", 20.0)).toDF(), ok)
    val ids = ManifestSnapshots.readLatest(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"conflict lost or duplicated rows: $ids")
    assert(ManifestSnapshots.branches(spark, root).isEmpty)
  }

  test("ewma with a NULL-ts event in the first micro-batch ≡ batch w18_ewma") {
    implicit val sqlCtx = spark.sqlContext
    // user 7's NULL-ts event has the LARGEST event_id of its batch, so only
    // a NULLS FIRST sort (the batch ORDER BY ts, event_id) folds it first
    val evs = Seq(Ev(1, ts(1), 7, "t", 1.5), Ev(2, ts(2), 7, "t", 3.0),
      Ev(3, null, 7, "t", 9.0), Ev(4, ts(1), 8, "t", 2.0),
      Ev(5, ts(3), 7, "t", 4.5), Ev(6, ts(2), 8, "t", 6.0))
    val mem = MemoryStream[Ev]
    val q = Streams.ewma(mem.toDS())
      .writeStream.format("memory").queryName("ewma_nullts").outputMode("append").start()
    try {
      mem.addData(evs.filter(_.event_id <= 4): _*)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id > 4): _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma_nullts")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("sewma-null").toString
      evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("w18_ewma")(spark, dir)
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"stream $streamed\nvs batch $batch")
      // the NULL-ts event opened user 7's series: it carries no lag
      assert(streamed.exists(r => r._2 == 3L && r._5 == 128L), streamed.toString)
    } finally q.stop()
  }

  /** Runs `out` (a query over `mem`) across a restart: a first query
    * processes `batches.head` and stops, a fresh query on the same
    * checkpoint processes the rest, one micro-batch each. Rows land in a
    * parquet file sink, which (unlike the memory sink) outlives a query. */
  private def acrossRestart(mem: MemoryStream[Ev], out: org.apache.spark.sql.Dataset[_],
      batches: Seq[Seq[Ev]]): org.apache.spark.sql.DataFrame = {
    val dir = tmpDir("srestart")
    def start() = out.writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ck").option("path", s"$dir/out")
      .outputMode("append").start()
    val first = start()
    try { mem.addData(batches.head: _*); first.processAllAvailable() }
    finally first.stop()
    val resumed = start()
    try batches.tail.foreach { b => mem.addData(b: _*); resumed.processAllAvailable() }
    finally resumed.stop()
    spark.read.parquet(s"$dir/out")
  }

  test("rsi resumes its deltas from the checkpoint: restarted stream ≡ batch w23_rsi") {
    implicit val sqlCtx = spark.sqlContext
    // the rsi fixture: user 7's first 10 events go to the first query, so
    // its prev cents and 9 deltas must come back from the state store
    // before the resumed query can emit (emissions start at event 15)
    val vals = Seq(2.0, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0, 5.5, 7.0,
      6.5, 8.0, 7.5, 9.0, 8.5, 10.0, 12.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Ev(i + 1L, ts(i + 1), 7L, "t", v)
    } ++ Seq(Ev(21L, ts(1), 8L, "t", 2.0), Ev(22L, ts(2), 8L, "t", 3.0))
    val mem = MemoryStream[Ev]
    val streamed = acrossRestart(mem, Streams.rsi(mem.toDS()),
        Seq(evs.filter(_.event_id <= 10), evs.filter(_.event_id > 10)))
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
    val dir = tmpDir("srsi-restart")
    evs.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("w23_rsi")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(streamed.nonEmpty && streamed == batch, s"stream $streamed\nvs batch $batch")
  }

  test("driftPsi resumes an open window and its timeout from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    // the driftPsi fixture: W0's first half goes to the first query, so
    // the open histogram and the watermark come back from the checkpoint
    val ref = Seq(20L, 20L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val mem = MemoryStream[Ev]
    val rows = acrossRestart(mem, Streams.driftPsi(mem.toDS(), ref,
        windowMs = 60L * 60000L, watermarkAge = "0 seconds"), Seq(
      Seq(Ev(1, ts(1), 1, "view", 5.0), Ev(2, ts(2), 1, "view", 15.0),
        Ev(3, ts(3), 2, "view", 5.0), Ev(4, ts(4), 2, "view", 45.0)),
      Seq(Ev(5, ts(10), 1, "view", 5.0), Ev(6, ts(11), 1, "view", 5.0),
        Ev(7, ts(12), 2, "view", 5.0), Ev(8, ts(13), 2, "view", 50.0)),
      Seq(Ev(9, ts(125), 3, "view", 30.0)),
      Seq(Ev(10, ts(126), 3, "view", 30.0))))
      .as[(Timestamp, Long, Double)].collect().toSeq
    assert(rows.size == 1, s"W0 should close exactly once: $rows")
    val (w0, nCur, psi) = rows.head
    assert(w0 == ts(0) && nCur == 8L, rows.toString)
    // the driftPsi case's recompute: smoothed cur (7,1,3,1,...,1) against
    // smoothed ref (21,21,1,...,1)
    val curS = Seq(7L, 1L, 3L) ++ Seq.fill(7)(1L)
    val refS = ref.map(_ + 1L)
    val (tCur, tRef) = (curS.sum, refS.sum)
    import graft.functions.PinnedLog.lnNanos
    val num = curS.indices.map { b =>
      (BigInt(curS(b)) * tRef - BigInt(refS(b)) * tCur) *
        (lnNanos(curS(b), 1L) + lnNanos(tRef, 1L)
          - lnNanos(refS(b), 1L) - lnNanos(tCur, 1L))
    }.sum
    assert(psi == num.doubleValue / (tRef.toDouble * tCur.toDouble) / 1e9, s"psi=$psi")
  }

  test("keyed-twin and drift state encoders keep their state-store schemas") {
    import org.apache.spark.sql.Encoders.product
    // a changed state schema makes every existing checkpoint unreadable
    val schemas = Map(
      "EwmaState" -> product[Streams.EwmaState].schema.toDDL,
      "DdState" -> product[Streams.DdState].schema.toDDL,
      "CusumState" -> product[Streams.CusumState].schema.toDDL,
      "MedState" -> product[Streams.MedState].schema.toDDL,
      "BollState" -> product[Streams.BollState].schema.toDDL,
      "RsiState" -> product[Streams.RsiState].schema.toDDL,
      "TouchState" -> product[Streams.TouchState].schema.toDDL,
      "DriftCounts" -> product[Streams.DriftCounts].schema.toDDL)
    assert(schemas == Map(
      "EwmaState" -> "recent ARRAY<BIGINT>",
      "DdState" -> "peak BIGINT NOT NULL",
      "CusumState" -> "ps BIGINT NOT NULL,minPs BIGINT NOT NULL",
      "MedState" -> "recent ARRAY<BIGINT>",
      "BollState" -> "recent ARRAY<BIGINT>",
      "RsiState" -> "prevCents BIGINT NOT NULL,deltas ARRAY<BIGINT>",
      "TouchState" -> "channel STRING",
      "DriftCounts" -> "counts ARRAY<BIGINT>"))
  }
}
