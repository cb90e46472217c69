package graft.streaming

import graft.core.{Lakehouse, ManifestSnapshots}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** The reference's hand-rolled micro-batch pattern (5-minute Airflow cadence
  * + monotonic watermark + dedup-on-insert anti-joins + incremental state
  * merge — SURVEY.md §2.9) expressed as Structured Streaming.
  *
  * Most entry points are one of three shapes, each built ONCE below:
  *  - keyed twins ([[ewma]], [[drawdown]], [[cusum]], [[rollingMedian]],
  *    [[bollinger]], [[rsi]], [[lastTouch]]) go through `keyedFold`:
  *    per-user state carried across micro-batches — the incremental
  *    features MERGE (A7) — with each twin supplying only its per-event
  *    step over integer cents (`cents`, the batch twins'
  *    floor(value * 100 + 0.5));
  *  - closed-window histograms ([[driftTvd]], [[driftPsi]]) go through
  *    `windowHistogram`: one 10-bucket histogram per open event-time
  *    window, scored once when the watermark closes it;
  *  - sinks (the `foreachBatch*` family, [[documentAdmission]],
  *    [[servingStoreIngestion]]) go through `sink`: each micro-batch runs
  *    the lake primitive the batch path runs ([[Lakehouse.mergeUpsert]],
  *    [[Lakehouse.antiJoinAppend]], the view/store refreshes), so batch
  *    and streaming share one implementation.
  * The rest are single operators: watermarked dedup
  * ([[dedupedWindowedAgg]]), sessionization, the funnel, stream-stream
  * joins, staleness alerts and the KMV/HLL/CMS sketches.
  *
  * Ordering contract of the keyed twins: micro-batch iterators are
  * unsorted, so each user's events are sorted by (ts, event_id) — NULL ts
  * first, as the batch twins' `ORDER BY ts, event_id` sorts them — before
  * the fold. Stream ≡ batch parity holds for in-order feeds: an event that
  * arrives in a later micro-batch than a newer event of its user is folded
  * after it.
  */
object Streams {

  /** One event row as the stream sees it. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Per-user balance state carried across micro-batches. */
  case class BalanceState(balance: Double, n_events: Long)
  case class UserBalance(user_id: Long, balance: Double, n_events: Long)

  /** Watermarked, deduplicated, windowed aggregation — the streaming face of
    * the stage-layer dedup + hourly rollup. State for the dedup is bounded
    * by the watermark horizon. */
  def dedupedWindowedAgg(events: DataFrame, watermarkAge: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkAge)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(
        sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("user_id"),
        col("total_value"), col("n_events"))

  /** The signed-balance recurrence (W3/A7) as keyed streaming state: each
    * micro-batch folds its events into the stored per-user balance — the
    * exact semantics of the reference's incremental MERGE, with Spark
    * managing the state store instead of an Iceberg table. */
  def runningBalance(events: Dataset[Ev]): Dataset[UserBalance] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[Ev], state: GroupState[BalanceState]) => {
          val prev = state.getOption.getOrElse(BalanceState(0.0, 0L))
          val next = evs.foldLeft(prev) { (acc, e) =>
            val delta = e.event_type match {
              case "purchase" => e.value
              case "error"    => -e.value
              case _          => 0.0
            }
            BalanceState(acc.balance + delta, acc.n_events + 1)
          }
          state.update(next)
          UserBalance(userId, next.balance, next.n_events)
        })
  }

  /** One closed activity session. */
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)
  /** Open-session state in the state store (public: the state encoder's
    * generated code needs constructor access). */
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** Gap-based sessionization via flatMapGroupsWithState + event-time
    * timeout — the streaming API surface the simpler state ops can't reach:
    * a per-user session stays OPEN in the state store while events keep
    * arriving within `gap`, closes (and emits) either when a later event
    * leaves a gap inside a batch, or when the WATERMARK passes
    * last_event + gap and the timeout fires with no new data. State is
    * bounded by the number of concurrently-open sessions, never by history.
    * At 100 TB/day this is the wallet-activity-burst summarizer: the
    * output unit a risk model consumes (bursts, not raw events). */
  def sessionize(events: Dataset[Ev], gapMs: Long = 1800000L,
      watermarkAge: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def close(uid: Long, s: SessionState): SessionOut =
      SessionOut(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.lastTs), s.n, s.total)
    events
      .withWatermark("ts", watermarkAge)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last_event + gap with no new events
            val done = close(uid, state.get)
            state.remove()
            Iterator(done)
          } else {
            // micro-batch iterators are NOT time-ordered — sort before folding
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t < s.start - gapMs =>
                  // STALE in-watermark event: gap-disjoint from the open
                  // session's whole hull on the EARLY side — a sorted batch
                  // sessionization would have closed it into an earlier
                  // session, so merging it here would corrupt the open
                  // session's start. Emit it as its own closed session and
                  // leave the open session untouched. Residual divergence:
                  // two stale events within a gap of EACH OTHER emit as two
                  // singletons (state holds one open session) where batch
                  // would pair them — bounded to that corner, vs swallowing
                  // every stale event into the wrong session.
                  closed += close(uid, SessionState(t, t, 1, e.value))
                case Some(s) if t - s.lastTs <= gapMs =>
                  // LATE event (in-watermark, earlier micro-batch carried a
                  // newer one): extend the session's hull, never REGRESS
                  // lastTs/start — a regressed lastTs would wrongly split
                  // the session at the next on-time event and emit
                  // end < start (the sort only orders within one batch)
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.lastTs, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += close(uid, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
        })
  }

  /** One transaction / one receipt as their streams see them. */
  case class Tx(tx_hash: String, ts: java.sql.Timestamp, wallet: String,
      amount: Double)
  case class Receipt(r_hash: String, r_ts: java.sql.Timestamp, status: Int,
      gas_used: Long)

  /** Stream-stream watermarked interval join — the raw layer's
    * transactions⋈receipts merge (J1, raw_data_ingestion_pipeline.py:142-172)
    * when both feeds are live streams instead of staged batches.
    *
    * The event-time bound (`r_ts` within [ts, ts + window]) plus watermarks
    * on BOTH inputs is what makes the join's state finite: each side
    * buffers only rows younger than the watermark horizon, so state is
    * O(arrival rate x window), never O(history) — the property that lets
    * this run forever at 100 TB/day.
    *
    * Documented deviation: the reference's batch merge is an INNER join
    * keyed on (hash, block_number) (raw_data_ingestion_pipeline.py:142-172
    * merges how='inner'), dropping unreceipted txs. The default here
    * intentionally extends that to left-outer — a tx whose receipt the
    * watermark proves can no longer arrive emits with NULL receipt columns
    * instead of vanishing, which is the operationally useful signal in a
    * live feed (a dropped row is indistinguishable from lag). Pass
    * `joinType = "inner"` for the reference's exact semantics; the stream
    * key omits block_number because the receipt feed's hash is already
    * unique within the join window. */
  def txWithReceipts(tx: DataFrame, receipts: DataFrame,
      watermarkAge: String = "1 hour", window: String = "30 minutes",
      joinType: String = "leftOuter"): DataFrame =
    tx.withWatermark("ts", watermarkAge)
      .join(receipts.withWatermark("r_ts", watermarkAge),
        expr(s"r_hash = tx_hash AND r_ts >= ts AND r_ts <= ts + interval $window"),
        joinType)
      .select(col("tx_hash"), col("ts"), col("wallet"), col("amount"),
        col("status").as("receipt_status"),
        col("gas_used").as("receipt_gas_used"))

  /** The DOMAIN raw merge (J1) as a stream-stream join: the exporter's
    * transactions and receipts feeds live, producing exactly
    * [[graft.pipeline.RawIngestion.transactionsWithReceipts]]'s output —
    * INNER join on (hash, block_number), receipt_ prefix renames,
    * date_partition — the reference's merge semantics
    * (raw_data_ingestion_pipeline.py:142-172) with both sides streaming.
    *
    * Event time is the block timestamp (epoch seconds) on BOTH feeds: a
    * receipt belongs to a block whose header the exporter holds when it
    * emits, so attaching `block_timestamp` to receipt messages is free.
    * Watermarks plus the tight range bound (a receipt's block time equals
    * its transaction's; `slack` only tolerates exporter clock skew) keep
    * the join state finite — O(arrival rate × slack), never O(chain
    * history). */
  def domainTxWithReceipts(transactions: DataFrame, receipts: DataFrame,
      watermarkAge: String = "1 hour", slack: String = "15 minutes"): DataFrame = {
    val tx = transactions
      .withColumn("tx_evt", timestamp_seconds(col("block_timestamp")))
      .withWatermark("tx_evt", watermarkAge)
    val rc = graft.pipeline.RawIngestion.renamedReceipts(
        receipts.withColumn("r_evt", timestamp_seconds(col("block_timestamp")))
          .drop("block_timestamp"),
        extraCols = Seq("r_evt"))
      .withWatermark("r_evt", watermarkAge)
    tx.join(rc,
        col("hash") === col("transaction_hash") &&
          col("block_number") === col("r_block_number") &&
          col("r_evt") >= col("tx_evt") &&
          col("r_evt") <= col("tx_evt") + expr(s"interval $slack"),
        "inner")
      .drop("transaction_hash", "r_block_number", "r_evt", "tx_evt")
      .withColumn("date_partition",
        graft.pipeline.RawIngestion.datePartition(col("block_timestamp")))
  }

  /** The sinks' one stream writer: every micro-batch, with its batch id, goes
    * to `f` under `checkpoint`. Emptiness guards stay in each `f` — the
    * view-maintenance sinks deliberately refresh outside theirs. */
  private def sink(stream: DataFrame, checkpoint: String,
      mode: OutputMode = OutputMode.Append())(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
      .start()

  /** Sink for the raw layer: anti-join-guarded APPEND of each micro-batch
    * — streaming and batch share [[Lakehouse.antiJoinAppend]] (S6), so a
    * re-delivered row (source replay, checkpoint recovery) lands exactly
    * once, identical to the batch ingester's guard. */
  def foreachBatchRawAppend(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      checkpoint: String): StreamingQuery =
    sink(stream, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        Lakehouse.antiJoinAppend(batch.sparkSession, batch, path, keys, partitionCols)
    }

  /** [[foreachBatchRawAppend]] behind the persistent key-set Bloom guard
    * ([[Lakehouse.antiJoinAppendBloomGuarded]]): the replay guard stops
    * scanning the store per micro-batch — a mostly-new batch proves
    * itself fresh AT THE SCAN via the whole-table key bloom, and only
    * probable duplicates pay the exact anti join. The guard's bloom-first
    * commit order composes with checkpoint recovery: a batch replayed
    * after a crash between guard write and data append routes through
    * the exact check (the guard ran ahead — false positives only) and
    * still lands exactly once. */
  def foreachBatchBloomGuardedAppend(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      checkpoint: String): StreamingQuery =
    sink(stream, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        Lakehouse.antiJoinAppendBloomGuarded(
          batch.sparkSession, batch, path, keys, partitionCols)
    }

  /** Streaming corpus admission — the training-data pipeline's ingest
    * gate as a stream: each micro-batch of documents dedups against the
    * PERSISTED MinHash index ([[graft.pipeline.DedupStore]]); only
    * admitted docs land in the corpus table, and their signatures fold
    * into the index so the NEXT batch dedups against them too. Per-batch
    * cost is O(batch) — sign the batch, bucket-join the stored band index,
    * verify candidates — never a corpus re-scan, so the stream can run
    * forever over a growing corpus.
    *
    * Id contract (the same watermark ordering the batch form relies on):
    * doc_ids are monotone across batches, so "stored partner" means any
    * id below the batch's minimum. */
  def documentAdmission(
      docs: DataFrame,
      root: String,
      corpusPath: String,
      checkpoint: String): StreamingQuery =
    sink(docs, checkpoint) { (batch0, _) =>
      if (!batch0.isEmpty) {
        val spark = batch0.sparkSession
        // intra-batch duplicate guard: the same doc delivered twice in
        // one micro-batch would multiply through the kept join (2x2
        // rows) and land duplicate signature rows — the exact
        // inflation hazard the admission exists to prevent (the serving
        // stores' admission guards identically). NULL doc_ids drop up
        // front: a doc without identity cannot be admitted, deduped,
        // or replay-guarded, and letting one through would NPE the
        // min() watermark below and kill the query on one malformed
        // upstream batch (the HLL twin's null-hash skip is the same
        // discipline).
        val batch = batch0.filter(col("doc_id").isNotNull)
          .dropDuplicates("doc_id").persist()
        try if (!batch.isEmpty) {
          import graft.pipeline.DedupStore
          // bootstrap an empty index on the very first batch
          DedupStore.ensureBuilt(spark, root, batch.filter(lit(false)))
          val cut = batch.agg(min("doc_id")).head.getLong(0)
          val verdicts = DedupStore.admit(spark, root, batch, cut)
          try {
            val admitted = verdicts.filter(col("admitted")).select("doc_id")
            val kept = batch.join(admitted, "doc_id")
            // replay safety (checkpoint recovery re-delivers a batch): the
            // corpus append anti-joins on doc_id, and only ids not already
            // in the index re-sign — a replayed batch is a no-op. A
            // duplicated signature row would silently INFLATE later
            // admission counts (the verify join multiplies per shingle
            // row), so index idempotence is correctness, not hygiene.
            Lakehouse.antiJoinAppend(spark, kept, corpusPath, Seq("doc_id"), Nil)
            val alreadyIndexed = spark.table(DedupStore.shinglesTable(root))
              .select("doc_id")
            DedupStore.appendAdmitted(spark, root,
              kept.join(alreadyIndexed, Seq("doc_id"), "left_anti"))
          // release admit's per-batch verdict cache — a forever-running
          // stream must not grow storage memory by one cache per batch
          } finally verdicts.unpersist()
        } finally batch.unpersist()
      }
    }

  /** Streaming ingestion into ANY serving store through the unified
    * lifecycle ([[graft.pipeline.ServingStore.ingestBatch]]): bootstrap on
    * the first micro-batch, replay-safe O(batch) admission afterwards, and
    * the store's maintenance trigger checked INSIDE every batch — which is
    * what makes this safe to leave running forever: foreachBatch is
    * at-least-once (checkpoint recovery re-delivers), and the lifecycle's
    * admission discipline (intra-batch dropDuplicates + stored-key anti
    * join) turns that into effectively-exactly-once index state, while a
    * store whose cost shape decays under appends (the ANN store's codebook
    * drift) retrains itself mid-stream instead of waiting for an operator.
    *
    * This is the generic form of [[documentAdmission]] (which adds corpus
    * admission POLICY on top of the dedup store). For the text-index store
    * it is the live twin of [[graft.pipeline.TextIndexStore.appendDocuments]]:
    * a replayed document never double-counts its term frequencies, and
    * stats left stale by a crash between the postings and stats writes
    * are repaired on the next read. For the ANN store it is the streaming
    * twin of [[graft.pipeline.VectorPipeline.ingest]] at the default drift
    * thresholds — a vector stream keeps a probe-ready IVF index current,
    * retrains included, with no batch scheduler in the loop. */
  def servingStoreIngestion(
      store: graft.pipeline.ServingStore,
      batches: DataFrame,
      root: String,
      checkpoint: String): StreamingQuery =
    sink(batches, checkpoint) { (batch, _) =>
      if (!batch.isEmpty) store.ingestBatch(batch.sparkSession, root, batch): Unit
    }

  /** Funnel state / output for [[funnelProgress]]. Times are epoch millis;
    * -1 encodes "not reached" (Option[Long] in state costs an extra object
    * per field in the state encoder for no benefit at this width). */
  case class FunnelState(t1: Long, t2: Long, t3: Long,
      minClick: Long, minPurchase: Long)
  case class FunnelOut(user_id: Long, stage: Int, ts: java.sql.Timestamp)

  /** Streaming conversion funnel — the streaming twin of batch `a23_funnel`:
    * per user, stage k completes at the FIRST qualifying event strictly
    * after stage k-1, and completion emits ONCE (Append mode), the row a
    * downstream alerting/feature sink consumes.
    *
    * Ordering contract (the part a batch MIN can ignore): micro-batch
    * iterators are unsorted, so each batch sorts by (ts, event_id) before
    * folding — in-order and intra-batch-disordered streams reproduce the
    * batch funnel exactly. Cross-batch disorder inside the watermark is
    * absorbed via two extra state fields: the globally smallest click and
    * purchase ever seen. A LATE view that moves t1 earlier re-qualifies the
    * stored global-min click (and transitively the purchase), so the common
    * reordering (view delayed past its click) still converges to the batch
    * answer. Residual divergence, documented: a click that was ineligible
    * at arrival (≤ the then-current t1) and is NOT the global minimum is
    * not reconstructible from bounded state — if a later view re-qualifies
    * that region, the stream may report a later stage-2 time than a batch
    * recompute. Stage times already emitted are never retracted (Append).
    * State is 5 longs per user — bounded by the user population, like the
    * batch query's own output. */
  def funnelProgress(events: Dataset[Ev],
      watermarkAge: String = "1 hour"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val NA = Long.MaxValue
    def mn(a: Long, b: Long) = math.min(a, b)
    events
      .withWatermark("ts", watermarkAge)
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[FunnelState]) => {
          val before = state.getOption.getOrElse(FunnelState(NA, NA, NA, NA, NA))
          var s = before
          // micro-batch iterators are NOT time-ordered — sort before folding
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          sorted.foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view" => s = s.copy(t1 = mn(s.t1, t))
              case "click" =>
                s = s.copy(minClick = mn(s.minClick, t))
                if (s.t1 < t) s = s.copy(t2 = mn(s.t2, t))
              case _ =>
                s = s.copy(minPurchase = mn(s.minPurchase, t))
                if (s.t2 < t) s = s.copy(t3 = mn(s.t3, t))
            }
          }
          // re-qualification after the fold: a late view (t1 moved earlier)
          // can make the stored global-min click eligible, and a lowered t2
          // can make the stored global-min purchase eligible
          if (s.t1 < s.minClick) s = s.copy(t2 = mn(s.t2, s.minClick))
          if (s.t2 < s.minPurchase) s = s.copy(t3 = mn(s.t3, s.minPurchase))
          state.update(s)
          def emit(stage: Int, prev: Long, cur: Long): Option[FunnelOut] =
            if (prev == NA && cur != NA)
              Some(FunnelOut(uid, stage, new java.sql.Timestamp(cur))) else None
          (emit(1, before.t1, s.t1) ++ emit(2, before.t2, s.t2) ++
            emit(3, before.t3, s.t3)).iterator
        })
  }

  /** KMV sketch entry / state / output for [[kmvDistinct]]. Public: the
    * state encoder's generated code needs constructor access. */
  case class KmvEntry(h: String, seg: String)
  case class KmvState(entries: List[KmvEntry])
  case class KmvOut(source: String, n_min: Long, est_distinct: Double)

  /** Streaming KMV distinct-count sketch — the streaming twin of batch
    * `a11_kmv`: per-source running estimate of the distinct-shingle count,
    * carried across micro-batches as the k smallest (md5, shingle) pairs.
    *
    * The scale property the batch comment claims, demonstrated live: the
    * sketch is MERGEABLE, so per-key state is bounded at k rows FOREVER —
    * a running COUNT(DISTINCT) would keep every distinct value in the
    * state store and grow without bound at 100 TB/day. Estimator identical
    * to the batch form ((k−1)/frac(h_k), one IEEE division at the end), so
    * the stream's final answer equals the batch query over the same rows
    * bit-for-bit (StreamingSpec proves it). */
  def kmvDistinct(docs: DataFrame, k: Int = 64): Dataset[KmvOut] = {
    import docs.sparkSession.implicits._
    val segs = docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("source"), explode(graft.queries.DedupQueries.shinglesExpr).as("seg"))
      .withColumn("h", md5(col("seg")))
      .select(col("source"), col("h"), col("seg")).as[(String, String, String)]
    segs
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, String, String)],
            state: GroupState[KmvState]) => {
          val prev = state.getOption.map(_.entries).getOrElse(Nil)
          val merged = (prev.iterator ++ rows.map(r => KmvEntry(r._2, r._3)))
            .toList.distinct.sortBy(e => (e.h, e.seg)).take(k)
          state.update(KmvState(merged))
          val n = merged.size.toLong
          val est =
            if (n < k) n.toDouble
            else {
              // first 48 bits of the kth smallest hash, exactly as batch
              val kth = hex48(merged.last.h)
              (k - 1).toDouble * 281474976710656.0 / kth
            }
          KmvOut(src, n, est)
        })
  }

  /** HLL register state / output for [[hllDistinct]]. Public: the state
    * encoder's generated code needs constructor access. */
  case class HllState(regs: Array[Int])
  case class HllOut(event_type: String, v_empty: Long, est_distinct: Double)

  /** Streaming HyperLogLog — the streaming twin of batch `a15_hll`:
    * per-key running distinct estimate carried as m=64 six-bit registers.
    *
    * Where the KMV twin's state is k ROWS, the HLL twin's is a FIXED
    * 64-int array per key forever — register-wise MAX is the merge, so
    * state size is independent of both cardinality and batch count (the
    * strongest possible bound; a running COUNT(DISTINCT) grows without
    * bound). The estimator pipeline is byte-identical to the batch form:
    * 48-bit md5 prefix, register = low 6 bits, rho from the remaining 42,
    * scaled-BIGINT harmonic sum, the same ln(m/V) linear-counting
    * correction — so the stream's running answer over the rows seen so
    * far equals the batch query over those rows bit-for-bit
    * (StreamingSpec proves it against an independent oracle). */
  def hllDistinct(events: DataFrame): Dataset[HllOut] = {
    import events.sparkSession.implicits._
    val hashed = events
      .select(col("event_type"),
        md5(concat(lit("hll:"), col("user_id").cast("string"))).as("h"))
      .as[(String, String)]
    hashed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, String)],
            state: GroupState[HllState]) => {
          val regs = state.getOption.map(_.regs.clone()).getOrElse(new Array[Int](64))
          // a NULL user_id hashes to a NULL hex (md5 of null propagates):
          // skip it like the batch twin's SQL null propagation does — an
          // NPE here would kill the whole streaming query on one bad row
          rows.foreach { case (_, hex) => if (hex != null) {
            val hv = hex48(hex)
            val reg = (hv % 64).toInt
            val q = hv / 64
            val rho = if (q == 0) 43 else 43 - java.lang.Long.toBinaryString(q).length
            if (rho > regs(reg)) regs(reg) = rho
          } }
          state.update(HllState(regs))
          val vEmpty = regs.count(_ == 0).toLong
          val denom = regs.map(mj => 1L << (43 - mj)).sum
          val raw = 0.709 * 4096 * 8796093022208L / denom
          val est =
            if (vEmpty > 0 && raw <= 160.0) 64 * math.log(64.0 / vEmpty) else raw
          HllOut(key, vEmpty, est)
        })
  }

  /** First 48 bits of an md5 hex string as a Long — ONE home for the
    * hex12 fold both sketch twins (KMV, HLL) must keep bit-identical to
    * the batch queries' SQL form. */
  private def hex48(h: String): Long =
    h.take(12).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))

  /** Count-Min cell for (salt, word) — md5-prefix bucketing IDENTICAL to
    * the batch a13_cm grid (salts 1 and 2; first two hex chars as the
    * 0..255 column = the digest's FIRST BYTE, computed directly), so
    * stream and batch estimates reconcile exactly over the same rows.
    * One home for both sketch variants. Runs up to 4× per row in the
    * state-function hot loop, so the digest instance is thread-local and
    * no hex string is ever built. */
  private val cmsMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private def cmsBucket(salt: Int, w: String): Int = {
    val md = cmsMd5.get()
    md.reset()
    md.digest(s"$salt:$w".getBytes("UTF-8"))(0) & 0xff
  }

  /** Count one `w` into the d=2 x w=256 grid — both CMS variants. */
  private def cmsBump(cells: Array[Long], w: String): Unit = {
    cells(cmsBucket(1, w)) += 1
    cells(256 + cmsBucket(2, w)) += 1
  }

  /** The Count-Min estimate of `w`: the min over its two cells. */
  private def cmsEstimate(cells: Array[Long], w: String): Long =
    math.min(cells(cmsBucket(1, w)), cells(256 + cmsBucket(2, w)))

  /** Count-Min state / output for [[cmsFrequency]]. Public: the state
    * encoder's generated code needs constructor access. Cells are LONG:
    * the batch twin counts in BIGINT, and a hot cell in a forever-
    * running stream would wrap an Int at 2^31 into negative estimates —
    * breaking the est ≥ truth invariant precisely on the heaviest
    * hitter. (Int→Long is a state-SCHEMA change: checkpoints written
    * under the Int layout must be discarded, the same discipline as the
    * salt note below.) */
  case class CmsState(cells: Array[Long])
  case class CmsOut(source: String, w: String, est_cnt: Long)

  /** Streaming Count-Min frequency sketch — the streaming twin of batch
    * `a13_cm`, completing the sketch matrix (KMV rows / HLL registers /
    * CMS grid). Per-key state is the FIXED d=2 x w=256 counter grid
    * forever; each arriving word bumps its two cells and the batch's
    * distinct words emit their running estimate (min over rows — the
    * heavy-hitter alerting shape: collisions only ADD, so est >= truth
    * always, same hash/bucket pipeline as the batch query).
    *
    * Caveat the KMV/HLL twins don't have, demonstrated in the spec: a
    * COUNTING sketch is not replay-idempotent — re-delivered batches
    * re-count (set/max-semantics sketches absorb replays silently).
    * Production wiring therefore feeds CMS from an exactly-once source,
    * or uses [[cmsFrequencyLedgered]] — the batch-id-ledger variant that
    * makes redelivery land exactly once.
    *
    * STATE-SCHEMA NOTE: the row salts moved from (0,1) to (1,2) when the
    * batch twin a13_cm pinned its grid (the two must agree cell-for-cell
    * or the spec's stream≡batch pin is vacuous). The counter GRID layout
    * is unchanged, so Spark's state-schema check cannot catch a resume:
    * a query resuming a checkpoint written under the old salts would keep
    * counting in the old cells while probing the new ones — silently
    * wrong estimates. Checkpoints from before that change must be
    * discarded (fresh checkpoint dir), the standard discipline for any
    * semantic change to stateful-operator hashing. */
  def cmsFrequency(words: DataFrame): Dataset[CmsOut] = {
    import words.sparkSession.implicits._
    words.select(col("source"), col("w")).as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, String)],
            state: GroupState[CmsState]) => {
          val cells = state.getOption.map(_.cells.clone()).getOrElse(new Array[Long](512))
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          rows.foreach { case (_, w) =>
            cmsBump(cells, w)
            seen += w
          }
          state.update(CmsState(cells))
          seen.iterator.map(w => CmsOut(key, w, cmsEstimate(cells, w)))
        })
  }

  /** State for [[cmsFrequencyLedgered]]: the counter grid plus the
    * bounded batch-id ledger. Public for the state encoder. */
  case class CmsLedgerState(cells: Array[Long], seenBatches: Array[Long])

  /** Per-key batch-id ledger capacity for [[cmsFrequencyLedgered]] —
    * also fixes the replay horizon (see its scaladoc). */
  val LedgerCap = 256

  /** [[cmsFrequency]] with EXACTLY-ONCE counting across source replays —
    * the appendDeltaGuarded admission idiom applied to sketch state.
    *
    * A counting sketch cannot distinguish a genuine repeat of a word
    * from a redelivered batch, so the replay identity must ride WITH the
    * data: `words` carries a `batch_id` column naming the atomic
    * delivery unit (source offset/epoch — whatever the upstream replays
    * whole). Per key, the state keeps a LEDGER of incorporated batch
    * ids; rows of a ledgered batch still EMIT the current estimate
    * (idempotent re-emission under Update mode) but never count again —
    * the sketch-state analog of the anti-join-guarded INSERT.
    *
    * The ledger is bounded (most-recent 256 batch ids per key) but the
    * CONTRACT is not silently lossy: once the ledger has ever been full,
    * its smallest retained id is the replay HORIZON — for any id at or
    * above it, ledger membership is exact (the ledger holds precisely
    * the largest 256 distinct ids seen, so an absent id ≥ horizon was
    * provably never counted); an unseen id BELOW it is undecidable
    * (it may have been counted and evicted) and FAILS LOUDLY instead of
    * re-counting. Replays are checkpoint-recovery-shaped and therefore
    * recent — landing above the horizon in practice; a source that
    * replays from beyond it must re-key or reset, and now finds out.
    * Contract: a batch id arrives WHOLE within one micro-batch (the
    * delivery unit is atomic); splitting one id across micro-batches
    * would skip its later half. */
  def cmsFrequencyLedgered(words: DataFrame): Dataset[CmsOut] = {
    import words.sparkSession.implicits._
    words.select(col("source"), col("w"), col("batch_id").cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, String, Long)],
            state: GroupState[CmsLedgerState]) => {
          val st = state.getOption
            .getOrElse(CmsLedgerState(new Array[Long](512), Array.empty))
          val cells = st.cells.clone()
          val ledger = st.seenBatches.toSet
          // seenBatches is kept sorted ascending; once it has filled to
          // capacity its minimum is the replay horizon: an id >= horizon
          // absent from the ledger was provably never counted (the ledger
          // is exactly the largest LedgerCap distinct ids seen), an
          // absent id BELOW it is undecidable — counted-and-evicted and
          // genuinely-new look identical, so re-counting would silently
          // break exactly-once. Fail loudly instead.
          val horizon =
            if (st.seenBatches.length >= LedgerCap) st.seenBatches.head
            else Long.MinValue
          val fresh = scala.collection.mutable.LinkedHashSet.empty[Long]
          val emit = scala.collection.mutable.LinkedHashSet.empty[String]
          rows.foreach { case (_, w, b) =>
            // ledger membership is judged against PRIOR invocations only:
            // every row of a batch new to this invocation counts, however
            // the rows interleave
            if (!ledger.contains(b)) {
              if (b < horizon)
                throw new IllegalStateException(
                  s"cmsFrequencyLedgered: batch id $b for key '$key' is " +
                    s"below the replay horizon $horizon — the ledger " +
                    s"(most-recent $LedgerCap ids) cannot decide whether " +
                    "it was already counted; counting it could double, " +
                    "skipping it could drop. Re-key or reset the sketch " +
                    "to replay from that far back.")
              cmsBump(cells, w)
              fresh += b
            }
            emit += w
          }
          val mergedLedger = (st.seenBatches ++ fresh).distinct.sorted.takeRight(LedgerCap)
          state.update(CmsLedgerState(cells, mergedLedger))
          emit.iterator.map(w => CmsOut(key, w, cmsEstimate(cells, w)))
        })
  }

  /** Streaming materialized-view maintenance — the live twin of
    * [[graft.pipeline.MaterializedView.refresh]]: each micro-batch lands
    * in the manifest-snapshot base as an O(delta) append version, then
    * the view folds exactly that delta into its stored partials. Batch
    * and stream share EVERY line of the maintenance logic (aggregate /
    * merge / commit), so stream-maintained state ≡ a one-shot batch
    * recompute — which the spec pins.
    *
    * Exactly-once across checkpoint replay, as an ORDER not a
    * transaction, composing two already-idempotent primitives:
    *  - admission is [[ManifestSnapshots.appendDeltaGuarded]]: the S6
    *    anti-join guard vs the chain's committed head, run BEHIND the
    *    persistent key bloom, so a mostly-new batch proves itself fresh
    *    at the guard (O(batch), no chain scan) and a replayed batch
    *    admits zero rows and creates no version — only probable
    *    duplicates pay the exact probe;
    *  - a crash INSIDE appendDelta leaves a torn, invisible version
    *    (data → manifest → pointer commit order), so the replay
    *    re-admits cleanly;
    *  - refresh is the idempotence ledger for the VIEW side: its state
    *    carries the base version it incorporates, so a replayed refresh
    *    is a noop and a skipped one (crash between append and refresh)
    *    is caught up incrementally by the next batch — or by any later
    *    batch-mode refresh, because the two modes share the state.
    *
    * `keys` are the ROW-identity columns the replay guard dedupes on
    * (e.g. event_id) — NOT the view's group keys: guarding on
    * `spec.keys` would reject every new row for an already-seen group. */
  def foreachBatchViewMaintenance(
      deltas: DataFrame,
      baseDir: String,
      viewDir: String,
      spec: graft.pipeline.MaterializedView.MvSpec,
      keys: Seq[String],
      checkpoint: String): StreamingQuery =
    sink(deltas, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      if (!batch.isEmpty)
        ManifestSnapshots.appendDeltaGuarded(s, baseDir, batch, keys): Unit
      // the refresh deliberately runs OUTSIDE the emptiness guard (an
      // empty or fully-replayed batch catches up a crash between a
      // previous append and its refresh) — but only once the base
      // chain EXISTS: an empty micro-batch before the first committed
      // version must idle, not kill the query on refresh's
      // missing-snapshot refusal
      if (ManifestSnapshots.latestVersion(s, baseDir).nonEmpty)
        graft.pipeline.MaterializedView.refresh(s, baseDir, viewDir, spec): Unit
    }

  /** Streaming JOIN-view maintenance — [[foreachBatchViewMaintenance]]'s
    * two-table sibling: each micro-batch of FACT rows lands in the A
    * base behind the same bloom-fronted row-identity replay guard, then
    * [[graft.pipeline.JoinMaterializedView.refresh]] folds BOTH bases'
    * outstanding deltas through the delta-join legs (the dim side may
    * advance between batches via any other writer — batch appends,
    * another stream; refresh reads versions, not this stream's state).
    * Exactly-once composition and crash-window catch-up are inherited
    * unchanged: the view state's (va, vb) stamp is the idempotence
    * ledger, so a replayed refresh is a noop and a skipped one is
    * caught up by the next batch or any batch-mode refresh. */
  def foreachBatchJoinViewMaintenance(
      factDeltas: DataFrame,
      aDir: String,
      bDir: String,
      viewDir: String,
      jm: graft.pipeline.JoinMaterializedView.JoinMvSpec,
      keys: Seq[String],
      checkpoint: String): StreamingQuery =
    sink(factDeltas, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      if (!batch.isEmpty)
        ManifestSnapshots.appendDeltaGuarded(s, aDir, batch, keys): Unit
      if (ManifestSnapshots.latestVersion(s, aDir).nonEmpty
          && ManifestSnapshots.latestVersion(s, bDir).nonEmpty)
        graft.pipeline.JoinMaterializedView.refresh(
          s, aDir, bDir, viewDir, jm): Unit
    }

  /** Streaming basket-view maintenance — the
    * [[graft.pipeline.BasketStore]] admission loop as a stream sink:
    * each micro-batch of pre-joined order lines (l_orderkey, l_partkey,
    * o_custkey, l_suppkey) folds into the persisted pair/item/degree
    * rollups through the SAME admitBatch the batch path runs, so
    * stream-maintained views ≡ a batch build over the same orders
    * (BasketStoreSpec pins it). Exactly-once: admitBatch's orderkey
    * watermark is the replay ledger (a redelivered micro-batch melts to
    * mode=empty), and every rollup commit is watermark-stamped, so a
    * crash mid-admission resumes table-by-table. CONTRACT: the source
    * must deliver WHOLE orders per micro-batch (pair counts are only
    * additive over unsplit baskets). A MIXED batch (0 < skippedRows <
    * raw) is ambiguous — an overlapping at-least-once redelivery is
    * safe, a split order is silent corruption — and only the caller
    * knows which its source can produce: under the default
    * `strictWholeOrders = false` the fresh part folds and the skip
    * count is ignored (sources that may re-deliver overlapping ranges
    * of WHOLE orders); with `strictWholeOrders = true` a mixed batch
    * KILLS the query loudly (sources that never re-deliver — any skip
    * alongside fresh rows can only be a split order). */
  def foreachBatchBasketMaintenance(
      orderLines: DataFrame,
      root: String,
      checkpoint: String,
      strictWholeOrders: Boolean = false): StreamingQuery =
    sink(orderLines, checkpoint) { (batch, _) =>
      // strict rides INSIDE admitBatch: the skip census happens before
      // any rollup merge there, so a violation PREVENTS the corrupt
      // commit instead of detecting it after the fold — and it fires
      // on a remainder-only batch (skipped > 0, fresh == 0) too, which
      // a post-hoc mixed-batch check silently melted to mode=empty.
      if (!batch.isEmpty)
        graft.pipeline.BasketStore.admitBatch(
          batch.sparkSession, root, batch,
          strict = strictWholeOrders): Unit
    }

  /** Streaming medallion on the CDC substrate: each micro-batch of STAGE
    * rows lands in the analytics chain behind the row-identity replay
    * guard and folds into the per-user feature state via the CDC refresh
    * — stream and batch share EVERY line
    * ([[graft.pipeline.MedallionCdc.runCycle]]), so stream-maintained
    * features ≡ a batch run over the same data (the spec pins it).
    * Exactly-once composes the same way as
    * [[foreachBatchViewMaintenance]]: a redelivered micro-batch admits
    * zero rows at the guard, creates no chain version, and the refresh
    * no-ops on its version ledger; a crash inside the cycle leaves
    * either the old committed state or the new one at every step (chain
    * commit is atomic, feature commit is atomic, the ledger rides the
    * feature rows). */
  def foreachBatchMedallionCdc(
      stage: DataFrame,
      root: String,
      checkpoint: String): StreamingQuery =
    sink(stage, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        graft.pipeline.MedallionCdc.runCycle(batch.sparkSession, root, batch): Unit
    }

  /** Per-window histogram state of [[driftTvd]] and [[driftPsi]]. Public:
    * the state encoder's generated code needs constructor access. */
  case class DriftCounts(counts: Seq[Long])
  case class DriftOut(window_start: java.sql.Timestamp, n_cur: Long, tvd: Double)

  /** The drift monitors' one state machine. Per tumbling event-time window
    * (the group key), a 10-bucket value histogram accumulates across
    * micro-batches; buckets mirror the batch bucketing exactly,
    * min(floor(value/20), 9), clamped at 0 for adversarial negatives. When
    * the watermark passes the window's end the event-time timeout fires,
    * the window leaves the store and `close(windowStart, counts)` emits
    * its one row. State is 10 longs + a timeout per OPEN window. */
  private def windowHistogram[O: Encoder](events: Dataset[Ev], windowMs: Long,
      watermarkAge: String)(
      close: (java.sql.Timestamp, Seq[Long]) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkAge)
      .groupByKey(e => Math.floorDiv(e.ts.getTime, windowMs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (win: Long, evs: Iterator[Ev], state: GroupState[DriftCounts]) => {
          if (state.hasTimedOut) {
            val counts = state.get.counts
            state.remove()
            Iterator.single(close(new java.sql.Timestamp(win * windowMs), counts))
          } else {
            val cur = state.getOption.map(_.counts.toArray)
              .getOrElse(Array.fill(10)(0L))
            evs.foreach { e =>
              val b = math.min(math.floor(e.value / 20).toLong, 9L)
              cur(math.max(b, 0L).toInt) += 1
            }
            state.update(DriftCounts(cur.toSeq))
            // close exactly when the watermark passes the window end; the
            // max() guards the (late-data-within-allowance) case where the
            // end is already at/behind the current watermark — Spark
            // refuses a timeout that isn't strictly ahead of it
            state.setTimeoutTimestamp(math.max(win * windowMs + windowMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** Streaming distribution-drift monitor — the streaming twin of batch
    * `dq_drift_tvd`: each tumbling event-time window's 10-bucket value
    * histogram is scored against a FROZEN reference histogram by
    * total-variation distance, and the (window, tvd) row emits ONCE when
    * the watermark proves the window complete — the live gate a feature
    * pipeline puts in front of model refresh, alerting within one
    * watermark delay of the drifted window closing instead of at the next
    * batch audit.
    *
    * Same parity discipline as the batch query: TVD (never PSI/KL — libm
    * ln isn't pinned across engines), computed as integer cross products
    * |r_b·t_cur − c_b·t_ref| over a common denominator with ONE double
    * division at the end, so the stream's row for a window equals the
    * batch recompute bit-for-bit (StreamingSpec proves it). Buckets, state
    * and close are `windowHistogram`'s.
    *
    * State is bounded by the watermark horizon over the window length,
    * never by data volume: the
    * 100 TB/day shape where a windowed COUNT per bucket via two chained
    * aggregations would need multi-operator watermark plumbing for the
    * same bounded state, with the emit-once close handled here by the
    * event-time timeout. Closed windows leave the store immediately. */
  def driftTvd(events: Dataset[Ev], ref: Seq[Long],
      windowMs: Long = 604800000L,
      watermarkAge: String = "1 hour"): Dataset[DriftOut] = {
    import events.sparkSession.implicits._
    require(ref.size == 10, "driftTvd needs the 10-bucket reference histogram")
    val tRef = ref.sum
    require(tRef > 0, "driftTvd needs a non-empty reference histogram")
    windowHistogram(events, windowMs, watermarkAge) { (start, counts) =>
      val tCur = counts.sum
      val num = ref.zip(counts)
        .map { case (r, c) => math.abs(r * tCur - c * tRef) }.sum
      val tvd =
        if (tCur == 0) 0.0
        else num.toDouble / (2.0 * tRef.toDouble * tCur.toDouble)
      DriftOut(start, tCur, tvd)
    }
  }

  /** Stale-entity state / output for [[staleEntities]]. Public: the state
    * encoder's generated code needs constructor access. */
  case class StaleState(lastTs: Long, nEvents: Long)
  case class StaleOut(user_id: Long, last_ts: java.sql.Timestamp,
      n_events: Long, silent_ms: Long)

  /** Streaming feed-staleness alert — the live twin of batch `dq_gaps`'s
    * >threshold-gap accounting: an entity that goes SILENT for more than
    * `silenceMs` of event time gets one alert row the moment the watermark
    * PROVES the silence (no event with ts ≤ last + silence can still
    * arrive) — the ingestion-SLA monitor firing while the batch audit
    * would still be waiting for its next cycle. The batch query can only
    * see a gap once the entity RETURNS; the streaming form alerts on
    * entities that never do, which is exactly the feed-died case the SLA
    * exists for.
    *
    * Emit-once per silence episode: the alert removes the state, so a
    * returning entity re-seeds cleanly (its next silence alerts again)
    * and state stays bounded by the ACTIVE entity population, not history.
    * In-watermark late events fold into the stored max before any alert
    * fires, so a disordered feed never alerts spuriously. */
  def staleEntities(events: Dataset[Ev],
      silenceMs: Long = 86400000L,
      watermarkAge: String = "1 hour"): Dataset[StaleOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkAge)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[StaleState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(StaleOut(uid, new java.sql.Timestamp(s.lastTs),
              s.nEvents, silenceMs))
          } else {
            val prev = state.getOption.getOrElse(StaleState(Long.MinValue, 0L))
            var last = prev.lastTs; var n = prev.nEvents
            evs.foreach { e => last = math.max(last, e.ts.getTime); n += 1 }
            state.update(StaleState(last, n))
            state.setTimeoutTimestamp(math.max(last + silenceMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** The keyed twins' one loop (ordering contract in the header): per
    * user, sort the micro-batch by (ts, event_id) with NULL ts first, fold
    * `step(uid, state, event)` over it from the stored state, emit the
    * step's rows, and write the state back iff the fold left one — so a
    * twin whose step keeps `None` (lastTouch before its first touch) stores
    * nothing. */
  private def keyedFold[S: Encoder, O: Encoder](events: Dataset[Ev])(
      step: (Long, Option[S], Ev) => (Option[S], Option[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[S]) => {
          var st = state.getOption
          val out = Seq.newBuilder[O]
          evs.toSeq.sortBy(e => (Option(e.ts).map(_.getTime), e.event_id)).foreach { e =>
            val (next, row) = step(uid, st, e)
            st = next
            out ++= row
          }
          st.foreach(state.update)
          out.result().iterator
        })
  }

  /** An event's value in integer cents — the batch twins' rounding
    * expression, floor(value * 100 + 0.5). */
  private def cents(e: Ev): Long = math.floor(e.value * 100 + 0.5).toLong

  /** Bounded EWMA state: the user's last ≤7 cents, most recent FIRST. */
  case class EwmaState(recent: Seq[Long])
  case class EwmaOut(user_id: Long, event_id: Long, cents: Long,
      ewma_num: Long, ewma_den: Long, ewma_cents: Double)

  /** Streaming twin of batch `w18_ewma`: the 8-tap power-of-two EWMA as
    * keyed state — per user, exactly the last 7 cents values (most recent
    * first), a CONSTANT-size state record regardless of history length
    * (this bounded-tail truncation is precisely why the batch operator
    * was specified with 8 taps: the same recurrence then streams with
    * O(1) state instead of an unbounded geometric tail). Arithmetic
    * parity is exact: integer cents, integer power-of-two weights, one
    * final IEEE division — identical to the batch window form bit for
    * bit. */
  def ewma(events: Dataset[Ev]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    keyedFold[EwmaState, EwmaOut](events) { (uid, st, e) =>
      val recent = st.fold(Seq.empty[Long])(_.recent)
      val c = cents(e)
      var num = c * 128L
      var den = 128L
      recent.iterator.zipWithIndex.foreach { case (x, i) =>
        val w = 1L << (6 - i) // lag k = i+1 carries weight 2^(7-k)
        num += x * w
        den += w
      }
      (Some(EwmaState((c +: recent).take(7))),
        Some(EwmaOut(uid, e.event_id, c, num, den, num.toDouble / den)))
    }
  }

  /** Drawdown state: the user's running peak — ONE long per key, the
    * smallest state record in the twin family. */
  case class DdState(peak: Long)
  case class DdOut(user_id: Long, event_id: Long, cents: Long,
      peak: Long, dd: Long)

  /** Streaming twin of batch `w19_drawdown`'s running columns: per event,
    * the running peak over the user's (ts, event_id)-ordered cents and
    * the drop from it. Constant per-key state (the peak alone — a
    * running MAX needs no history), so the operator's memory is O(keys)
    * at any stream length; the batch query's final per-user pick
    * (max dd, tie on event_id) is a plain rollup over these outputs, so
    * stream ≡ batch on the running columns implies it for the pick too
    * (StreamingSpec pins both). */
  def drawdown(events: Dataset[Ev]): Dataset[DdOut] = {
    import events.sparkSession.implicits._
    keyedFold[DdState, DdOut](events) { (uid, st, e) =>
      val c = cents(e)
      val peak = math.max(st.fold(Long.MinValue)(_.peak), c)
      (Some(DdState(peak)), Some(DdOut(uid, e.event_id, c, peak, peak - c)))
    }
  }

  /** CUSUM state: the user's prefix sum and its running minimum — two
    * longs per key, constant at any stream length. */
  case class CusumState(ps: Long, minPs: Long)
  case class CusumOut(user_id: Long, event_id: Long, cents: Long,
      cusum: Long, alarm: Boolean)

  /** Streaming twin of batch `w21_cusum`'s running statistic: Page's
    * one-sided CUSUM as keyed state, C_i = S_i − min_{j≤i} S_j over the
    * prefix sums of the ref-shifted cents. The batch query derives its
    * reference level from the WHOLE series (per-user floor-mean) — a
    * stream cannot know that, so the level is the caller's parameter
    * here, which is also the production shape (CUSUM monitors run
    * against a configured or trailing baseline, not an oracle mean).
    * StreamingSpec pins stream ≡ an identically-parameterized batch
    * window program across a mid-series batch boundary. */
  def cusum(events: Dataset[Ev], refCents: Long,
      alarmAt: Long): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    keyedFold[CusumState, CusumOut](events) { (uid, st, e) =>
      // the running min ranges over OBSERVED prefixes only (so the
      // first event's statistic is 0) — exactly the batch window's
      // MIN(ps) OVER (unbounded preceding..current row), which is
      // what the twin must reproduce bit-for-bit
      val prev = st.getOrElse(CusumState(0L, Long.MaxValue))
      val c = cents(e)
      val ps = prev.ps + (c - refCents)
      val minPs = math.min(prev.minPs, ps)
      (Some(CusumState(ps, minPs)),
        Some(CusumOut(uid, e.event_id, c, ps - minPs, ps - minPs > alarmAt)))
    }
  }

  /** Bounded rolling-median state: the user's last ≤4 cents, most recent
    * first. */
  case class MedState(recent: Seq[Long])
  case class MedOut(user_id: Long, event_id: Long, cents: Long,
      med_cents: Long, win_n: Int)

  /** Streaming twin of batch `w20_rolling_median`: the 5-point robust
    * smoother as keyed state — exactly the last 4 cents per user, so the
    * state record is constant-size like [[ewma]]'s, and the median of
    * the ≤5-value window is pure integer selection (sorted, lower-middle
    * element), bit-identical to the batch window form. */
  def rollingMedian(events: Dataset[Ev]): Dataset[MedOut] = {
    import events.sparkSession.implicits._
    keyedFold[MedState, MedOut](events) { (uid, st, e) =>
      val c = cents(e)
      val recent = c +: st.fold(Seq.empty[Long])(_.recent)
      val win = recent.sorted
      val med = win((win.size + 1) / 2 - 1) // 1-based (n+1)/2, the lower median
      (Some(MedState(recent.take(4))),
        Some(MedOut(uid, e.event_id, c, med, win.size)))
    }
  }

  /** Bollinger state: the user's last ≤19 cents, most recent first —
    * the w22 20-row lookback minus the current row. */
  case class BollState(recent: Seq[Long])
  case class BollOut(user_id: Long, event_id: Long, cents: Long,
      n: Long, s1: Long, z: Option[Double], breakout: Int)

  /** Streaming twin of batch `w22_bollinger`: the volatility-normalized
    * breakout flag as keyed state — exactly the last 19 cents per user
    * (constant-size state, the ewma/rollingMedian contract). Arithmetic
    * parity is the batch query's exactly: BIGINT window moments, the
    * |z|>2 decision a PURE INTEGER comparison ((n·x−s1)² vs 4·(n·Σx²−s1²),
    * BigInt-exact like the batch DECIMALs), and z itself the same two
    * IEEE steps (None on a zero-variance window). */
  def bollinger(events: Dataset[Ev]): Dataset[BollOut] = {
    import events.sparkSession.implicits._
    keyedFold[BollState, BollOut](events) { (uid, st, e) =>
      val c = cents(e)
      val win = c +: st.fold(Seq.empty[Long])(_.recent)
      val n = win.size.toLong
      val s1 = win.sum
      val s2 = win.iterator.map(x => BigInt(x) * x).sum
      val dev = n * c - s1
      val v = s2 * n - BigInt(s1) * s1
      val z =
        if (v == 0) None
        else Some(dev.toDouble / math.sqrt(v.doubleValue))
      val breakout =
        if (dev > 0 && BigInt(dev) * dev > 4 * v) 1
        else if (dev < 0 && BigInt(dev) * dev > 4 * v) -1
        else 0
      (Some(BollState(win.take(19))),
        Some(BollOut(uid, e.event_id, c, n, s1, z, breakout)))
    }
  }

  /** RSI state: the user's last observed cents plus the last ≤13 value
    * deltas, most recent first — exactly the w23 14-delta lookback minus
    * the current delta. */
  case class RsiState(prevCents: Long, deltas: Seq[Long])
  case class RsiOut(user_id: Long, event_id: Long, cents: Long,
      gains: Long, losses: Long, rsi_ppm: Option[Long])

  /** Streaming twin of batch `w23_rsi` (Cutler's SMA momentum index):
    * keyed state is the previous cents plus the last 13 deltas — the
    * constant-size contract of the ewma/bollinger siblings. A row emits
    * exactly when the 14-row lookback holds 14 deltas (the batch
    * `n_delta = 14` warmup gate, which here is simply "13 deltas stored
    * before this one"). Arithmetic parity is the batch query's: exact
    * integer cents, gain/loss sums as BIGINTs, ONE truncating division
    * to ppm (None when the window never moved). */
  def rsi(events: Dataset[Ev]): Dataset[RsiOut] = {
    import events.sparkSession.implicits._
    keyedFold[RsiState, RsiOut](events) { (uid, st, e) =>
      val c = cents(e)
      st match {
        case None => (Some(RsiState(c, Seq.empty)), None)
        case Some(RsiState(prev, deltas)) =>
          val frame = (c - prev) +: deltas
          val row =
            if (deltas.size < 13) None
            else {
              val gains = frame.iterator.filter(_ > 0).sum
              val losses = -frame.iterator.filter(_ < 0).sum
              val rsi =
                if (gains + losses == 0) None
                else Some(gains * 1000000L / (gains + losses))
              Some(RsiOut(uid, e.event_id, c, gains, losses, rsi))
            }
          (Some(RsiState(c, frame.take(13))), row)
      }
    }
  }

  /** Last-touch state: the most recent non-purchase event type seen for
    * the user — ONE string, the smallest state record in the file. */
  case class TouchState(channel: String)
  case class TouchOut(user_id: Long, event_id: Long, channel: String, cents: Long)

  /** Streaming twin of batch `a48_attribution`'s assignment step: each
    * purchase emits the channel (last PRECEDING non-purchase type, or
    * 'organic') it is credited to, with exact cents — the per-event
    * view whose per-channel rollup equals the batch query (pinned by
    * StreamingSpec). A user seen only purchasing stores no state. */
  def lastTouch(events: Dataset[Ev]): Dataset[TouchOut] = {
    import events.sparkSession.implicits._
    keyedFold[TouchState, TouchOut](events) { (uid, st, e) =>
      if (e.event_type == "purchase")
        (st, Some(TouchOut(uid, e.event_id, st.fold("organic")(_.channel), cents(e))))
      else (Some(TouchState(e.event_type)), None)
    }
  }

  /** Per-window output for [[driftPsi]]; its state is [[DriftCounts]]. */
  case class PsiOut(window_start: java.sql.Timestamp, n_cur: Long, psi: Double)

  /** Streaming Population-Stability-Index monitor — [[driftTvd]]'s
    * divergence-true sibling, possible ONLY since the pinned fixed-point
    * ln landed ([[graft.functions.PinnedLog]]): driftTvd's doc records
    * why PSI/KL were previously out of reach ("libm ln isn't pinned
    * across engines"). Each closed tumbling window's smoothed 10-bucket
    * histogram is scored against the frozen reference with the batch
    * `dq_psi` arithmetic — add-one smoothing over the FIXED 10-bucket
    * universe, exact integer/BigInt cross products, ln via the same
    * PinnedLog.lnNanos STATIC the batch expression codegens to, and the
    * identical two-IEEE-division tail — so a window's streamed PSI
    * equals a batch recompute of the same rows bit for bit (equal to
    * dq_psi's own form whenever every bucket is observed, which the
    * smoothing makes the common case). State and close are
    * `windowHistogram`'s, shared with driftTvd. */
  def driftPsi(events: Dataset[Ev], ref: Seq[Long],
      windowMs: Long = 604800000L,
      watermarkAge: String = "1 hour"): Dataset[PsiOut] = {
    import events.sparkSession.implicits._
    require(ref.size == 10, "driftPsi needs the 10-bucket reference histogram")
    val refS = ref.map(_ + 1L) // add-one smoothing, the dq_psi floor
    val tRef = refS.sum
    val lnTRef = graft.functions.PinnedLog.lnNanos(tRef, 1L)
    val lnRefS = refS.map(r => graft.functions.PinnedLog.lnNanos(r, 1L))
    windowHistogram(events, windowMs, watermarkAge) { (start, counts) =>
      val nCurRaw = counts.sum
      val curS = counts.map(_ + 1L)
      val tCur = curS.sum
      val lnTCur = graft.functions.PinnedLog.lnNanos(tCur, 1L)
      // Σ (n_cur·t_ref − n_ref·t_cur)·(ln n_cur + ln t_ref − ln n_ref − ln t_cur),
      // exact (BigInt ≡ the batch DECIMAL(38,0) sums)
      val num = refS.indices.iterator.map { b =>
        val nCur = curS(b); val nRef = refS(b)
        val lnSum = graft.functions.PinnedLog.lnNanos(nCur, 1L) +
          lnTRef - lnRefS(b) - lnTCur
        (BigInt(nCur) * tRef - BigInt(nRef) * tCur) * lnSum
      }.sum
      // single rounding of the exact product — matches the batch
      // CAST(t_ref*t_cur AS DOUBLE) tail past 2^53 (DataQuality.psi too)
      val psi = num.doubleValue / (BigInt(tRef) * BigInt(tCur)).doubleValue / 1e9
      PsiOut(start, nCurRaw, psi)
    }
  }

  /** Sink: write-audit-publish admission per micro-batch — the streaming
    * face of the snapshot store's WAP branches, EXACTLY-ONCE across
    * replays. Each batch stages on a branch named by its (monotonic)
    * batch id, the audit runs on the staged read, and publish is one
    * fast-forward manifest commit; a single-marker LEDGER records the
    * highest DECIDED batch id (decided = published or rejected), the
    * cmsFrequencyLedgered discipline — bounded metadata, not one marker
    * per batch. Every crash point replays safely:
    *  - before stage / after a decision: the ledger (or the absent
    *    branch) routes the replay;
    *  - after stage, before publish: the surviving branch marker is
    *    re-audited and published — the marker's CONTENT, not a restage,
    *    so the decision is on the bytes the crashed attempt wrote;
    *  - after publish, before the ledger write: a committed manifest in
    *    (parent, head] references the staged paths — detected by
    *    ManifestSnapshots.branchPublishEvidence's history walk (sound
    *    even when a later OPTIMIZE/MERGE compacted every staged file out
    *    of the CURRENT head, where a subset-of-head probe would lie),
    *    ledger repaired, NO duplicate rows.
    * When the evidence is INCOMPLETE — the walk hits a vacuumed or
    * unreadable manifest slot, so "did the crashed publish land?" cannot
    * be answered — admission throws IllegalStateException rather than
    * guess: a wrong guess either duplicates rows or drops a batch. Keep
    * vacuum retention above the replay window (its default keep already
    * is) and the ambiguity never arises. */
  def foreachBatchWapAppend(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      audit: DataFrame => Boolean): StreamingQuery =
    sink(stream, checkpoint) { (batch, id) =>
      if (!batch.isEmpty) wapAdmitBatch(batch.sparkSession, path, id, batch, audit)
    }

  private def wapLedgerPath(path: String) =
    new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/wap_ledger")

  /** One idempotent WAP admission step (see [[foreachBatchWapAppend]]);
    * package-visible so the spec can drive the crash-replay windows
    * directly. */
  private[graft] def wapAdmitBatch(s: org.apache.spark.sql.SparkSession,
      path: String, id: Long, batch: DataFrame,
      audit: DataFrame => Boolean): Unit = {
    import graft.core.{ManifestSnapshots => MS, Markers}
    val name = s"wapb-$id"
    val decided = Markers.read(s, wapLedgerPath(path))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    if (id <= decided) {
      MS.dropBranch(s, path, name) // debris from a crash after the ledger write
      return
    }
    def ledger(): Unit = Markers.write(s, wapLedgerPath(path), id.toString)
    // decision order is publish-commit → ledger → drop-marker: the marker
    // must OUTLIVE the commit until the ledger records it, or a crash in
    // between leaves a markerless, unledgered publish a replay would
    // duplicate (the reject path needs no such care — a replayed reject
    // re-runs the deterministic audit to the same reject)
    def decide(): Unit =
      if (audit(MS.readBranch(s, path, name))) {
        // a CONCURRENT main-line writer between stage and publish
        // surfaces as the fast-forward conflict: rebase (metadata-only,
        // staged files untouched), RE-AUDIT against the new base, retry.
        // Bounded like the commit loop — pathological contention must
        // fail the stream loudly, never spin.
        var attempts = 0
        var done = false
        while (!done) {
          try {
            MS.publishBranch(s, path, name, dropMarker = false): Unit
            done = true
          } catch {
            case e: java.util.ConcurrentModificationException =>
              attempts += 1
              if (attempts >= 8) throw e
              MS.rebaseBranch(s, path, name)
              if (!audit(MS.readBranch(s, path, name))) {
                // the rebased base flips the audit: reject wins
                MS.dropBranch(s, path, name)
                ledger()
                return
              }
          }
        }
        ledger()
        MS.dropBranch(s, path, name)
      } else {
        MS.dropBranch(s, path, name)
        ledger()
      }
    MS.branchInfo(s, path, name) match {
      case Some(_) =>
        // a surviving marker above the ledger: the crashed attempt may
        // or may not have published. The manifest-history walk answers
        // soundly (a staged-fresh path in ANY committed version since
        // the stage parent is positive proof, surviving post-publish
        // compaction); incomplete evidence fails the stream loudly —
        // republish-on-guess is silent duplicates, drop-on-guess is a
        // silently lost batch
        MS.branchPublishEvidence(s, path, name) match {
          case Some(true) =>
            // the crashed attempt DID publish — repair the ledger only
            ledger()
            MS.dropBranch(s, path, name)
          case Some(false) => decide()
          case None => throw new IllegalStateException(
            s"WAP replay of batch $id under $path is AMBIGUOUS: branch " +
              s"'$name' survives above the decided ledger, but manifest " +
              "history since its stage parent has vacuumed/unreadable " +
              "slots, so whether the crashed publish landed cannot be " +
              "proven. Refusing to guess (publish ⇒ possible duplicates, " +
              "drop ⇒ possible loss) — inspect the table and either drop " +
              "the branch or advance the ledger manually")
        }
      case None =>
        MS.stageBranch(s, path, name, batch)
        decide()
    }
  }

  /** Sink: MERGE each micro-batch into a lake table by key — streaming and
    * batch share [[Lakehouse.mergeUpsert]] so the exactly-once-per-key
    * upsert semantics are identical in both modes. */
  def foreachBatchUpsert(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      checkpoint: String): StreamingQuery =
    sink(stream, checkpoint, OutputMode.Update()) { (batch, _) =>
      if (!batch.isEmpty) Lakehouse.mergeUpsert(batch.sparkSession, batch, path, keys)
    }
}
