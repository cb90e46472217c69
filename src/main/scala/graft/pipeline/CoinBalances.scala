package graft.pipeline

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ethereum_wallet_coin_balances.sql:1-349 — the per-(wallet, contract)
  * balance table: the UNPRICED sibling of the wallet-features program,
  * materialized at contract grain and MERGEd incrementally.
  *
  * Faithful points worth naming:
  *  - the running balance orders by (timestamp, priority, transaction_index)
  *    with NO role tie-break and the DEFAULT (RANGE) frame (:22-27): peer
  *    rows — e.g. a self-transfer's sender+receiver legs at one timestamp —
  *    share one cumulative value, which is what makes the final DISTINCT
  *    (:90-123) collapse them into a single deterministic row;
  *  - counts here are plain role counts — NO hash_rank dedup (:34-39);
  *  - min/max_balance_in_ever cover ALL balances, negative included
  *    (:56-57), unlike wallet-features' positive-only min;
  *  - the latest row is the max (timestamp, transaction_index); every peer
  *    at that key joins and DISTINCT dedups (:71-123);
  *  - only the OUTPUT total_balance is clamped at 0, with the
  *    has_negative_balance flag preserving the sign bit (:95-116);
  *  - the incremental watermark is a scalar subquery CROSS JOIN
  *    (:128-132,169-170);
  *  - the incremental "already merged" guard (:250-290) joins a
  *    per-CONTRACT MAX(last_transaction_timestamp) over state rows whose
  *    wallet has new data (W13 + EXISTS pruning) and drops new rows whose
  *    last timestamp equals it;
  *  - the :265-272 min/max merge CASEs are null-propagating: a brand-new
  *    (wallet, contract) pair (no old state) stores NULL min/max — the
  *    reference's actual semantics, reproduced as-is (CoinBalancesSpec
  *    pins it);
  *  - the reference's merged SELECT (:258-292) omits token_symbol yet its
  *    INSERT branch (:315) references it; we carry the new row's
  *    token_symbol so the insert is well-defined. MERGE WHEN MATCHED
  *    (:297-310) does NOT update token_symbol or has_negative_balance —
  *    matched rows keep their stored values ([[applyMerge]]).
  *
  * Scale: one repartition by wallet_address serves both windows and the
  * pick; the state joins key on (wallet, contract) — co-partitioned big-big
  * shuffles, nothing broadcast (state is table-sized).
  */
object CoinBalances {

  private def withDefaults(tx: DataFrame): DataFrame = {
    val t0 = if (tx.columns.contains("transaction_index")) tx
             else tx.withColumn("transaction_index", lit(0L))
    val t1 = if (t0.columns.contains("token_symbol")) t0
             else t0.withColumn("token_symbol", col("contract_address"))
    t1.withColumn("txi", WalletFeatures.txIndexByType)
  }

  /** The full-load program (:10-123) at (wallet, contract) grain. */
  def fullLoad(walletTx: DataFrame): DataFrame = {
    val df = graft.core.Lakehouse.clusterBy(withDefaults(walletTx), "wallet_address")
    val wC = Window.partitionBy("wallet_address", "contract_address")
    // default RANGE frame — peers share the cumulative value (:22-27)
    val wOrd = wC.orderBy(col("block_timestamp"), col("priority"), col("txi"))
    val signed = when(col("role") === "sender", -col("amount") - col("tx_fee"))
      .otherwise(col("amount"))
    val balRaw = round(sum(signed.cast("decimal(38,6)")).over(wOrd), 5).cast("double")

    val cb = df.select(col("*"),
      balRaw.as("total_balance_run"),
      sum(when(col("role") === "receiver", col("amount")).otherwise(lit(0.0))
        .cast("decimal(38,6)")).over(wC).cast("double").as("total_incoming_value"),
      sum(when(col("role") === "sender", col("amount")).otherwise(lit(0.0))
        .cast("decimal(38,6)")).over(wC).cast("double").as("total_outgoing_value"),
      sum(col("tx_fee").cast("decimal(38,6)")).over(wC).cast("double").as("total_tx_fee"),
      count(when(col("role") === "receiver", lit(1))).over(wC)
        .as("incoming_transactions_count"),
      count(when(col("role") === "sender", lit(1))).over(wC)
        .as("outgoing_transactions_count"),
      count(lit(1)).over(wC).as("transactions_count"),
      min("block_timestamp").over(wC).as("first_transaction_timestamp"),
      max("block_timestamp").over(wC).as("last_transaction_timestamp"))

    val mm = cb.select(col("*"),
      min(col("total_balance_run")).over(wC).as("min_balance_in_ever"),
      max(col("total_balance_run")).over(wC).as("max_balance_in_ever"),
      // latest pick: max (timestamp, transaction_index); all peers join
      // (:119-123), DISTINCT collapses them
      max(struct(col("block_timestamp"), col("txi"))).over(wC).as("latest_key"))

    mm.filter(struct(col("block_timestamp"), col("txi")) === col("latest_key"))
      .select(
        col("wallet_address"), col("contract_address"), col("token_symbol"),
        when(col("total_balance_run") < 0, lit(0.0)).otherwise(col("total_balance_run"))
          .as("total_balance"),
        col("min_balance_in_ever"), col("max_balance_in_ever"),
        col("total_incoming_value"), col("total_outgoing_value"), col("total_tx_fee"),
        col("incoming_transactions_count"), col("outgoing_transactions_count"),
        col("transactions_count"),
        col("first_transaction_timestamp"), col("last_transaction_timestamp"),
        (col("total_balance_run") < 0).as("has_negative_balance"),
        col("address_partition"))
      // the reference's full-row DISTINCT (:91) — NOT a pair-key dedup:
      // latest-key rows tied on (timestamp, index) but differing in
      // priority are not RANGE peers, carry different cumulative balances,
      // and the reference keeps BOTH such rows
      .distinct()
  }

  /** The rows of `walletTx` newer than the stored `state`'s watermark
    * (:169-170): a CROSS JOIN of the 1-row whole-table aggregate — the
    * reference's scalar subquery (:128-132), kept in-plan instead of
    * collected. */
  def freshRows(walletTx: DataFrame, state: DataFrame): DataFrame = {
    val wmRow = state.agg(max("last_transaction_timestamp").as("wm"))
    withDefaults(walletTx).crossJoin(broadcast(wmRow))
      .filter(col("block_timestamp") > col("wm")).drop("wm", "txi")
  }

  /** The incremental MERGE source (:133-292): the full-load program over
    * only-new rows ([[freshRows]]), accumulated into the old state. `state`
    * is the stored coin-balances table; `walletTx` the raw feed. The
    * watermark reads all of `state`; the two state joins read `matchable`
    * when given — any subset of `state` holding every row of the fresh
    * rows' wallets (the domain DAG passes their key directories). */
  def incrementalUpdates(walletTx: DataFrame, state: DataFrame,
      matchable: Option[DataFrame] = None): DataFrame = {
    val ncb = fullLoad(freshRows(walletTx, state)).alias("ncb")
    val joined = matchable.getOrElse(state)

    // :250-257 — per-CONTRACT max stored timestamp over wallets that have
    // new data (EXISTS pruning via semi join). The reference computes it as
    // a W13 window per (wallet, contract) row and joins it back big-big;
    // here it is reduced to its true grain — ONE row per contract — and
    // broadcast, so the ncb side keeps the fact's wallet clustering through
    // the join (a contract-keyed shuffle here would force a wallet
    // re-shuffle at the merge join right after). The dim is bounded by the
    // token universe (decimals>0 contracts + 'ETH'), tens of MB at 100 TB.
    // The per-pair form's implicit "pair ∈ state" marker (ltt_last NULL for
    // new pairs) is recovered from the lcb join's own match below.
    val ltt = broadcast(joined
      .join(ncb.select(col("wallet_address")).distinct(), Seq("wallet_address"), "left_semi")
      .groupBy(col("contract_address").as("ltt_contract"))
      .agg(max("last_transaction_timestamp").as("ltt_last")))

    val lcb = joined.alias("lcb")
    def nvl0(c: Column) = coalesce(c, lit(0.0))
    def nvl0L(c: Column) = coalesce(c, lit(0L))
    ncb
      .join(lcb,
        col("ncb.wallet_address") === col("lcb.wallet_address") &&
          col("ncb.contract_address") === col("lcb.contract_address") &&
          col("ncb.address_partition") === col("lcb.address_partition"), "left_outer")
      .join(ltt, col("ncb.contract_address") === col("ltt_contract"), "left_outer")
      // :290 — skip rows whose batch adds nothing newer than the stored max.
      // A pair NOT in state (no lcb match — wallet_address is the state
      // table's non-null key, so its NULL means "unmatched") always keeps,
      // exactly as the per-pair ltt's NULL did in the reference's form.
      .filter(col("lcb.wallet_address").isNull || col("ltt_last").isNull ||
        col("ncb.last_transaction_timestamp") =!= col("ltt_last"))
      .select(
        col("ncb.wallet_address").as("wallet_address"),
        col("ncb.contract_address").as("contract_address"),
        col("ncb.token_symbol").as("token_symbol"),
        (col("ncb.total_balance") + nvl0(col("lcb.total_balance"))).as("total_balance"),
        // :265-272 — null-propagating min/max merge (new pairs keep NULL)
        when(col("ncb.min_balance_in_ever") < col("lcb.min_balance_in_ever"),
          col("ncb.min_balance_in_ever")).otherwise(col("lcb.min_balance_in_ever"))
          .as("min_balance_in_ever"),
        when(col("ncb.max_balance_in_ever") > col("lcb.max_balance_in_ever"),
          col("ncb.max_balance_in_ever")).otherwise(col("lcb.max_balance_in_ever"))
          .as("max_balance_in_ever"),
        (col("ncb.total_incoming_value") + nvl0(col("lcb.total_incoming_value")))
          .as("total_incoming_value"),
        (col("ncb.total_outgoing_value") + nvl0(col("lcb.total_outgoing_value")))
          .as("total_outgoing_value"),
        (col("ncb.incoming_transactions_count") + nvl0L(col("lcb.incoming_transactions_count")))
          .as("incoming_transactions_count"),
        (col("ncb.outgoing_transactions_count") + nvl0L(col("lcb.outgoing_transactions_count")))
          .as("outgoing_transactions_count"),
        (col("ncb.transactions_count") + nvl0L(col("lcb.transactions_count")))
          .as("transactions_count"),
        (col("ncb.total_tx_fee") + nvl0(col("lcb.total_tx_fee"))).as("total_tx_fee"),
        coalesce(col("lcb.first_transaction_timestamp"),
          col("ncb.first_transaction_timestamp")).as("first_transaction_timestamp"),
        col("ncb.last_transaction_timestamp").as("last_transaction_timestamp"),
        col("ncb.has_negative_balance").as("has_negative_balance"),
        col("ncb.address_partition").as("address_partition"))
  }

  /** The MERGE sink semantics (:294-349) as a DataFrame: matched rows take
    * the update's listed columns but KEEP stored token_symbol and
    * has_negative_balance (the UPDATE SET omits them); unmatched state rows
    * carry forward; unmatched updates insert whole. */
  def applyMerge(state: DataFrame, updates: DataFrame): DataFrame =
    graft.core.Lakehouse.mergeFrames(state, updates,
      Seq("wallet_address", "contract_address"),
      keepFromTarget = Set("token_symbol", "has_negative_balance"))

  /** One incremental cycle: updates computed against `state`, merged back. */
  def incremental(walletTx: DataFrame, state: DataFrame): DataFrame =
    applyMerge(state, incrementalUpdates(walletTx, state))
}
