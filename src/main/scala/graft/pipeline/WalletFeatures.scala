package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's core feature program — ethereum_wallet_features.sql:14-327
  * (SURVEY §7.2 "slice 0") — faithfully, over wallet-transaction rows
  * carrying a `contract_address` ('ETH' for normal/internal value flow, the
  * token address for ERC-20) and a daily token-price table.
  *
  * Reference stages reproduced (with their exact asymmetries):
  *  - ranked_wallet_transactions (:14-55): token-metadata ∪ 'ETH' contract
  *    gate (:47-52); the transaction_index_by_transaction_type CASE
  *    (internal→999, erc20→1000, else transaction_index, :40-44); the
  *    deterministic event order (timestamp, priority, type-index,
  *    receiver-before-sender, :16-27); hash_rank = DENSE_RANK over
  *    (wallet, hash) BY priority — WALLET-WIDE, so a hash spanning
  *    contracts (one tx yielding an ETH row and a token row) counts once
  *    (:45);
  *  - daily_token_prices (:57-68): stage 1 keeps prices at most 7 calendar
  *    days in the PAST of some matching transaction; stage 2 (:70-84) ranks
  *    every candidate within `day(tx) - day(price) <= 7` — the past-only
  *    bound is deliberately DROPPED, so a future price can win — by
  *    absolute time distance, per (contract, tx-timestamp); 'ETH' price is
  *    forced to 1 (:73-76);
  *  - coin_balances (:86-145): THREE running balances over the event order
  *    — native, ETH-priced per contract, ETH-priced per wallet — where the
  *    priced variants value each row at COALESCE(price, 'ETH'→1, else 0)
  *    and the fee is NEVER priced (sender: -value*price - fee, :108-121);
  *    whole-partition totals/counts with the hash_rank=1 dedup (:122-135);
  *  - min/max-ever windows (:148-180) over the priced balances;
  *  - the latest-row pick (:181-256): max (timestamp, type-index), ties
  *    resolved to the highest row number;
  *  - coin_balances_ranked clamps (:199-256): negative balances → 0,
  *    min-ever clamped ≥ 0, max-ever floored at min-ever;
  *  - the contracts map (:263-276) — including the reference's quirk of
  *    repeating min_eth_balance_in_ever_by_contract in the
  *    'max_eth_balance_in_ever' slot (:272) — and the wallet rollup
  *    (:278-327) with the 700000 outlier cap applied ONLY to
  *    MAX(total_balance_in_eth) (:286-289), the all-zero-min CASE
  *    (:292-295), AVG means, and the guarded fee division (:307-310).
  *
  * Determinism extension (documented deviation): the reference's ORDER BY
  * chains end at the role CASE, leaving ties (same wallet, timestamp,
  * priority, type-index, role) engine-ordered; this implementation appends
  * `transaction_hash` as a final unique tie-break so every run and every
  * engine agree. Similarly the price rank breaks exact |Δt| ties on
  * (price timestamp, price).
  *
  * Sums and ROUND(,5) run in DECIMAL(38,6): exact, order-independent at
  * any parallelism (a double SUM would be partition-order-dependent), and
  * a decimal round can never produce the IEEE -0.0 the reference's
  * `CASE = -0.0` guard (:101-107) exists to normalize.
  *
  * Scale shape: ONE explicit repartition on wallet_address up front — every
  * window spec here partitions by wallet_address or a superset, so all six
  * window passes and the final rollup run on that single exchange (sorts
  * only, no further shuffles). The latest-row pick is computed as an argmax
  * (MAX of a (timestamp, type-index, row_num) struct over the unordered
  * partition window) rather than a ROW_NUMBER over a DESC sort — same rows,
  * one fewer sort. The price join is a left join against rank-1 rows keyed
  * by distinct (contract, timestamp) — at 100 TB that dim is too big to
  * broadcast (one row per contract × block-second), so it shuffles; AQE
  * picks broadcast when it genuinely fits. The reference's own incremental
  * query excludes a hand-list of >20M-transaction exchange wallets
  * (:381-390) — the skew such a wallet would put on the wallet_address
  * partitioning is handled there by exclusion, not salting; we keep that
  * contract.
  */
object WalletFeatures {

  /** transaction_index_by_transaction_type (:40-44). Shared with the
    * coin-balances program (ethereum_wallet_coin_balances.sql:16-20). */
  val txIndexByType: Column =
    when(col("transaction_type") === "internal", lit(999L))
      .when(col("transaction_type") === "erc20", lit(1000L))
      .otherwise(col("transaction_index").cast("long"))

  private val roleOrder = when(col("role") === "receiver", 0).otherwise(1)

  /** The deterministic event order (:16-27) + unique tie-break. */
  private def orderKeys: Seq[Column] =
    Seq(col("block_timestamp"), col("priority"), col("tx_index_by_type"),
      roleOrder, col("transaction_hash"))

  /** Tolerate inputs that predate the full reference schema: the order CASE
    * needs transaction_index (0 when absent — only 'normal' rows read it)
    * and token_symbol rides along when present. */
  private def withDefaults(tx: DataFrame): DataFrame = {
    val t0 = if (tx.columns.contains("transaction_index")) tx
             else tx.withColumn("transaction_index", lit(0L))
    t0.withColumn("tx_index_by_type", txIndexByType)
  }

  /** ranked_wallet_transactions' contract gate (:47-52): keep rows whose
    * contract is a known token (decimals > 0, pre-filtered by the caller)
    * or the literal 'ETH' the metadata table lacks. */
  def contractGate(tx: DataFrame, tokenContracts: DataFrame): DataFrame = {
    val dim = tokenContracts.select(col(tokenContracts.columns.head).as("cam"))
      .unionByName(tx.sparkSession.range(1).select(lit("ETH").as("cam")))
    tx.join(dim, tx("contract_address") === dim("cam"), "left_semi")
  }

  /** daily_token_prices + daily_token_prices_ranked (:57-84): rank-1
    * nearest price per distinct (contract, tx-timestamp).
    *
    * `prices` columns: address, price, price_ts (same time unit as
    * block_timestamp). Returns (price_address, price_cb_ts, price).
    */
  def nearestPrices(tx: DataFrame, prices: DataFrame, dayUnit: Long = 86400000000L): DataFrame = {
    val cbTs = tx.select(col("contract_address").as("cb_address"),
      col("block_timestamp").as("cb_ts")).distinct()
    val p = prices.select(col("address").as("p_address"), col("price"), col("price_ts"))
    val pDay = expr(s"price_ts div $dayUnit")
    val cbDay = expr(s"cb_ts div $dayUnit")
    // date_diff('day', price_ts, cb_ts) truncates the EXACT timestamp
    // difference toward zero (so a 23:00 price vs an 01:00 tx 8 calendar
    // days later is still "7 days" apart) — Spark's `div` truncates toward
    // zero too, matching Trino for either sign.
    val dayDiff = expr(s"(cb_ts - price_ts) div $dayUnit")
    // stage 1 (:57-68): a price qualifies if SOME tx on its contract sits
    // on a calendar day >= the price's day AND within 7 truncated days
    // after it (past-only bound is calendar-date, the 7-day bound is the
    // truncated exact diff).
    val stage1 = p.join(cbTs,
        col("p_address") === col("cb_address") &&
          pDay <= cbDay && dayDiff <= 7, "left_semi")
      .distinct()
    // stage 2 (:70-84): candidates per (contract, tx-ts) need only
    // date_diff('day') <= 7 — the past-only bound is DROPPED (a
    // future price may be nearest); rank by |Δt| in the base time unit.
    val cand = cbTs.join(stage1,
      col("cb_address") === col("p_address") && dayDiff <= 7)
    val w = Window.partitionBy("cb_address", "cb_ts")
      .orderBy(abs(col("price_ts") - col("cb_ts")), col("price_ts"), col("price"))
    cand.withColumn("price_rank", row_number().over(w))
      .filter(col("price_rank") === 1)
      .select(col("cb_address").as("price_address"), col("cb_ts").as("price_cb_ts"),
        // :73-76 — the ETH price is always 1
        when(col("cb_address") === "ETH", lit(1.0)).otherwise(col("price")).as("price"))
  }

  /** DECIMAL running sum → ROUND(,5) → double, the reference's balance
    * normalization (:101-107) made exact. */
  private def runningBalance(signed: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
    round(sum(signed.cast("decimal(38,6)"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 5)
      .cast("double")

  /** coin_balances + coin_balances_with_min_max (:86-180): every event row
    * with the three running balances, the per-contract totals, and the
    * min/max-ever windows. `withPrices` must already carry a nullable
    * `price` column (join [[nearestPrices]] output, or null for unpriced
    * runs). */
  def coinBalances(withPrices: DataFrame): DataFrame = {
    val df = withDefaults(withPrices)
      .withColumn("price_eff",
        coalesce(col("price"),
          when(col("contract_address") === "ETH", lit(1.0)).otherwise(lit(0.0))))
      // one shuffle feeds every window below and the wallet rollup — and
      // when the fact scan is catalog-bucketed on wallet_address the
      // shuffle was already paid at write time, so even this goes away
      .transform(graft.core.Lakehouse.clusterBy(_, "wallet_address"))

    val signedNative = when(col("role") === "sender", -col("amount") - col("tx_fee"))
      .otherwise(col("amount"))
    // the fee is never priced (:109): sender = -value*price - fee
    val signedEth = when(col("role") === "sender",
        (-col("amount") * col("price_eff")) - col("tx_fee"))
      .otherwise(col("amount") * col("price_eff"))

    val wHash = Window.partitionBy("wallet_address", "transaction_hash").orderBy("priority")
    val wWalletOrd = Window.partitionBy("wallet_address").orderBy(orderKeys: _*)
    val wContractOrd = Window.partitionBy("wallet_address", "contract_address")
      .orderBy(orderKeys: _*)

    // The reference orders the running sums by (ts, priority, type-index,
    // row_num): row_num was itself assigned along (ts, priority, type-index,
    // role, hash), so ordering by that chain directly is the same total
    // order — and lets the row_number and both per-contract sums share one
    // Window operator (one sort).
    val bal = df.select(col("*"),
      dense_rank().over(wHash).as("hash_rank"),
      runningBalance(signedEth, wWalletOrd).as("bal_eth_wallet"),
      row_number().over(wContractOrd).as("row_num"),
      runningBalance(signedNative, wContractOrd).as("bal_native"),
      runningBalance(signedEth, wContractOrd).as("bal_eth_contract"))

    val wC = Window.partitionBy("wallet_address", "contract_address")
    val wW = Window.partitionBy("wallet_address")
    def decSum(c: Column) = sum(c.cast("decimal(38,6)"))
    bal.select(col("*"),
      coalesce(min(when(col("bal_eth_contract") > 0, col("bal_eth_contract"))).over(wC),
        lit(0.0)).as("min_eth_contract_ever"),
      max(col("bal_eth_contract")).over(wC).as("max_eth_contract_ever"),
      coalesce(min(when(col("bal_eth_wallet") > 0, col("bal_eth_wallet"))).over(wW),
        lit(0.0)).as("min_eth_wallet_ever"),
      max(col("bal_eth_wallet")).over(wW).as("max_eth_wallet_ever"),
      decSum(when(col("role") === "receiver", col("amount") * col("price_eff"))
        .otherwise(lit(0.0))).over(wC).cast("double").as("total_incoming_value_in_eth"),
      decSum(when(col("role") === "sender", col("amount") * col("price_eff"))
        .otherwise(lit(0.0))).over(wC).cast("double").as("total_outgoing_value_in_eth"),
      decSum(col("tx_fee")).over(wC).cast("double").as("total_tx_fee"),
      count(when(col("role") === "receiver" && col("hash_rank") === 1, lit(1))).over(wC)
        .as("incoming_transactions_count"),
      count(when(col("role") === "sender" && col("hash_rank") === 1, lit(1))).over(wC)
        .as("outgoing_transactions_count"),
      count(when(col("hash_rank") === 1, lit(1))).over(wC).as("transactions_count"),
      min("block_timestamp").over(wC).as("first_transaction_timestamp"),
      max("block_timestamp").over(wC).as("last_transaction_timestamp"))
  }

  /** latest_transactions + coin_balances_ranked + _final (:181-261): keep
    * each (wallet, contract)'s row at the max (timestamp, type-index) —
    * highest row number among ties (:247-255) — then apply the clamps
    * (:199-256). Implemented as an argmax over the existing partition
    * window instead of a DESC-sorted ROW_NUMBER (same row, one fewer
    * sort). */
  def finalBalances(cb: DataFrame): DataFrame = {
    val wC = Window.partitionBy("wallet_address", "contract_address")
    val key = struct(col("block_timestamp"), col("tx_index_by_type"), col("row_num"))
    val picked = cb
      .withColumn("latest_key", max(key).over(wC))
      .filter(key === col("latest_key"))
    def clampNeg(c: String) = when(col(c) < 0, lit(0.0)).otherwise(col(c))
    picked.select(
      col("wallet_address"), col("contract_address"), col("address_partition"),
      clampNeg("bal_native").as("total_balance_by_contract"),
      clampNeg("bal_eth_contract").as("total_balance_in_eth_by_contract"),
      clampNeg("bal_eth_wallet").as("total_balance_in_eth"),
      clampNeg("min_eth_contract_ever").as("min_eth_balance_in_ever_by_contract"),
      // :227-230 — max floored at the (pre-clamp) min
      when(col("max_eth_contract_ever") < col("min_eth_contract_ever"),
        col("min_eth_contract_ever")).otherwise(col("max_eth_contract_ever"))
        .as("max_eth_balance_in_ever_by_contract"),
      clampNeg("min_eth_wallet_ever").as("min_eth_balance_in_ever"),
      when(col("max_eth_wallet_ever") < col("min_eth_wallet_ever"),
        col("min_eth_wallet_ever")).otherwise(col("max_eth_wallet_ever"))
        .as("max_eth_balance_in_ever"),
      col("total_incoming_value_in_eth"), col("total_outgoing_value_in_eth"),
      col("total_tx_fee"),
      col("incoming_transactions_count"), col("outgoing_transactions_count"),
      col("transactions_count"),
      col("first_transaction_timestamp"), col("last_transaction_timestamp"))
  }

  /** contracts + wallet_balances (:263-327): the per-contract metric map —
    * with the reference's :272 quirk of repeating the MIN in the
    * 'max_eth_balance_in_ever' slot — rolled up to one feature row per
    * wallet. (The reference builds the map in a self-joined CTE; same rows,
    * so it is built inline here.) */
  def walletBalances(finalCb: DataFrame): DataFrame = {
    def d(c: String) = col(c).cast("double")
    val details = map(
      lit("total_balance"), col("total_balance_by_contract"),
      lit("total_balance_in_eth"), col("total_balance_in_eth_by_contract"),
      lit("total_auc"), lit(0.0),
      lit("total_time_in_ever"), lit(0.0),
      lit("min_eth_balance_in_ever"), col("min_eth_balance_in_ever_by_contract"),
      // :272 — the reference repeats the MIN here, not the MAX
      lit("max_eth_balance_in_ever"), col("min_eth_balance_in_ever_by_contract"),
      lit("total_incoming_value_in_eth"), col("total_incoming_value_in_eth"),
      lit("total_outgoing_value_in_eth"), col("total_outgoing_value_in_eth"),
      lit("total_tx_fee"), col("total_tx_fee"),
      lit("incoming_transactions_count"), d("incoming_transactions_count"),
      lit("outgoing_transactions_count"), d("outgoing_transactions_count"),
      lit("transactions_count"), d("transactions_count"),
      lit("first_transaction_timestamp"), d("first_transaction_timestamp"),
      lit("last_transaction_timestamp"), d("last_transaction_timestamp"))

    def decSum(c: String) = sum(col(c).cast("decimal(38,6)")).cast("double")
    finalCb
      .groupBy("wallet_address", "address_partition")
      .agg(
        max(when(col("contract_address") === "ETH",
          col("total_balance_in_eth_by_contract")).otherwise(lit(0.0)))
          .as("wallet_total_balance_eth_only"),
        max(col("total_balance_in_eth")).as("max_bal_eth"),
        count(lit(1)).as("n_rows"),
        count(when(col("min_eth_balance_in_ever") === 0, lit(1))).as("n_zero_min"),
        min(when(col("min_eth_balance_in_ever") > 0, col("min_eth_balance_in_ever")))
          .as("min_pos_min"),
        max(col("max_eth_balance_in_ever")).as("wallet_max_eth_ever"),
        min(col("first_transaction_timestamp")).as("wallet_first_tx"),
        max(col("last_transaction_timestamp")).as("wallet_last_tx"),
        sum(col("incoming_transactions_count") - col("outgoing_transactions_count"))
          .as("wallet_net_incoming_tx"),
        sum(col("incoming_transactions_count")).as("wallet_total_incoming_tx"),
        sum(col("outgoing_transactions_count")).as("wallet_total_outgoing_tx"),
        decSum("total_incoming_value_in_eth").as("wallet_incoming_transactions_sum"),
        decSum("total_outgoing_value_in_eth").as("wallet_outgoing_transactions_sum"),
        decSum("total_tx_fee").as("misc_total_fees_eth"),
        count(col("contract_address")).as("number_of_contracts"),
        map_from_arrays(collect_list(col("contract_address")), collect_list(details))
          .as("contracts_aggregations"))
      .select(
        col("wallet_address"),
        col("wallet_total_balance_eth_only"),
        // :286-289 — the 700000 outlier cap applies ONLY here
        when(col("max_bal_eth") > 700000, lit(0.0)).otherwise(col("max_bal_eth"))
          .as("wallet_total_balance_in_eth_and_erc20"),
        lit(0.0).as("wallet_total_area_in_eth"),
        lit(0.0).as("wallet_total_time_in_ever"),
        // :292-295 — 0 when every contract's min-ever is 0
        when(col("n_rows") === col("n_zero_min"), lit(0.0)).otherwise(col("min_pos_min"))
          .as("wallet_min_eth_ever"),
        col("wallet_max_eth_ever"),
        col("wallet_first_tx"), col("wallet_last_tx"),
        col("wallet_net_incoming_tx"),
        col("wallet_total_incoming_tx"), col("wallet_total_outgoing_tx"),
        col("wallet_incoming_transactions_sum"), col("wallet_outgoing_transactions_sum"),
        (col("wallet_incoming_transactions_sum") / col("n_rows"))
          .as("wallet_incoming_transactions_mean"),
        (col("wallet_outgoing_transactions_sum") / col("n_rows"))
          .as("wallet_outgoing_transactions_mean"),
        col("misc_total_fees_eth"),
        // :307-310 — guarded division
        when(col("wallet_total_outgoing_tx") === 0, lit(0.0))
          .otherwise(col("misc_total_fees_eth") / col("wallet_total_outgoing_tx"))
          .as("misc_avg_total_fees_eth"),
        col("number_of_contracts"),
        col("contracts_aggregations"),
        col("address_partition"))
  }

  /** The serving-DB export slice
    * (ethereum_wallet_features_data_to_features_db.sql): feature rows
    * whose last activity is past the serving store's high-water mark —
    * the chunked reader (S10) then pages these into the document sink. */
  def featuresDbSlice(features: DataFrame, lastInsertedTs: Long): DataFrame =
    features.filter(col("wallet_last_tx") > lit(lastInsertedTs))
      .drop("address_partition")

  /** The full program: gate → price join → balances → pick/clamp →
    * rollup. Pass `prices`/`tokenContracts` as None for an unpriced run
    * (token rows value at 0, 'ETH' at 1 — the COALESCE fallback). */
  def walletFeatures(walletTx: DataFrame,
      prices: Option[DataFrame] = None,
      tokenContracts: Option[DataFrame] = None,
      dayUnit: Long = 86400000000L): DataFrame =
    walletBalances(finalBalances(coinBalances(
      priced(walletTx, prices, tokenContracts, dayUnit))))

  /** Per-contract grain of the same program (coin_balances_final,
    * :257-261) — the three balance variants with their min/max-ever. */
  def pricedContractBalances(walletTx: DataFrame,
      prices: Option[DataFrame] = None,
      tokenContracts: Option[DataFrame] = None,
      dayUnit: Long = 86400000000L): DataFrame =
    finalBalances(coinBalances(priced(walletTx, prices, tokenContracts, dayUnit)))

  private def priced(walletTx: DataFrame, prices: Option[DataFrame],
      tokenContracts: Option[DataFrame],
      dayUnit: Long = 86400000000L): DataFrame = {
    val gated = tokenContracts.fold(walletTx)(tc => contractGate(walletTx, tc))
    prices match {
      case None => gated.withColumn("price", lit(null).cast("double"))
      case Some(p) =>
        val rank1 = nearestPrices(gated, p, dayUnit)
        gated.join(rank1,
          gated("contract_address") === col("price_address") &&
            gated("block_timestamp") === col("price_cb_ts"),
          "left_outer")
          .drop("price_address", "price_cb_ts")
    }
  }

  // ------------------------------------------------------------------
  // The with-AUC variant (ethereum_wallet_features_with_auc.sql:181-215,
  // 250-310): the same balance pipeline plus time-weighted area-under-
  // the-curve and time-in-positive features.
  // ------------------------------------------------------------------

  /** AUC stages over [[coinBalances]] output:
    *  - time_deposited = LEAD(timestamp) - timestamp per order (:183-186,
    *    W8), 0 at each partition's last row;
    *  - total_auc = running SUM(time_deposited × priced balance) scaled to
    *    balance-DAYS (:190 divides seconds by 60/60/24; our timestamps are
    *    µs so a further /1e6 applies);
    *  - total_time_in_ever = running SUM of time deposited while the
    *    priced balance is positive (:191);
    *  - wallet-level variants over the wallet order, plus their
    *    whole-wallet MAXes (:208-213).
    * The AUC windows order by (timestamp, type-index, row number) — the
    * reference drops `priority` here (:190), which is the same total order
    * because priority is a function of the transaction type. */
  def aucBalances(cb: DataFrame, dayUnit: Long = 86400000000L): DataFrame = {
    val wWalletOrd = Window.partitionBy("wallet_address").orderBy(orderKeys: _*)
    val withRnw = cb.withColumn("row_num_w", row_number().over(wWalletOrd))
    val ordC = Seq(col("block_timestamp"), col("tx_index_by_type"), col("row_num"))
    val ordW = Seq(col("block_timestamp"), col("tx_index_by_type"), col("row_num_w"))
    val wCo = Window.partitionBy("wallet_address", "contract_address").orderBy(ordC: _*)
    val wWo = Window.partitionBy("wallet_address").orderBy(ordW: _*)
    val td = withRnw.select(col("*"),
      coalesce(lead(col("block_timestamp"), 1).over(wCo) - col("block_timestamp"), lit(0L))
        .as("td_c"),
      coalesce(lead(col("block_timestamp"), 1).over(wWo) - col("block_timestamp"), lit(0L))
        .as("td_w"))
    def runFrame(w: org.apache.spark.sql.expressions.WindowSpec) =
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // decimal × decimal (not a double product): µs gaps × balances exceed
    // 2^53, where a double product's rounding would diverge between
    // engines; (20,0) × (18,6) stays exact in both
    // dayUnit/86400 = base-units per second (1e6 for µs, 1 for seconds)
    def aucSum(tdCol: Column, bal: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(tdCol.cast("decimal(20,0)") * bal.cast("decimal(18,6)")).over(runFrame(w))
        .cast("double") / lit(60) / lit(60) / lit(24) / lit(dayUnit / 86400L)
    def timeSum(tdCol: Column, bal: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(when(bal > 0, tdCol).otherwise(lit(0L))).over(runFrame(w))
    val withAuc = td.select(col("*"),
      aucSum(col("td_c"), col("bal_eth_contract"), wCo).as("auc_contract"),
      timeSum(col("td_c"), col("bal_eth_contract"), wCo).as("time_in_contract"),
      aucSum(col("td_w"), col("bal_eth_wallet"), wWo).as("auc_wallet"),
      timeSum(col("td_w"), col("bal_eth_wallet"), wWo).as("time_in_wallet"))
    val wW = Window.partitionBy("wallet_address")
    withAuc.select(col("*"),
      max(col("auc_wallet")).over(wW).as("max_auc_wallet"),
      max(col("time_in_wallet")).over(wW).as("max_time_in_wallet"))
  }

  /** coin_balances_ranked of the AUC variant (:250-310): the same latest
    * pick and clamps as [[finalBalances]] plus the four AUC features —
    * total_auc clamped at 0 (:254-261), the wallet values taken from the
    * whole-wallet MAXes. */
  def aucFinalBalances(cbWithAuc: DataFrame): DataFrame = {
    val wC = Window.partitionBy("wallet_address", "contract_address")
    val key = struct(col("block_timestamp"), col("tx_index_by_type"), col("row_num"))
    val picked = cbWithAuc
      .withColumn("latest_key", max(key).over(wC))
      .filter(key === col("latest_key"))
    def clampNeg(c: String) = when(col(c) < 0, lit(0.0)).otherwise(col(c))
    picked.select(
      col("wallet_address"), col("contract_address"), col("address_partition"),
      clampNeg("bal_native").as("total_balance_by_contract"),
      clampNeg("bal_eth_contract").as("total_balance_in_eth_by_contract"),
      clampNeg("bal_eth_wallet").as("total_balance_in_eth"),
      clampNeg("auc_contract").as("total_auc_contract"),
      clampNeg("max_auc_wallet").as("total_auc_eth"),
      col("time_in_contract").as("total_time_in_ever_contract"),
      col("max_time_in_wallet").as("total_time_in_ever_eth"),
      clampNeg("min_eth_contract_ever").as("min_eth_balance_in_ever_by_contract"),
      when(col("max_eth_contract_ever") < col("min_eth_contract_ever"),
        col("min_eth_contract_ever")).otherwise(col("max_eth_contract_ever"))
        .as("max_eth_balance_in_ever_by_contract"),
      clampNeg("min_eth_wallet_ever").as("min_eth_balance_in_ever"),
      when(col("max_eth_wallet_ever") < col("min_eth_wallet_ever"),
        col("min_eth_wallet_ever")).otherwise(col("max_eth_wallet_ever"))
        .as("max_eth_balance_in_ever"),
      col("total_incoming_value_in_eth"), col("total_outgoing_value_in_eth"),
      col("total_tx_fee"),
      col("incoming_transactions_count"), col("outgoing_transactions_count"),
      col("transactions_count"),
      col("first_transaction_timestamp"), col("last_transaction_timestamp"))
  }

  /** The with-AUC program at per-contract grain. */
  def aucContractBalances(walletTx: DataFrame,
      prices: Option[DataFrame] = None,
      tokenContracts: Option[DataFrame] = None,
      dayUnit: Long = 86400000000L): DataFrame =
    aucFinalBalances(aucBalances(coinBalances(
      priced(walletTx, prices, tokenContracts, dayUnit)), dayUnit))

  // ------------------------------------------------------------------
  // Incremental load (ethereum_wallet_features.sql:331-833): new rows
  // only + the stored state read back out of the contracts map, stitched
  // into the same rollup, MERGEd over the stored table.
  // ------------------------------------------------------------------

  /** The reference's hand-excluded >20M-transaction exchange wallets and
    * oversized-map wallets (:381-390) — the incremental path's skew guard. */
  val ExcludedWallets: Seq[String] = Seq(
    "0xea674fdde714fd979de3edf0f56aa9716b898ec8",
    "0x28c6c06298d514db089934071355e5743bf21d60",
    "0x3f5ce5fbfe3e9af3971dd833d26ba9b5c936f0be",
    "0xa090e606e30bd747d4e6245a1517ebe430f0057e",
    "0xfbb1b73c4f0bda4f67dca266ce6ef42f520fbb98",
    "0x52bc44d5378309ee2abf1539bf71de1b7d7be3b5",
    "0x5b3256965e7c3cf26e11fcaf296dfc8807c01073",
    "0x000000000000000000000000000000000000dead",
    "0x6b75d8af000000e20b7a7ddf000ba900b4009a80")

  /** last_coin_balances_and_wallet_balances (:393-435): the stored feature
    * rows of wallets with new activity (EXISTS pruning via semi join),
    * their contracts map exploded back into per-contract state. The
    * reference round-trips the map values through JSON strings
    * (json_extract_scalar, :403-416); our map is typed so the read-back is
    * element_at + the same casts. `rn` ranks a wallet's contracts by
    * stored last timestamp DESC (:417) — contract_address appended as a
    * deterministic tie-break. */
  def stateContracts(storedFeatures: DataFrame, newWallets: DataFrame): DataFrame = {
    val d = col("d")
    def m(k: String) = element_at(d, k)
    storedFeatures
      .join(newWallets.select(col("wallet_address")).distinct(),
        Seq("wallet_address"), "left_semi")
      .select(
        col("wallet_address"), col("address_partition"),
        col("wallet_total_balance_in_eth_and_erc20").as("old_wallet_bal_eth"),
        col("wallet_min_eth_ever").as("old_wallet_min"),
        col("wallet_max_eth_ever").as("old_wallet_max"),
        explode(col("contracts_aggregations")).as(Seq("contract_address", "d")))
      .select(
        col("wallet_address"), col("address_partition"), col("contract_address"),
        col("old_wallet_bal_eth"), col("old_wallet_min"), col("old_wallet_max"),
        m("total_balance").as("old_bal_c"),
        m("total_balance_in_eth").as("old_bal_ec"),
        m("min_eth_balance_in_ever").as("old_min_ec"),
        m("max_eth_balance_in_ever").as("old_max_ec"),
        m("total_incoming_value_in_eth").as("old_in_ec"),
        m("total_outgoing_value_in_eth").as("old_out_ec"),
        m("total_tx_fee").as("old_fee"),
        m("incoming_transactions_count").cast("long").as("old_in_cnt"),
        m("outgoing_transactions_count").cast("long").as("old_out_cnt"),
        m("transactions_count").cast("long").as("old_tx_cnt"),
        m("first_transaction_timestamp").cast("long").as("old_first_ts"),
        m("last_transaction_timestamp").cast("long").as("old_last_ts"))
      .withColumn("rn", row_number().over(Window.partitionBy("wallet_address")
        .orderBy(col("old_last_ts").desc, col("contract_address"))))
  }

  /** coin_balances → wallet_balances over ONLY-NEW rows + stored state
    * (:437-756): running balances continue from the stored (clamped,
    * rounded) finals; window totals add the stored totals; min/max merge
    * through the :563-589 null-guarded CASEs; untouched contracts carry
    * forward via the :656-688 anti-join UNION; the rollup is the same
    * wallet_balances aggregate. Returns the updated feature rows (the
    * MERGE source) — [[applyMerge]] folds them into the stored table.
    *
    * Faithful incremental quirks kept (each makes incremental diverge from
    * a full recompute in corners the reference accepts):
    *  - the wallet-wide balance's receiver leg values at COALESCE(price, 0)
    *    — NOT the ETH→1 case the by-contract legs use (:507), so an
    *    unpriced ETH receive adds 0 to the wallet-wide stitch;
    *  - stored finals are clamped before storage, so a negative old
    *    balance stitches from 0;
    *  - the stored wallet_total_balance_in_eth_and_erc20 is MAX over
    *    per-contract snapshot rows (each contract's final row carries the
    *    wallet-wide running balance AT THAT CONTRACT'S last event), so for
    *    multi-contract wallets the stitch base is a max-snapshot, not the
    *    wallet's true final;
    *  - missing state COALESCEs to 0 BEFORE the :563-589 min/max merge
    *    CASEs (:503-504, :516-517), which makes those CASEs' IS NULL
    *    branches dead code in the reference itself and pins a brand-new
    *    wallet's min-ever at 0 (a full recompute would report its positive
    *    minimum) — WalletFeaturesIncrementalSpec pins this.
    * WalletFeaturesIncrementalSpec pins strict incremental ≡ full on the
    * single-contract/priced slice where the reference itself is exact. */
  def incrementalUpdates(newTx: DataFrame, storedFeatures: DataFrame,
      prices: Option[DataFrame] = None,
      tokenContracts: Option[DataFrame] = None,
      dayUnit: Long = 86400000000L): DataFrame = {
    val fresh0 = priced(
      newTx.filter(!col("wallet_address").isin(ExcludedWallets: _*)),
      prices, tokenContracts, dayUnit)
    val lcb = stateContracts(storedFeatures, fresh0).alias("lcb")
    val lcb2 = lcb.filter(col("rn") === 1).select(
      col("wallet_address").as("w2"),
      col("old_wallet_bal_eth"), col("old_wallet_min"), col("old_wallet_max")).alias("lcb2")

    // the state joins stay shuffle joins (`merge` hints) even when the
    // stored state handed in is small (a caller may pass only the delta's
    // directories): the fresh rows then take the state's wallet
    // partitioning, and the carry-forward UNION below unions two sides of
    // one partitioning instead of appending the fresh rows' partitions to
    // the state's
    val fresh = withDefaults(fresh0)
      .withColumn("price_eff",
        coalesce(col("price"),
          when(col("contract_address") === "ETH", lit(1.0)).otherwise(lit(0.0))))
      .transform(graft.core.Lakehouse.clusterBy(_, "wallet_address"))
      .alias("n")
      .join(lcb.select(col("wallet_address").as("lw"), col("contract_address").as("lc"),
          col("old_bal_c"), col("old_bal_ec"), col("old_min_ec"), col("old_max_ec"),
          col("old_in_ec"), col("old_out_ec"), col("old_fee"),
          col("old_in_cnt"), col("old_out_cnt"), col("old_tx_cnt"),
          col("old_first_ts"), col("old_last_ts")).hint("merge"),
        col("wallet_address") === col("lw") && col("contract_address") === col("lc"),
        "left_outer").drop("lw", "lc")
      .join(lcb2.hint("merge"), col("wallet_address") === col("w2"), "left_outer").drop("w2")

    val signedNative = when(col("role") === "sender", -col("amount") - col("tx_fee"))
      .otherwise(col("amount"))
    val signedEth = when(col("role") === "sender",
        (-col("amount") * col("price_eff")) - col("tx_fee"))
      .otherwise(col("amount") * col("price_eff"))
    // :507 — the wallet-wide receiver leg prices at COALESCE(price, 0)
    val signedEthWallet = when(col("role") === "sender",
        (-col("amount") * col("price_eff")) - col("tx_fee"))
      .otherwise(col("amount") * coalesce(col("price"), lit(0.0)))

    val wHash = Window.partitionBy("wallet_address", "transaction_hash").orderBy("priority")
    val wWalletOrd = Window.partitionBy("wallet_address").orderBy(orderKeys: _*)
    val wContractOrd = Window.partitionBy("wallet_address", "contract_address")
      .orderBy(orderKeys: _*)
    def stitched(signed: Column, w: org.apache.spark.sql.expressions.WindowSpec,
        old: Column) =
      round(sum(signed.cast("decimal(38,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double") + coalesce(old, lit(0.0)), 5)

    val bal = fresh.select(col("*"),
      dense_rank().over(wHash).as("hash_rank"),
      stitched(signedEthWallet, wWalletOrd, col("old_wallet_bal_eth")).as("bal_eth_wallet"),
      row_number().over(wContractOrd).as("row_num"),
      stitched(signedNative, wContractOrd, col("old_bal_c")).as("bal_native"),
      stitched(signedEth, wContractOrd, col("old_bal_ec")).as("bal_eth_contract"))

    val wC = Window.partitionBy("wallet_address", "contract_address")
    val wW = Window.partitionBy("wallet_address")
    def decSum(c: Column) = sum(c.cast("decimal(38,6)"))
    def mergeMin(old: Column, newMin: Column) =
      when(old.isNull || old > newMin, newMin).otherwise(old)
    def mergeMax(old: Column, newMax: Column) =
      when(old.isNull || old < newMax, newMax).otherwise(old)

    val mm = bal.select(col("*"),
      mergeMin(coalesce(col("old_min_ec"), lit(0.0)),
        coalesce(min(when(col("bal_eth_contract") > 0, col("bal_eth_contract"))).over(wC),
          lit(0.0))).as("min_eth_contract_ever"),
      mergeMax(coalesce(col("old_max_ec"), lit(0.0)),
        max(col("bal_eth_contract")).over(wC)).as("max_eth_contract_ever"),
      mergeMin(coalesce(col("old_wallet_min"), lit(0.0)),
        coalesce(min(when(col("bal_eth_wallet") > 0, col("bal_eth_wallet"))).over(wW),
          lit(0.0))).as("min_eth_wallet_ever"),
      mergeMax(coalesce(col("old_wallet_max"), lit(0.0)),
        max(col("bal_eth_wallet")).over(wW)).as("max_eth_wallet_ever"),
      (decSum(when(col("role") === "receiver", col("amount") * col("price_eff"))
        .otherwise(lit(0.0))).over(wC).cast("double") + coalesce(col("old_in_ec"), lit(0.0)))
        .as("total_incoming_value_in_eth"),
      (decSum(when(col("role") === "sender", col("amount") * col("price_eff"))
        .otherwise(lit(0.0))).over(wC).cast("double") + coalesce(col("old_out_ec"), lit(0.0)))
        .as("total_outgoing_value_in_eth"),
      (decSum(col("tx_fee")).over(wC).cast("double") + coalesce(col("old_fee"), lit(0.0)))
        .as("total_tx_fee"),
      (count(when(col("role") === "receiver" && col("hash_rank") === 1, lit(1))).over(wC)
        + coalesce(col("old_in_cnt"), lit(0L))).as("incoming_transactions_count"),
      (count(when(col("role") === "sender" && col("hash_rank") === 1, lit(1))).over(wC)
        + coalesce(col("old_out_cnt"), lit(0L))).as("outgoing_transactions_count"),
      (count(when(col("hash_rank") === 1, lit(1))).over(wC)
        + coalesce(col("old_tx_cnt"), lit(0L))).as("transactions_count"),
      coalesce(col("old_first_ts"), min("block_timestamp").over(wC))
        .as("first_transaction_timestamp"),
      max("block_timestamp").over(wC).as("last_transaction_timestamp"),
      max(col("row_num")).over(wC).as("max_row_num"))

    // :652 — the incremental picks each contract's LAST ROW by row number
    // (not the (ts, index) argmax of the full load)
    def clampNeg(c: String) = when(col(c) < 0, lit(0.0)).otherwise(col(c))
    val newSide = mm.filter(col("row_num") === col("max_row_num"))
      .select(
        col("wallet_address"), col("contract_address"), col("address_partition"),
        clampNeg("bal_native").as("total_balance_by_contract"),
        clampNeg("bal_eth_contract").as("total_balance_in_eth_by_contract"),
        clampNeg("bal_eth_wallet").as("total_balance_in_eth"),
        clampNeg("min_eth_contract_ever").as("min_eth_balance_in_ever_by_contract"),
        when(col("max_eth_contract_ever") < col("min_eth_contract_ever"),
          col("min_eth_contract_ever")).otherwise(col("max_eth_contract_ever"))
          .as("max_eth_balance_in_ever_by_contract"),
        clampNeg("min_eth_wallet_ever").as("min_eth_balance_in_ever"),
        when(col("max_eth_wallet_ever") < col("min_eth_wallet_ever"),
          col("min_eth_wallet_ever")).otherwise(col("max_eth_wallet_ever"))
          .as("max_eth_balance_in_ever"),
        col("total_incoming_value_in_eth"), col("total_outgoing_value_in_eth"),
        col("total_tx_fee"),
        col("incoming_transactions_count"), col("outgoing_transactions_count"),
        col("transactions_count"),
        col("first_transaction_timestamp"), col("last_transaction_timestamp"))

    // :656-688 — stored contracts the batch did not touch carry forward
    // (wallet-level balances zeroed on the old side)
    val oldSide = lcb
      .join(newSide.select(col("wallet_address").as("nw"), col("contract_address").as("nc")),
        col("wallet_address") === col("nw") && col("contract_address") === col("nc"),
        "left_anti")
      .select(
        col("wallet_address"), col("contract_address"), col("address_partition"),
        col("old_bal_c").as("total_balance_by_contract"),
        col("old_bal_ec").as("total_balance_in_eth_by_contract"),
        lit(0.0).as("total_balance_in_eth"),
        col("old_min_ec").as("min_eth_balance_in_ever_by_contract"),
        col("old_max_ec").as("max_eth_balance_in_ever_by_contract"),
        lit(0.0).as("min_eth_balance_in_ever"),
        lit(0.0).as("max_eth_balance_in_ever"),
        col("old_in_ec").as("total_incoming_value_in_eth"),
        col("old_out_ec").as("total_outgoing_value_in_eth"),
        col("old_fee").as("total_tx_fee"),
        col("old_in_cnt").as("incoming_transactions_count"),
        col("old_out_cnt").as("outgoing_transactions_count"),
        col("old_tx_cnt").as("transactions_count"),
        col("old_first_ts").as("first_transaction_timestamp"),
        col("old_last_ts").as("last_transaction_timestamp"))

    walletBalances(newSide.unionByName(oldSide))
  }

  /** The :760-833 MERGE as a DataFrame: updated wallets replace their
    * stored row wholesale (every feature column is in the UPDATE SET),
    * untouched wallets carry forward, new wallets insert. */
  def applyMerge(storedFeatures: DataFrame, updates: DataFrame): DataFrame =
    graft.core.Lakehouse.mergeFrames(storedFeatures, updates, Seq("wallet_address"))

  /** One incremental cycle against the stored features table. */
  def incremental(newTx: DataFrame, storedFeatures: DataFrame,
      prices: Option[DataFrame] = None,
      tokenContracts: Option[DataFrame] = None,
      dayUnit: Long = 86400000000L): DataFrame =
    applyMerge(storedFeatures,
      incrementalUpdates(newTx, storedFeatures, prices, tokenContracts, dayUnit))

  /** Event-level enrichment used by the AUC module and the incremental
    * stitches: the deterministic order's row number, the wallet-wide
    * hash_rank, and the NATIVE running balance. */
  def enriched(walletTx: DataFrame): DataFrame = {
    val df = withDefaults(walletTx)
    val signed = when(col("role") === "sender", -col("amount") - col("tx_fee"))
      .otherwise(col("amount"))
    val wOrd = Window.partitionBy("wallet_address", "contract_address").orderBy(orderKeys: _*)
    val wHash = Window.partitionBy("wallet_address", "transaction_hash").orderBy("priority")
    df.select(col("*"),
      row_number().over(wOrd).as("row_num"),
      dense_rank().over(wHash).as("hash_rank"),
      runningBalance(signed, wOrd).as("balance"))
  }
}
