package graft.pipeline

import graft.core.Lakehouse
import graft.core.Lakehouse.{BucketedTable, FactBuckets}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's WHOLE domain DAG composed end-to-end over the lake:
  *
  *   exporter CSVs → RAW (RawIngestion: receipts merge, blocks enrich)
  *     → STAGE (StageCleaners: per-table dedup/typing behind the
  *       watermark-column switch; topics repaired on the way in)
  *     → ANALYTICS (DomainTransforms: normal/internal/erc20 →
  *       ethereum_wallet_transactions)
  *     → FEATURES (WalletFeatures full-vs-incremental MERGE +
  *       CoinBalances full-vs-incremental MERGE)
  *
  * — i.e. main.py's `--data-lake-layer` dispatch for the Ethereum tables,
  * as one object. External inputs (the rugpull list, daily token prices)
  * arrive as DataFrames; absent stage tables degrade gracefully (empty
  * contracts table = no contract flags, exactly like a fresh lake).
  *
  * Scale: every layer writes date-partitioned parquet; the features MERGE
  * rewrites only the touched wallet directories through a staged swap —
  * [[Lakehouse.mergeUpsertBucketed]] carries both MERGE flavors (whole-row for
  * wallet features; column-selective keepFromTarget for coin balances).
  */
object DomainPipeline {

  def stagePath(lake: String, table: String) = s"$lake/stage/$table"
  def walletTxPath(lake: String) = s"$lake/analytics/ethereum_wallet_transactions"
  def featuresPath(lake: String) = s"$lake/features/ethereum_wallet_features"
  def coinBalancesPath(lake: String) = s"$lake/features/ethereum_wallet_coin_balances"

  /** The wallet-transactions fact, bucketed on wallet_address (see
    * [[analytics]]). Within-bucket sort: the incremental readers filter
    * `block_timestamp > watermark`, so timestamp-ordered row groups give
    * them parquet min/max skipping; `priority` is the next W1 order key. */
  def walletTxLayout(lake: String): BucketedTable =
    BucketedTable.rooted("ethereum_wallet_transactions_", lake, walletTxPath(lake),
      "wallet_address", FactBuckets, Seq("block_timestamp", "priority"),
      Seq("date_partition"))

  /** The two features tables, bucketed on wallet_address like the fact
    * they derive from, hive-partitioned by the wallet's bucket directory
    * `wallet_partition` (one bucket per directory). The reference's
    * `address_partition` (substr(address, 3, 2)) stays a data column. */
  def featuresLayout(lake: String): BucketedTable =
    BucketedTable.keyDirected("ethereum_wallet_features_", lake, featuresPath(lake),
      "wallet_address", FactBuckets, "wallet_partition")
  def coinBalancesLayout(lake: String): BucketedTable =
    BucketedTable.keyDirected("ethereum_wallet_coin_balances_", lake,
      coinBalancesPath(lake), "wallet_address", FactBuckets, "wallet_partition")

  def walletTxTable(lake: String): String = walletTxLayout(lake).name

  private def exists(spark: SparkSession, p: String) = Lakehouse.tableExists(spark, p)

  /** STAGE: each raw table present in the lake flows through its cleaner
    * behind the per-table watermark switch. Logs get the topics repair on
    * the way in (ethereum_logs.sql:15-19). No stage table reads another,
    * so the loads run at once ([[Lakehouse.concurrently]]), like the
    * reference DAG's per-table tasks (dag_ethereum_wallet_transactions.py). */
  def stage(spark: SparkSession, lake: String): Unit = {
    val cleaners: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ethereum_blocks" -> StageCleaners.cleanBlocks,
      "ethereum_transactions" -> StageCleaners.cleanTransactions,
      "ethereum_logs" ->
        ((d: DataFrame) => StageCleaners.cleanGeneric(DomainTransforms.repairLogTopics(d))),
      "ethereum_token_transfers" -> StageCleaners.cleanGeneric,
      "ethereum_traces" -> StageCleaners.cleanTraces,
      "ethereum_contracts" -> StageCleaners.cleanContracts,
      "ethereum_tokens_metadata" -> StageCleaners.cleanTokensMetadata)
    Lakehouse.concurrently(cleaners.collect {
      case (t, clean) if exists(spark, s"$lake/raw/$t") => () =>
        StageCleaners.stageLoad(spark, t, Lakehouse.read(spark, s"$lake/raw/$t"),
          s"$lake/stage", clean)
    })
  }

  private def stageOrEmpty(spark: SparkSession, lake: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = stagePath(lake, table)
    if (exists(spark, p)) Lakehouse.read(spark, p)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** The wallet-transactions row identity for the incremental anti-join
    * guard. transaction_type + the value (reference current_value = our
    * amount) are part of the reference's NOT EXISTS identity
    * (ethereum_wallet_transactions.sql:159-160): a normal leg and an
    * internal leg of the SAME tx share (hash, wallet, role, contract,
    * block) — without the type in the key, whichever leg lands in a later
    * incremental batch would be dropped as a "duplicate". */
  val walletTxIdentityKeys: Seq[String] =
    Seq("transaction_hash", "wallet_address", "role", "contract_address",
      "block_number", "transaction_type", "amount", "date_partition")

  /** ANALYTICS: the three transaction programs → the role-pivoted
    * ethereum_wallet_transactions table, appended incrementally behind a
    * block_number watermark with the identity anti-join guard.
    *
    * The table is written CATALOG-BUCKETED on wallet_address (the
    * reference's materialized address_partition join key,
    * ethereum_wallet_transactions.sql:107,157, made planner-visible): all
    * four feature programs window/aggregate/join on wallet_address, so the
    * wallet shuffle each of them would pay per run is paid ONCE here at
    * write time — [[features]] plans zero wallet-key exchanges
    * (DomainPipelineSpec proves it on the physical plan). */
  def analytics(spark: SparkSession, lake: String,
      rugpulls: Option[DataFrame] = None): Unit = {
    import graft.core.Schemas
    val transactions = Lakehouse.read(spark, stagePath(lake, "ethereum_transactions"))
    val traces = stageOrEmpty(spark, lake, "ethereum_traces", Schemas.traces)
    val blocks = Lakehouse.read(spark, stagePath(lake, "ethereum_blocks"))
    val contracts = stageOrEmpty(spark, lake, "ethereum_contracts", Schemas.contracts)
    val meta = stageOrEmpty(spark, lake, "ethereum_tokens_metadata",
      Schemas.tokensMetadata)
    val transfers = stageOrEmpty(spark, lake, "ethereum_token_transfers",
      Schemas.tokenTransfersRaw)
    val rp = rugpulls.getOrElse(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), Schemas.rugpullMarketData))

    def wtx(minBlock: Option[Long]): DataFrame = {
      def cut(df: DataFrame) = minBlock.fold(df)(b => df.filter(col("block_number") >= b))
      val normal = DomainTransforms.normalTransactions(
        cut(transactions), blocks, contracts, rp, traces)
      val internal = DomainTransforms.internalTransactions(
        cut(traces), transactions, contracts, rp)
      val erc20 = DomainTransforms.erc20Transactions(
        cut(transfers), meta, transactions, traces, contracts, rp)
      DomainTransforms.walletTransactions(normal, internal, erc20)
    }
    Lakehouse.loadIncrementalBucketed(spark, walletTxLayout(lake),
      watermarkCol = "block_number", keys = walletTxIdentityKeys,
      full = () => wtx(None),
      // the reference re-selects the boundary block (>= filter_value, :29);
      // the identity anti-join guard keeps the append duplicate-free
      incremental = wm => wtx(Some(wm.toString.toLong)))
  }

  /** [[Lakehouse.readBucketed]] of the fact and the two features tables:
    * zero-exchange wallet clustering for consumers. */
  def readWalletTx(spark: SparkSession, lake: String): DataFrame =
    Lakehouse.readBucketed(spark, walletTxLayout(lake))
  def readFeatures(spark: SparkSession, lake: String): DataFrame =
    Lakehouse.readBucketed(spark, featuresLayout(lake))
  def readCoinBalances(spark: SparkSession, lake: String): DataFrame =
    Lakehouse.readBucketed(spark, coinBalancesLayout(lake))

  // ----------------------------------------------------- CDC DELTA DISCOVERY

  /** How the last [[features]] refresh found its delta — the spec's pin
    * surface for the CDC-vs-watermark routing. */
  final case class FeatureDiscovery(mode: String, // "cdc" | "watermark" | "full"
      deltaFiles: Seq[String])
  @volatile private[graft] var lastFeatureDiscovery: Option[FeatureDiscovery] = None

  /** File-set ledger beside the features table: the analytics-fact data
    * files the committed feature state incorporates. Underscore-prefixed
    * so every data listing skips it. */
  private def cdcLedgerPath(lake: String) =
    new org.apache.hadoop.fs.Path(featuresPath(lake), "_graft_cdc_files")

  /** The fact's current data files, lake-relative (date_partition dir +
    * name) — one recursive metadata listing, no data I/O. */
  private[graft] def factDataFiles(spark: SparkSession, lake: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(walletTxPath(lake))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Set.empty
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(fs.makeQualified(st.getPath).toString
          .stripPrefix(fs.makeQualified(root).toString).stripPrefix("/"))
      }
    walk(root).toSet
  }

  // torn/absent ledger reads as None → watermark fallback; the write is
  // atomic-visible via the shared marker idiom (old-or-new, never torn)
  private def readCdcLedger(spark: SparkSession, lake: String): Option[Set[String]] =
    graft.core.Markers.read(spark, cdcLedgerPath(lake))
      .map(_.linesIterator.filter(_.nonEmpty).toSet)

  private def writeCdcLedger(spark: SparkSession, lake: String,
      files: Set[String]): Unit =
    graft.core.Markers.write(spark, cdcLedgerPath(lake),
      files.toSeq.sorted.mkString("\n"))

  /** FEATURES: wallet features + coin balances, full load on first run,
    * the reference MERGEs afterwards. `prices` = the daily token price
    * table; the token gate comes from stage tokens_metadata (decimals > 0)
    * when present.
    *
    * DELTA DISCOVERY IS CDC-FIRST (the round-9 unification): the wallet-
    * features increment diffs the fact's current FILE SET against the
    * file-set ledger the committed state incorporates — a metadata-only
    * listing — and reads ONLY the added files, never scanning the fact to
    * find its own delta (at 100 TB, "read the fact to find 0.1% of it" is
    * the cost this removes; the analytics append is file-granular, so
    * added files ARE the delta). The watermark filter stays ON the delta
    * read as the idempotence belt (a crash between merge and ledger write
    * replays to an empty delta), which also makes the CDC read row-for-row
    * identical to the watermark scan it replaces. A lake with no ledger,
    * a torn ledger, or a REWRITTEN fact (compaction: incorporated files
    * vanished) falls back to the watermark scan — the soundness gate —
    * and re-seeds the ledger for the next cycle. The delta pays one
    * delta-sized wallet shuffle to re-align to the bucket layout
    * (alignToBuckets), the right trade against a full-fact discovery scan.
    *
    * Both tables are written CATALOG-BUCKETED on wallet_address, like the
    * fact they derive from: the reference MERGEs into wallet-keyed Iceberg
    * tables (ethereum_wallet_features.sql:760-833) and this is that
    * layout's Spark form. With fact, stored state, and updates all
    * wallet-clustered, the ENTIRE incremental cycle — update computation
    * AND the merge's full-outer join — plans zero wallet-key exchanges
    * (DomainPipelineSpec asserts it on the executed plan); each cycle's
    * cost is the touched partitions' scan + rewrite, not a table shuffle.
    *
    * The two tables are independent branches and run at once
    * ([[Lakehouse.concurrently]]). On the incremental path each branch
    * reads its stored state only from the wallet directories its own delta
    * falls in ([[Lakehouse.inKeyDirsOf]], the reference's per-chunk
    * `partition IN chunk` read): the new fact files for wallet features,
    * the fact rows newer than the coin-balance watermark for coin
    * balances. Only the two whole-table watermark aggregates read every
    * directory. */
  def features(spark: SparkSession, lake: String,
      prices: Option[DataFrame] = None): Unit = {
    // bucketed catalog read: the feature programs' wallet windows/rollups
    // run directly on the scan's wallet clustering — no exchange. Taken
    // (and on a fresh catalog registered) before the fork: both branches
    // read the fact, and one thread creates its catalog entry
    val wtx = readWalletTx(spark, lake)
    val metaP = stagePath(lake, "ethereum_tokens_metadata")
    val gate =
      if (exists(spark, metaP))
        Some(Lakehouse.read(spark, metaP).filter(col("decimals") > 0)
          .select(col("contract_address").as("contract_address_metadata")).distinct())
      else None
    Lakehouse.concurrently(Seq(
      () => walletFeaturesLoad(spark, lake, wtx, prices, gate),
      () => coinBalancesLoad(spark, lake, wtx)))
  }

  /** The wallet-features branch of [[features]]. */
  private def walletFeaturesLoad(spark: SparkSession, lake: String, wtx: DataFrame,
      prices: Option[DataFrame], gate: Option[DataFrame]): Unit = {
    val fT = featuresLayout(lake)
    // the fact's file set, captured ONCE: the delta diff and the post-
    // merge ledger must describe the same snapshot of the fact
    val factFiles = factDataFiles(spark, lake)
    if (!exists(spark, fT.path)) {
      // domain timestamps are epoch SECONDS — dayUnit follows.
      // a rollup off the bucketed fact is wallet-clustered: the write's
      // bucket alignment costs no shuffle
      Lakehouse.ctasBucketed(WalletFeatures.walletFeatures(wtx, prices, gate, dayUnit = 86400L),
        fT)
      lastFeatureDiscovery = Some(FeatureDiscovery("full", factFiles.toSeq.sorted))
      writeCdcLedger(spark, lake, factFiles)
    } else {
      val stored = readFeatures(spark, lake)
      // the reference's whole-table scalar subquery
      val wm = stored.agg(max("wallet_last_tx")).head.getLong(0)
      // CDC-first delta: fresh fact files (file-set diff vs the ledger),
      // watermark-filtered for idempotence — row-identical to the
      // watermark scan, reading only the delta's files. Fallback to the
      // watermark scan when the ledger is absent/torn or the fact was
      // rewritten under it (compaction).
      val base = walletTxPath(lake).stripSuffix("/")
      val newTx = readCdcLedger(spark, lake) match {
        case Some(led) if led.subsetOf(factFiles) =>
          val fresh = (factFiles -- led).toSeq.sorted
          lastFeatureDiscovery = Some(FeatureDiscovery("cdc", fresh))
          if (fresh.isEmpty) wtx.limit(0)
          else spark.read.option("basePath", base)
            .parquet(fresh.map(f => s"$base/$f"): _*)
            .filter(col("block_timestamp") > wm)
        case _ =>
          lastFeatureDiscovery =
            Some(FeatureDiscovery("watermark", factFiles.toSeq.sorted))
          wtx.filter(col("block_timestamp") > wm)
      }
      // aligned to the target's bucket layout BEFORE the cache, so the
      // merge's full-outer join plans zero exchanges (free when the rollup
      // already ends wallet-partitioned at the bucket count; the CDC file read
      // pays one delta-sized shuffle here). The stored state is only semi-
      // joined on the delta's wallets: it is read from their directories
      val updates = Lakehouse.alignToBuckets(WalletFeatures.incrementalUpdates(
          newTx, Lakehouse.inKeyDirsOf(stored, newTx, fT), prices, gate,
          dayUnit = 86400L), fT)
        .persist()
      // :760-833 — whole-row update by wallet; mergeUpsertBucketed IS that
      // MERGE, over the wallet-bucketed target, scoped to the directories
      // the (persisted, small) updates touch: O(delta), never O(table)
      try Lakehouse.mergeUpsertBucketed(spark, updates, fT, Seq("wallet_address"))
      finally updates.unpersist()
      // ledger LAST: a crash before this line leaves the old ledger, and
      // the replayed delta filters to empty rows behind the watermark
      writeCdcLedger(spark, lake, factFiles)
    }
  }

  /** The coin-balances branch of [[features]]. */
  private def coinBalancesLoad(spark: SparkSession, lake: String, wtx: DataFrame): Unit = {
    val cT = coinBalancesLayout(lake)
    if (!exists(spark, cT.path)) {
      Lakehouse.ctasBucketed(CoinBalances.fullLoad(wtx), cT)
    } else {
      val stored = readCoinBalances(spark, lake)
      // the column-selective MERGE (:297-310): matched rows keep stored
      // token_symbol / has_negative_balance. The (wallet, contract) key
      // rides the wallet-only bucketing via subset co-partitioning. The
      // state joins read the directories of this branch's own fresh rows
      // (the fact rows newer than its watermark)
      val updates = Lakehouse.alignToBuckets(CoinBalances.incrementalUpdates(wtx, stored,
          Some(Lakehouse.inKeyDirsOf(stored, CoinBalances.freshRows(wtx, stored), cT))), cT)
        .persist()
      try Lakehouse.mergeUpsertBucketed(spark, updates, cT,
        Seq("wallet_address", "contract_address"),
        keepFromTarget = Set("token_symbol", "has_negative_balance"))
      finally updates.unpersist()
    }
  }

  /** The whole DAG: raw CSVs → stage → analytics → features. */
  def run(spark: SparkSession, csvDir: String, lake: String,
      rugpulls: Option[DataFrame] = None, prices: Option[DataFrame] = None): Unit = {
    RawIngestion.ingest(spark, csvDir, lake)
    stage(spark, lake)
    analytics(spark, lake, rugpulls)
    features(spark, lake, prices)
    qualityGate(spark, lake)
  }

  /** The DAG's FINAL task — the reference runs data quality as a gating
    * pipeline step (features_data_quality_pipeline.py:17-58), not as an
    * ad-hoc query. Gated here are the SIZE-INDEPENDENT invariants: the
    * negative-counter constraints
    * (data_quality_ethereum_wallet_features.sql:1-32) and the
    * referential-integrity orphan audit across the star's construction
    * invariants (every features/coin-balances row aggregates wallet-tx
    * rows, so a wallet_address with no fact row is corruption — a
    * partial delete, a bad restate, or a key-mangling bug). The
    * reference's third check — ≤20% zero-min-ETH share — is a
    * corpus-level HEURISTIC that false-positives on small lakes (2
    * wallets, one legitimately at zero = 50%); it stays available via
    * [[graft.quality.DataQuality.walletFeatureConstraints]] for
    * operators to gate at corpus scale. The three checks run at once
    * ([[graft.quality.DataQuality.gate]]). Throws on any violation,
    * failing the run the way the DAG alerts + fails. */
  def qualityGate(spark: SparkSession, lake: String): Unit = {
    import graft.quality.DataQuality
    val wtx = readWalletTx(spark, lake)
    val feats = readFeatures(spark, lake)
    DataQuality.gate(Seq(
      "wallet_feature_constraints" ->
        DataQuality.walletFeatureConstraints(feats)
          .filter(col("is_fail") &&
            col("constraint_name").contains("negative_counts")),
      "features->wallet_tx orphans" -> DataQuality.orphanedKeys(
        feats, "wallet_address", wtx, "wallet_address",
        "features_wallet_address"),
      "coin_balances->wallet_tx orphans" -> DataQuality.orphanedKeys(
        readCoinBalances(spark, lake), "wallet_address", wtx, "wallet_address",
        "coin_balances_wallet_address")))
  }

  /** The reference's Sunday-only OPTIMIZE (features_pipeline.py:128-138)
    * over the domain tables, all layout-preserving: the features tables
    * take [[Lakehouse.compactLayout]] (a legacy plain-layout lake still
    * gets the bin-pack rewrite); the wallet-tx fact takes
    * [[Lakehouse.compactBucketed]] (each incremental cycle adds one file
    * per touched (bucket, date) — after a week that is 7 files per bucket;
    * compaction folds them back to one). The three tables compact at once
    * ([[Lakehouse.concurrently]]). Returns whether it ran. */
  def weeklyMaintain(spark: SparkSession, lake: String,
      today: java.time.LocalDate): Boolean =
    today.getDayOfWeek == java.time.DayOfWeek.SUNDAY && {
      Lakehouse.concurrently(Seq(
        () => Lakehouse.compactLayout(spark, featuresLayout(lake)),
        () => Lakehouse.compactLayout(spark, coinBalancesLayout(lake)),
        () => Lakehouse.compactBucketed(spark, walletTxLayout(lake))))
      true
    }
}
