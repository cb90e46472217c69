package graft

import graft.core.Lakehouse
import graft.pipeline.DomainPipeline
import org.apache.spark.sql.functions._

/** The whole domain DAG end-to-end on exporter-CSV fixtures: raw receipts
  * merge + blocks enrich → stage cleaners → wallet transactions →
  * wallet features + coin balances, then a second incremental cycle. */
class DomainPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, header: String, rows: String*): Unit =
    DomainFixtures.writeCsv(dir, name, header, rows: _*)

  private val txHeader = DomainFixtures.txHeader
  private val rcHeader = DomainFixtures.rcHeader

  /** batch 1 lives in [[DomainFixtures]] (shared with DataQualitySpec's
    * gate case). */
  private def writeBatch1(csv: String): Unit =
    DomainFixtures.writeCsvFixture(spark, csv)

  /** batch 2: 0xbbbb22 sends 0.5 ETH back in block 17000101, one day later. */
  private def writeBatch2(csv: String): Unit = {
    writeCsv(csv, "blocks", "timestamp,number,hash,base_fee_per_gas",
      "1704153600,17000101,bh101,7")
    writeCsv(csv, "transactions", txHeader,
      s"h2,0xbbbb22,0xaaaa11,1,0,21000,1000000000,0,0,500000000000000000,0x,bh101,1704153600,17000101,2")
    writeCsv(csv, "receipts", rcHeader, "h2,17000101,21000,21000,,r,1,1000000000")
    writeCsv(csv, "logs", "log_index,transaction_hash,address,data,topics,block_number",
      "0,h2,0xc,0x,t1|t2,17000101")
    writeCsv(csv, "token_transfers",
      "token_address,from_address,to_address,transaction_hash,value,log_index,block_number",
      "0xtok,0xbbbb22,0xaaaa11,h2,1000,1,17000101")
    writeCsv(csv, "traces",
      "transaction_hash,from_address,to_address,trace_type,call_type,reward_type,trace_id,error,value,gas,gas_used,subtraces,status,block_number",
      "h2,0xbbbb22,0xaaaa11,call,call,,t2,,0,21000,21000,0,1,17000101")
  }

  test("full DAG: CSVs -> raw -> stage -> wallet transactions -> features, then an incremental cycle") {
    val lake = tmpDir("domain-lake")
    val csv1 = tmpDir("domain-csv1")
    writeBatch1(csv1)
    // domain timestamps (and so price_ts) are epoch SECONDS
    val prices = Some(Seq(("ETH", 1.0, 1704067200L), ("0xtok", 2.0, 1704067200L))
      .toDF("address", "price", "price_ts"))
    DomainPipeline.run(spark, csv1, lake, prices = prices)

    // analytics: h1 pivots into sender+receiver rows on BOTH its ETH leg
    // and its token leg (4 rows)
    val wtx = Lakehouse.read(spark, DomainPipeline.walletTxPath(lake))
    assert(wtx.count() == 4)
    val sender = wtx.filter(col("role") === "sender" && col("contract_address") === "ETH")
      .head()
    assert(sender.getAs[String]("wallet_address") == "0xaaaa11")
    assert(sender.getAs[String]("interacted_with") == "0xbbbb22")
    assert(sender.getAs[Double]("amount") == 2.0)
    assert(math.abs(sender.getAs[Double]("tx_fee") - 2.1e-5) < 1e-18)
    assert(sender.getAs[String]("contract_address") == "ETH")

    // features: sender balance = -(2 + 2.1e-5) -> clamped 0; receiver = 2
    val f1 = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
    val a1 = f1.filter(col("wallet_address") === "0xaaaa11").head()
    val b1 = f1.filter(col("wallet_address") === "0xbbbb22").head()
    assert(a1.getAs[Double]("wallet_total_balance_eth_only") == 0.0) // negative clamps
    assert(b1.getAs[Double]("wallet_total_balance_eth_only") == 2.0)
    assert(a1.getAs[Long]("wallet_total_outgoing_tx") == 1)
    assert(b1.getAs[Long]("wallet_total_incoming_tx") == 1)
    // the token leg is PRICED: 1000 raw / 10^4 / 10^4 = 1e-5 TOK valued
    // at the day's 2.0 price -> total_balance_in_eth = 2e-5 for 0xbbbb22
    val bMap = b1.getAs[Map[String, Map[String, Double]]]("contracts_aggregations")
    assert(bMap.keySet == Set("ETH", "0xtok"))
    assert(math.abs(bMap("0xtok")("total_balance_in_eth") - 2e-5) < 1e-12)
    val cb1 = Lakehouse.read(spark, DomainPipeline.coinBalancesPath(lake))
    val cbA = cb1.filter(col("wallet_address") === "0xaaaa11").head()
    assert(cbA.getAs[Boolean]("has_negative_balance"))
    assert(cbA.getAs[Double]("total_balance") == 0.0)

    // ---- incremental cycle: 0xbbbb22 returns 0.5 ETH ----
    val csv2 = tmpDir("domain-csv2")
    writeBatch2(csv2)
    DomainPipeline.run(spark, csv2, lake, prices = prices)

    val wtx2 = Lakehouse.read(spark, DomainPipeline.walletTxPath(lake))
    assert(wtx2.count() == 8)
    val f2 = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
    val b2 = f2.filter(col("wallet_address") === "0xbbbb22").head()
    // stitched: 2 - 0.5 - fee = 1.49998 (h2's own fee 2.1e-5)
    assert(math.abs(b2.getAs[Double]("wallet_total_balance_eth_only") - 1.49998) < 1e-9)
    assert(b2.getAs[Long]("wallet_total_outgoing_tx") == 1)
    assert(b2.getAs[Long]("wallet_total_incoming_tx") == 1)
    val a2 = f2.filter(col("wallet_address") === "0xaaaa11").head()
    // 0xaaaa11 receives 0.5 on a 0-stored balance (the clamp is sticky)
    assert(a2.getAs[Double]("wallet_total_balance_eth_only") == 0.5)
    assert(a2.getAs[Long]("wallet_total_incoming_tx") == 1)
    val cb2 = Lakehouse.read(spark, DomainPipeline.coinBalancesPath(lake))
    val cbB = cb2.filter(col("wallet_address") === "0xbbbb22").head()
    assert(cbB.getAs[Long]("transactions_count") == 2)
    // re-running the SAME batch is a no-op for analytics (anti-join guard)
    DomainPipeline.analytics(spark, lake)
    assert(Lakehouse.read(spark, DomainPipeline.walletTxPath(lake)).count() == 8)
  }

  test("features delta discovery is CDC by default: added files only, watermark fallback after a rewrite") {
    val lake = tmpDir("domain-lake-cdc")
    val csv1 = tmpDir("domain-csv-cdc1")
    writeBatch1(csv1)
    val prices = Some(Seq(("ETH", 1.0, 1704067200L), ("0xtok", 2.0, 1704067200L))
      .toDF("address", "price", "price_ts"))
    DomainPipeline.run(spark, csv1, lake, prices = prices)
    assert(DomainPipeline.lastFeatureDiscovery.exists(_.mode == "full"),
      "first load must record the full-build discovery")
    val filesAfter1 = DomainPipeline.factDataFiles(spark, lake)

    // incremental batch: discovery must be the FILE-SET DIFF — exactly
    // the files analytics added, never a scan of the fact
    val csv2 = tmpDir("domain-csv-cdc2")
    writeBatch2(csv2)
    DomainPipeline.run(spark, csv2, lake, prices = prices)
    val filesAfter2 = DomainPipeline.factDataFiles(spark, lake)
    val fresh = filesAfter2 -- filesAfter1
    assert(fresh.nonEmpty, "precondition: batch 2 must add fact files")
    val d = DomainPipeline.lastFeatureDiscovery.get
    assert(d.mode == "cdc", s"expected CDC discovery, got ${d.mode}")
    assert(d.deltaFiles.toSet == fresh,
      s"CDC delta != added files: ${d.deltaFiles.toSet} vs $fresh")
    // O(delta) pin: the delta is a strict file subset of the fact
    assert(d.deltaFiles.size < filesAfter2.size)
    // and the CDC-discovered increment computed the SAME state the
    // watermark path is pinned to elsewhere
    val f2 = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
    val b2 = f2.filter(col("wallet_address") === "0xbbbb22").head()
    assert(math.abs(b2.getAs[Double]("wallet_total_balance_eth_only") - 1.49998) < 1e-9)

    // a REWRITTEN fact (weekly compaction) invalidates the ledger: the
    // next refresh demotes to the watermark scan (soundness gate), then
    // re-seeds the ledger so the cycle after returns to CDC
    assert(DomainPipeline.weeklyMaintain(spark, lake,
      java.time.LocalDate.of(2024, 1, 7))) // a Sunday
    assert(DomainPipeline.factDataFiles(spark, lake) != filesAfter2,
      "precondition: compaction must rewrite fact files")
    DomainPipeline.features(spark, lake, prices)
    assert(DomainPipeline.lastFeatureDiscovery.exists(_.mode == "watermark"),
      "a rewritten fact must demote discovery to the watermark scan")
    DomainPipeline.features(spark, lake, prices)
    val d3 = DomainPipeline.lastFeatureDiscovery.get
    assert(d3.mode == "cdc" && d3.deltaFiles.isEmpty,
      s"ledger not re-seeded after the fallback: $d3")
    // state unchanged through fallback + empty-delta cycles
    val f3 = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
    assert(math.abs(f3.filter(col("wallet_address") === "0xbbbb22").head()
      .getAs[Double]("wallet_total_balance_eth_only") - 1.49998) < 1e-9)
  }

  test("an empty incremental batch (headers-only CSVs) is a clean no-op") {
    val lake = tmpDir("domain-lake-empty")
    val csv1 = tmpDir("domain-csv-full")
    writeBatch1(csv1)
    val prices = Some(Seq(("ETH", 1.0, 1704067200L), ("0xtok", 2.0, 1704067200L))
      .toDF("address", "price", "price_ts"))
    DomainPipeline.run(spark, csv1, lake, prices = prices)
    val before = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
      .orderBy("wallet_address").collect().toSeq

    // a scheduler tick with no new exported blocks: every CSV has only its
    // header row — the cycle must neither crash nor change any output
    val csvEmpty = tmpDir("domain-csv-empty")
    writeCsv(csvEmpty, "blocks", "timestamp,number,hash,base_fee_per_gas")
    writeCsv(csvEmpty, "transactions", txHeader)
    writeCsv(csvEmpty, "receipts", rcHeader)
    writeCsv(csvEmpty, "logs", "log_index,transaction_hash,address,data,topics,block_number")
    writeCsv(csvEmpty, "token_transfers",
      "token_address,from_address,to_address,transaction_hash,value,log_index,block_number")
    writeCsv(csvEmpty, "traces",
      "transaction_hash,from_address,to_address,trace_type,call_type,reward_type,trace_id,error,value,gas,gas_used,subtraces,status,block_number")
    DomainPipeline.run(spark, csvEmpty, lake, prices = prices)

    assert(Lakehouse.read(spark, DomainPipeline.walletTxPath(lake)).count() == 4)
    val after = Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
      .orderBy("wallet_address").collect().toSeq
    assert(after == before)
  }

  test("the features/coin-balances MERGE plans zero wallet-key exchanges " +
      "over the bucketed tables") {
    import graft.pipeline.{CoinBalances, RawIngestion, WalletFeatures}
    // the tables carry the production layout (Lakehouse.FactBuckets) while
    // this session shuffles into fewer partitions: alignToBuckets is then a
    // real delta-sized repartition, placed BEFORE the cache, and the merge
    // plan over the cached updates must still be wallet-exchange-free.
    val lake = tmpDir("domain-lake-bmerge")
    val prices = Some(Seq(("ETH", 1.0, 1704067200L), ("0xtok", 2.0, 1704067200L))
      .toDF("address", "price", "price_ts"))
    val csv1 = tmpDir("domain-csv-bm1"); writeBatch1(csv1)
    RawIngestion.ingest(spark, csv1, lake)
    DomainPipeline.stage(spark, lake)
    DomainPipeline.analytics(spark, lake)
    DomainPipeline.features(spark, lake, prices)
    // second batch staged through analytics; features computed by hand so
    // the merge plan is inspectable before the write executes
    val csv2 = tmpDir("domain-csv-bm2"); writeBatch2(csv2)
    RawIngestion.ingest(spark, csv2, lake)
    DomainPipeline.stage(spark, lake)
    DomainPipeline.analytics(spark, lake)

    val wtx = DomainPipeline.readWalletTx(spark, lake)
    val stored = DomainPipeline.readFeatures(spark, lake)
    assert(Lakehouse.scanBucketedOn(stored, "wallet_address"),
      "the features table must register as wallet-bucketed")
    val gate = Some(Lakehouse.read(spark,
        DomainPipeline.stagePath(lake, "ethereum_tokens_metadata"))
      .filter(col("decimals") > 0)
      .select(col("contract_address").as("contract_address_metadata")).distinct())
    val wm = stored.agg(max("wallet_last_tx")).head.getLong(0)
    val fT = DomainPipeline.featuresLayout(lake)
    val updates = Lakehouse.alignToBuckets(
      WalletFeatures.incrementalUpdates(wtx.filter(col("block_timestamp") > wm),
        stored, prices, gate, dayUnit = 86400L), fT)
      .persist()
    val touched = Lakehouse.keyDirsOf(updates, fT)
    val mergePlan = Lakehouse.bucketedMergePlan(spark, fT, updates, Seq("wallet_address"))
    assert(countShuffles(mergePlan, onKey = Some("wallet_address")) == 0,
      "the bucketed features MERGE must plan zero wallet exchanges:\n" +
        mergePlan.queryExecution.executedPlan)
    // control: the path-based merge re-shuffles the target every cycle
    val plainPlan = Lakehouse.mergeFrames(
      Lakehouse.read(spark, DomainPipeline.featuresPath(lake))
        .filter(col(fT.partitionCols.head).isin(touched: _*)).drop(fT.partitionCols: _*),
      updates, Seq("wallet_address"))
    assert(countShuffles(plainPlan, onKey = Some("wallet_address")) > 0,
      "control: the path-based merge must shuffle on the wallet key")
    updates.unpersist()

    // coin balances: the (wallet, contract) merge key rides the wallet-only
    // bucketing via subset co-partitioning
    val cbStored = DomainPipeline.readCoinBalances(spark, lake)
    assert(Lakehouse.scanBucketedOn(cbStored, "wallet_address"))
    val cbUpdates = Lakehouse.alignToBuckets(
      CoinBalances.incrementalUpdates(wtx, cbStored), DomainPipeline.coinBalancesLayout(lake))
      .persist()
    val cbPlan = Lakehouse.bucketedMergePlan(spark,
      DomainPipeline.coinBalancesLayout(lake), cbUpdates,
      Seq("wallet_address", "contract_address"),
      keepFromTarget = Set("token_symbol", "has_negative_balance"))
    assert(countShuffles(cbPlan, onKey = Some("wallet_address")) == 0,
      "the bucketed coin-balances MERGE must plan zero wallet exchanges:\n" +
        cbPlan.queryExecution.executedPlan)
    cbUpdates.unpersist()

    // the real merge: values correct AND the layout survives the swap
    DomainPipeline.features(spark, lake, prices)
    val f2 = DomainPipeline.readFeatures(spark, lake)
    assert(Lakehouse.scanBucketedOn(f2, "wallet_address"),
      "the features table must stay bucketed after the staged-swap merge")
    val b2 = f2.filter(col("wallet_address") === "0xbbbb22").head()
    assert(math.abs(b2.getAs[Double]("wallet_total_balance_eth_only") - 1.49998) < 1e-9)
    val cb2 = DomainPipeline.readCoinBalances(spark, lake)
    assert(Lakehouse.scanBucketedOn(cb2, "wallet_address"))
    assert(cb2.filter(col("wallet_address") === "0xbbbb22")
      .head().getAs[Long]("transactions_count") == 2)
  }

  test("a fresh catalog re-registers every bucketed domain table: cycle 2, " +
      "the quality gate and Sunday maintenance equal a twin lake") {
    val prices = Some(Seq(("ETH", 1.0, 1704067200L), ("0xtok", 2.0, 1704067200L))
      .toDF("address", "price", "price_ts"))
    val csv1 = tmpDir("domain-fresh-csv1"); writeBatch1(csv1)
    val csv2 = tmpDir("domain-fresh-csv2"); writeBatch2(csv2)
    val lake = tmpDir("domain-fresh"); val twin = tmpDir("domain-fresh-twin")
    def layouts(l: String) = Seq(DomainPipeline.walletTxLayout(l),
      DomainPipeline.featuresLayout(l), DomainPipeline.coinBalancesLayout(l))
    Seq(lake, twin).foreach(DomainPipeline.run(spark, csv1, _, prices = prices))
    assert(dropLakeTables(lake) == layouts(lake).map(_.name).toSet)
    // run = ingest -> stage -> analytics -> features -> qualityGate
    Seq(lake, twin).foreach(DomainPipeline.run(spark, csv2, _, prices = prices))
    // and the Sunday maintenance, on an empty catalog again
    assert(dropLakeTables(lake) == layouts(lake).map(_.name).toSet)
    Seq(lake, twin).foreach(l => assert(DomainPipeline.weeklyMaintain(spark, l,
      java.time.LocalDate.of(2024, 1, 7))))
    layouts(lake).zip(layouts(twin)).foreach { case (t, w) =>
      assert(rowStrings(Lakehouse.read(spark, t.path)) ==
        rowStrings(Lakehouse.read(spark, w.path)), s"${t.path} differs from its twin")
      assert(Lakehouse.scanBucketedOn(Lakehouse.readBucketed(spark, t), t.key),
        s"${t.name} lost its bucket layout")
    }
  }

  test("feature programs plan ZERO exchanges over the bucketed wallet-tx fact") {
    import graft.pipeline.{CoinBalances, WalletFeatures}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // force AQE to finalize the physical plan
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
        (p match { case _: ShuffleExchangeExec => 1; case _ => 0 }) +
          p.children.map(walk).sum + p.subqueries.map(walk).sum +
          (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
            case _ => 0
          })
      walk(df.queryExecution.executedPlan)
    }

    val lake = tmpDir("domain-lake-bucketed")
    val csv1 = tmpDir("domain-csv-bucketed")
    writeBatch1(csv1)
    DomainPipeline.run(spark, csv1, lake)

    // the catalog read delivers wallet clustering straight from the scan
    val wtx = DomainPipeline.readWalletTx(spark, lake)
    assert(Lakehouse.scanBucketedOn(wtx, "wallet_address"),
      "readWalletTx must resolve to the bucketed catalog table")

    // every feature program: windows + rollup ride the bucket layout —
    // the write-time shuffle is the ONLY wallet shuffle in the pipeline
    val programs = Seq(
      "wallet_features" -> WalletFeatures.walletFeatures(wtx, dayUnit = 86400L),
      "contract_balances" -> WalletFeatures.pricedContractBalances(wtx, dayUnit = 86400L),
      "auc" -> WalletFeatures.aucContractBalances(wtx, dayUnit = 86400L),
      "coin_balances" -> CoinBalances.fullLoad(wtx))
    programs.foreach { case (name, df) =>
      assert(countShuffles(df) == 0,
        s"$name over the bucketed fact must plan zero exchanges:\n" +
          df.queryExecution.executedPlan)
    }

    // parity: the bucketed-input program ≡ the plain-path-input program
    val plain = Lakehouse.read(spark, DomainPipeline.walletTxPath(lake))
    val viaBucket = WalletFeatures.walletFeatures(wtx, dayUnit = 86400L)
      .drop("contracts_aggregations").orderBy("wallet_address").collect().toSeq
    val viaPlain = WalletFeatures.walletFeatures(plain, dayUnit = 86400L)
      .drop("contracts_aggregations").orderBy("wallet_address").collect().toSeq
    assert(viaBucket == viaPlain)

    // the zero-exchange property must SURVIVE incremental appends: a
    // second cycle adds one more file per touched (bucket, partition),
    // and multi-file buckets still scan as one clustered partition
    val csv2 = tmpDir("domain-csv-bucketed2")
    writeBatch2(csv2)
    DomainPipeline.run(spark, csv2, lake)
    val wtx2 = DomainPipeline.readWalletTx(spark, lake)
    assert(wtx2.count() == 8)
    assert(countShuffles(WalletFeatures.walletFeatures(wtx2, dayUnit = 86400L)) == 0,
      "wallet_features must stay exchange-free after an incremental append")

    // Sunday maintenance: the bucketed fact compacts through the
    // layout-preserving path — content identical, programs still
    // exchange-free, and the table re-reads as bucketed
    assert(!DomainPipeline.weeklyMaintain(spark, lake,
      java.time.LocalDate.of(2024, 1, 6))) // Saturday: no-op
    assert(DomainPipeline.weeklyMaintain(spark, lake,
      java.time.LocalDate.of(2024, 1, 7))) // Sunday
    val wtx3 = DomainPipeline.readWalletTx(spark, lake)
    assert(Lakehouse.scanBucketedOn(wtx3, "wallet_address"))
    assert(wtx3.count() == 8)
    assert(countShuffles(WalletFeatures.walletFeatures(wtx3, dayUnit = 86400L)) == 0)

    // a fresh catalog (new session against an existing lake) re-registers
    // the on-disk layout instead of rewriting or falling back to plain
    spark.sql(s"DROP TABLE IF EXISTS ${DomainPipeline.walletTxTable(lake)}")
    val reRead = DomainPipeline.readWalletTx(spark, lake)
    assert(Lakehouse.scanBucketedOn(reRead, "wallet_address"),
      "ensureBucketedTable must re-register an existing bucketed layout")
    assert(reRead.count() == 8)

    // and a PRE-bucketing lake (plain files) must NOT be registered as
    // bucketed — readWalletTx falls back to the plain path read. NOTE:
    // read fresh — a parquet DataFrame pins its file listing at creation,
    // so the pre-append `plain` frame would silently copy the 4-row state
    val plainLake = tmpDir("domain-lake-plain")
    Lakehouse.ctas(Lakehouse.read(spark, DomainPipeline.walletTxPath(lake)),
      DomainPipeline.walletTxPath(plainLake), Seq("date_partition"))
    val fallback = DomainPipeline.readWalletTx(spark, plainLake)
    assert(!Lakehouse.scanBucketedOn(fallback, "wallet_address"))
    assert(fallback.count() == 8)
  }

  test("wallet-tx identity keeps a late-arriving leg of an already-seen tx") {
    // the reference's NOT EXISTS identity includes transaction_type and
    // current_value (ethereum_wallet_transactions.sql:159-160): a normal
    // leg and an internal leg of one tx share every other key column, so
    // when traces stage later than transactions for the boundary block the
    // second leg must still append, not vanish as a "duplicate"
    val path = tmpDir("wtx-identity")
    def leg(ttype: String, amount: Double) =
      Seq(("h1", "0xaaaa11", "sender", "ETH", 17000100L, ttype, amount, "2024-01"))
        .toDF(DomainPipeline.walletTxIdentityKeys: _*)
    Lakehouse.antiJoinAppend(spark, leg("normal", 2.0), path,
      DomainPipeline.walletTxIdentityKeys, Seq("date_partition"))
    Lakehouse.antiJoinAppend(spark, leg("internal", 0.25), path,
      DomainPipeline.walletTxIdentityKeys, Seq("date_partition"))
    // a true re-delivery of the normal leg IS dropped
    Lakehouse.antiJoinAppend(spark, leg("normal", 2.0), path,
      DomainPipeline.walletTxIdentityKeys, Seq("date_partition"))
    val out = Lakehouse.read(spark, path)
    assert(out.count() == 2)
    assert(out.select("transaction_type").as[String].collect().toSet ==
      Set("normal", "internal"))
  }
}
