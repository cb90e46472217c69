package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The raw-layer ingestion transforms (raw_data_ingestion_pipeline.py):
  * the per-table merges that turn exporter CSVs into the stage-schema'd
  * raw tables.
  *
  *  - transactions ⋈ receipts on (hash, block_number) with the receipt_
  *    prefix renames (:142-172);
  *  - logs / token_transfers / traces ⋈ blocks on block_number for the
  *    block timestamp (+ block hash where the table carries it)
  *    (:256-258, :493-495, :689-691);
  *  - traces' precision clamp: |value| > 1e38 → keep the first 28 digit
  *    chars (:656-670, the P7 shape);
  *  - date_partition = strftime('%Y-%m') of the row's block timestamp
  *    (helpers/data_transformations.py:29-56).
  *
  * Scale: tx⋈receipts is a big-big equi join — both sides shuffle on
  * (hash, block_number), no broadcast. The blocks enrich joins key on
  * block_number; blocks is 1 row per block (orders of magnitude smaller
  * than logs/traces but still tens of millions of rows at full history),
  * so it also stays a shuffle join and AQE may elect broadcast for
  * bounded backfills. The reference does these merges in pandas on one
  * box — the semantics carry over, the execution is distributed.
  */
object RawIngestion {

  /** date_partition from a unix-seconds timestamp column
    * (data_transformations.py:52). */
  def datePartition(tsSeconds: Column): Column =
    date_format(timestamp_seconds(tsSeconds), "yyyy-MM")

  /** traces value clamp (:656-670): magnitude beyond 1e38 keeps only the
    * first 28 characters of the digit string. */
  def clampPrecision(value: Column): Column =
    when(abs(value.try_cast(org.apache.spark.sql.types.DoubleType)) > lit(1e38),
      substring(value, 1, 28)).otherwise(value)

  /** The receipt side of the merge: selected to the reference's columns
    * (plus any `extraCols` a caller needs to carry, e.g. the streaming
    * twin's event-time column), receipt_ prefix renames applied,
    * block_number aliased clear of the tx side. Shared by the batch merge
    * and [[graft.streaming.Streams.domainTxWithReceipts]] so both join the
    * SAME shape. */
  private[graft] def renamedReceipts(receipts: DataFrame,
      extraCols: Seq[String] = Nil): DataFrame = {
    val receiptCols = Seq("transaction_hash", "block_number", "cumulative_gas_used",
      "gas_used", "contract_address", "root", "status", "effective_gas_price")
    val renames = Map(
      "cumulative_gas_used" -> "receipt_cumulative_gas_used",
      "gas_used" -> "receipt_gas_used",
      "contract_address" -> "receipt_contract_address",
      "root" -> "receipt_root",
      "status" -> "receipt_status",
      "effective_gas_price" -> "receipt_effective_gas_price")
    val selected = (receiptCols ++ extraCols).map(col)
    receiptCols.foldLeft(receipts.select(selected: _*)) {
      case (df, c) => renames.get(c).fold(df)(df.withColumnRenamed(c, _))
    }.withColumnRenamed("block_number", "r_block_number")
  }

  /** :142-172 — transactions enriched with their receipt, receipt_ prefix
    * applied, join key dropped, date_partition added. */
  def transactionsWithReceipts(transactions: DataFrame, receipts: DataFrame): DataFrame = {
    val r = renamedReceipts(receipts)
    transactions
      .join(r, transactions("hash") === r("transaction_hash") &&
        transactions("block_number") === r("r_block_number"))
      .drop("transaction_hash", "r_block_number")
      .withColumn("date_partition", datePartition(col("block_timestamp")))
  }

  /** blocks pruned to the enrich columns (the reference passes the whole
    * frame and selects later; Catalyst would prune anyway — being explicit
    * keeps the shuffle narrow). */
  private def blockDim(blocks: DataFrame, withHash: Boolean): DataFrame = {
    val base = blocks.select(col("number"), col("hash").as("b_hash"),
      col("timestamp").as("b_timestamp"))
    if (withHash) base else base.drop("b_hash")
  }

  /** :256-258 — logs get the block timestamp (no block hash column). */
  def logsWithBlocks(logs: DataFrame, blocks: DataFrame): DataFrame =
    logs.join(blockDim(blocks, withHash = false),
        logs("block_number") === col("number"))
      .drop("number")
      .withColumnRenamed("b_timestamp", "block_timestamp")
      .withColumn("date_partition", datePartition(col("block_timestamp")))

  /** :493-495 — token transfers get block timestamp AND block hash. */
  def tokenTransfersWithBlocks(transfers: DataFrame, blocks: DataFrame): DataFrame =
    transfers.join(blockDim(blocks, withHash = true),
        transfers("block_number") === col("number"))
      .drop("number")
      .withColumnRenamed("b_timestamp", "block_timestamp")
      .withColumnRenamed("b_hash", "block_hash")
      .withColumn("date_partition", datePartition(col("block_timestamp")))

  /** :684-695 — traces get block timestamp + hash after the value clamp. */
  def tracesWithBlocks(traces: DataFrame, blocks: DataFrame): DataFrame =
    traces.withColumn("value", clampPrecision(col("value")))
      .join(blockDim(blocks, withHash = true),
        traces("block_number") === col("number"))
      .drop("number")
      .withColumnRenamed("b_timestamp", "block_timestamp")
      .withColumnRenamed("b_hash", "block_hash")
      .withColumn("date_partition", datePartition(col("block_timestamp")))

  /** The whole raw layer: exporter CSVs → the enriched raw tables,
    * appended as date-partitioned parquet under `$lake/raw/`, all tables
    * at once ([[graft.core.Lakehouse.concurrently]]). */
  def ingest(spark: org.apache.spark.sql.SparkSession, csvDir: String, lake: String): Unit = {
    import graft.core.{Lakehouse, Schemas}
    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.option("header", "true").schema(schema).csv(s"$csvDir/$name.csv")
    // blocks enriches three tables — cache the parsed dim once instead of
    // re-parsing the CSV per join
    val blocks = read("blocks", Schemas.rawBlocksCsv).persist()
    val out = Map(
      "ethereum_blocks" -> blocks
        .withColumn("date_partition", datePartition(col("timestamp"))),
      "ethereum_transactions" -> transactionsWithReceipts(
        read("transactions", Schemas.rawTransactionsCsv),
        read("receipts", Schemas.receiptsCsv)),
      "ethereum_logs" -> logsWithBlocks(
        read("logs", Schemas.rawLogsCsv)
          .withColumn("topics", split(col("topics"), "\\|")), blocks),
      "ethereum_token_transfers" -> tokenTransfersWithBlocks(
        read("token_transfers", Schemas.rawTokenTransfersCsv), blocks),
      "ethereum_traces" -> tracesWithBlocks(
        read("traces", Schemas.rawTracesCsv), blocks))
    // the contract-family tables come from separate fetchers — ingest them
    // when their CSVs are present
    val optional = Seq(
      "ethereum_contracts" -> ("contracts", Schemas.rawContractsCsv),
      "ethereum_tokens_metadata" -> ("tokens_metadata", Schemas.rawTokensMetadataCsv))
    // probe via the Hadoop FileSystem API (like Lakehouse.tableExists):
    // java.io.File.exists() is always false for non-local URIs (s3://,
    // hdfs://), which would silently skip these tables on a remote csvDir
    val optionalOut = optional.flatMap { case (table, (file, schema)) =>
      val p = new org.apache.hadoop.fs.Path(s"$csvDir/$file.csv")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(table -> read(file, schema)) else None
    }
    // the tables are independent: their appends share the slots at once
    try Lakehouse.concurrently((out ++ optionalOut).toSeq.map { case (table, df) =>
      () => Lakehouse.appendPartitioned(df, s"$lake/raw/$table", Seq("date_partition"))
    })
    finally blocks.unpersist()
  }
}
