package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic deliveries for the two DAGs, wide enough in keys that every
  * key-partitioned table spreads over many directories and buckets: the
  * sf0.001 events carry fewer users than there are directories, and the
  * domain fixture has two wallets. Deterministic, no randomness. */
object LayoutFixtures {

  /** Events `[from, until)` over `users` users as the exporter's CSV: one
    * event a second from 2024-01-01, purchase/view/error in turn, the
    * counterparty in the JSON props. */
  def writeEvents(spark: SparkSession, dir: String, from: Long, until: Long,
      users: Int = 1500): Unit =
    spark.range(from, until).select(
      col("id").as("event_id"),
      (lit(1704067200000000L) + col("id") * 1000000L).as("ts_us"),
      pmod(col("id") * 7919L, lit(users.toLong)).as("user_id"),
      element_at(array(lit("purchase"), lit("view"), lit("error")),
        (pmod(col("id"), lit(3L)) + 1).cast("int")).as("event_type"),
      (pmod(col("id"), lit(97L)) + 0.5).as("value"),
      format_string("{\"k\":%d}", pmod(col("id") * 31L, lit(users.toLong))).as("props"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  /** Wallet `i`: 40 hex digits whose first two — the reference's
    * `address_partition` — take one of four values, so each such prefix
    * holds wallets of many buckets. */
  def wallet(i: Int): String = f"0x${Seq("0a", "5b", "c3", "f0")(i % 4)}$i%038x"

  /** `n` ETH transfers among `wallets` wallets as exporter CSVs, one per
    * block from block `17000000 + first`, ten minutes apart; the side
    * feeds (logs, token transfers, traces) are header-only. */
  def writeWalletBatch(csv: String, first: Int, n: Int, wallets: Int = 48): Unit = {
    import DomainFixtures.{rcHeader, txHeader, writeCsv}
    val txs = (first until first + n).map { i =>
      val (blk, ts) = (17000000 + i, 1704067200L + i * 600L)
      val (from, to) = (wallet(i % wallets), wallet((i * 7 + 3) % wallets))
      (blk, ts,
        s"h$i,$from,$to,$i,0,21000,1000000000,0,0,${(1 + i % 5) * 100000000000000000L}," +
          s"0x,bh$blk,$ts,$blk,2",
        s"h$i,$blk,21000,21000,,r,1,1000000000")
    }
    writeCsv(csv, "blocks", "timestamp,number,hash,base_fee_per_gas",
      txs.map { case (blk, ts, _, _) => s"$ts,$blk,bh$blk,7" }: _*)
    writeCsv(csv, "transactions", txHeader, txs.map(_._3): _*)
    writeCsv(csv, "receipts", rcHeader, txs.map(_._4): _*)
    writeCsv(csv, "logs", "log_index,transaction_hash,address,data,topics,block_number")
    writeCsv(csv, "token_transfers",
      "token_address,from_address,to_address,transaction_hash,value,log_index,block_number")
    writeCsv(csv, "traces",
      "transaction_hash,from_address,to_address,trace_type,call_type,reward_type,trace_id,error,value,gas,gas_used,subtraces,status,block_number")
  }
}
