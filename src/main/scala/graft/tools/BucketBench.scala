package graft.tools

import graft.core.{Graft, Lakehouse}
import graft.pipeline.{DomainPipeline, WalletFeatures}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off: quantify what the catalog-bucketed fact buys the feature
  * programs — the same wallet-tx frame written plain-partitioned vs
  * bucketed on wallet_address, the flagship program timed over each.
  * The plain read pays the wallet repartition per run; the bucketed scan
  * starts clustered (zero exchanges, DomainPipelineSpec proves the plan),
  * so the delta is the per-run shuffle the write-time bucketing amortizes
  * away. On a real cluster the shuffle is network-bound, so the saving
  * grows with scale; local[32] shows the lower bound.
  *
  * Runs a SCALE CURVE (default 1x/4x/10x of a 1.2M-row base, more wallets
  * at the same per-wallet history — how a chain grows) to show the delta
  * GROWS with volume rather than staying a fixed constant: the plain
  * path's repartition is O(rows) in shuffle writes+reads, while the
  * bucketed scan's advantage is paid once at write time. Args:
  * [rowsEach] [scale1,scale2,...] (scales multiply the wallet count).
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    val rowsEach = args.headOption.map(_.toInt).getOrElse(400)
    val scales = args.lift(1).map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(1, 4, 10))
    val baseWallets = 3000
    val spark = Graft.session()

    def makeTx(nWallets: Int): DataFrame =
      spark.range(nWallets.toLong * rowsEach).select(
        concat(lit("0xw"), format_string("%06d", col("id") % nWallets)).as("wallet_address"),
        md5(col("id").cast("string")).as("transaction_hash"),
        when(pmod(col("id"), lit(2)) === 0, "sender").otherwise("receiver").as("role"),
        concat(lit("0xc"), col("id") % 5).as("contract_address"),
        (col("id") % 100000).as("block_number"),
        lit("normal").as("transaction_type"),
        lit(0L).as("transaction_index"),
        (lit(1704067200L) + col("id") % 864000).as("block_timestamp"),
        lit(1).as("priority"),
        (pmod(col("id"), lit(97)).cast("double") / 10.0).as("amount"),
        lit(0.001).as("tx_fee"),
        substring(md5(col("wallet_address")), 1, 2).as("address_partition"))

    def time(name: String, df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$name%-14s $s%.1f s")
      s
    }
    // warmup (codegen/JIT) on a slice, untimed
    WalletFeatures.walletFeatures(makeTx(200), dayUnit = 86400L)
      .write.format("noop").mode("overwrite").save()

    val rows = scales.map { scale =>
      val nWallets = baseWallets * scale
      val tx = makeTx(nWallets)
      val base = java.nio.file.Files.createTempDirectory(s"bucketbench$scale").toString
      val plainPath = s"$base/plain"
      tx.write.mode("overwrite").parquet(plainPath)
      // the production fact's bucket layout, minus its date partitions
      val fact = DomainPipeline.walletTxLayout(base)
        .copy(name = "bb_fact", path = s"$base/bucketed", partitionCols = Nil)
      spark.sql("DROP TABLE IF EXISTS bb_fact")
      Lakehouse.ctasBucketed(tx, fact)

      // interleave to cancel host drift
      val reps = 3
      val plainSecs = Array.ofDim[Double](reps)
      val bucketSecs = Array.ofDim[Double](reps)
      for (i <- 0 until reps) {
        plainSecs(i) = time(s"plain#$i x$scale",
          WalletFeatures.walletFeatures(spark.read.parquet(plainPath), dayUnit = 86400L))
        bucketSecs(i) = time(s"bucketed#$i x$scale",
          WalletFeatures.walletFeatures(spark.table("bb_fact"), dayUnit = 86400L))
      }
      spark.sql("DROP TABLE IF EXISTS bb_fact")
      val p = plainSecs.min; val b = bucketSecs.min
      (scale, nWallets.toLong * rowsEach, p, b)
    }
    println("SCALE  ROWS       PLAIN_MIN  BUCKETED_MIN  SAVED")
    rows.foreach { case (s, n, p, b) =>
      println(f"x$s%-5d $n%-10d $p%-10.1f $b%-13.1f ${100 * (p - b) / p}%.0f%%")
    }
    spark.stop()
  }
}
