package graft

import org.apache.spark.sql.functions._

/** Child process of JoinMaterializedViewSpec's two-sided delta race: a
  * SEPARATE JVM appending fact deltas to base A and dim deltas to base B
  * through the public snapshot API while the parent refreshes the join
  * view concurrently. Batch shapes mirror the spec's facts()/dims()
  * generators exactly (fact_id, fk, v) / (dk, g). Exits 0 only when
  * every append committed. */
object ForkedBaseAppenderMain {
  def main(args: Array[String]): Unit = {
    val Array(aDir, bDir, nStr, factStartStr, dimStartStr) = args.take(5)
    val n = nStr.toInt
    val factStart = factStartStr.toInt
    val dimStart = dimStartStr.toInt
    val spark = graft.core.Graft.session(2, Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-forked-wh").toString))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      (0 until n).foreach { i =>
        // 20 facts per round, fks spanning the growing dim range so the
        // ΔA⋈ΔB cross term is live in every refresh the parent races
        val f0 = factStart + i * 20
        val facts = (f0 until f0 + 20).toDF("id")
          .select(col("id").as("fact_id"), // IntegerType — the parent spec's facts() shape
            (col("id") % (dimStart + (i + 1) * 2)).cast("long").as("fk"),
            (col("id") * 0.5 + 1.0).as("v"))
        graft.core.ManifestSnapshots.appendDelta(facts.coalesce(1), aDir)
        val d0 = dimStart + i * 2
        val dims = (d0 until d0 + 2).toDF("k")
          .select(col("k").cast("long").as("dk"),
            (col("k") % 5).cast("long").as("g"))
        graft.core.ManifestSnapshots.appendDelta(dims.coalesce(1), bDir): Unit
      }
    } finally spark.stop()
  }
}
