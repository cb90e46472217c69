package graft

import graft.core.Lakehouse
import graft.core.Lakehouse.BucketedTable
import graft.pipeline.{DomainPipeline, Medallion}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A lake written before the one-axis layout — feature and serving tables
  * bucketed on their key but hive-partitioned by an independent directory
  * function, under a `_graft_layout` marker that records no directory
  * rule — takes its next cycle on a fresh catalog: each such table is
  * rewritten once under the key-directory rule, and the lake then equals a
  * twin built under the rule from the start. */
class LayoutMigrationSpec extends SparkSpec {

  private def marker(t: BucketedTable): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.path, "_graft_layout")), "UTF-8")

  /** Rewrite `t` as the previous layout wrote it: the same bucketing, the
    * hive directory `dirCol` = `dir` of the row, no directory rule in the
    * marker, and (like a new JVM) no catalog entry. `drop` names columns
    * the previous layout did not have. */
  private def rewriteAsPrevious(t: BucketedTable, dirCol: String, dir: Column,
      drop: Seq[String] = Nil): Unit = {
    val staged = tmpDir("previous-layout") + "/rows"
    Lakehouse.read(spark, t.path).drop(drop: _*).withColumn(dirCol, dir)
      .write.parquet(staged)
    spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
    val previous = BucketedTable(t.name, t.path, t.key, t.buckets,
      partitionCols = Seq(dirCol))
    Lakehouse.ctasBucketed(spark.read.parquet(staged), previous)
    spark.sql(s"DROP TABLE ${t.name}")
    assert(!marker(t).contains("dirs="))
  }

  /** After the migrating cycle: the marker records the rule, each
    * directory holds one file, and the rows equal the twin's. */
  private def assertMigrated(t: BucketedTable, twin: BucketedTable): Unit = {
    assert(marker(t).contains(s"dirs=${t.partitionCols.head}="), s"${t.path} not migrated")
    val dirs = new java.io.File(t.path).listFiles().filter(_.isDirectory)
    assert(dirs.forall(_.listFiles().count(f => !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")) <= 1), s"${t.path} holds several files in a directory")
    assert(rowStrings(Lakehouse.read(spark, t.path)) ==
      rowStrings(Lakehouse.read(spark, twin.path)), s"${t.path} differs from its twin")
    assert(Lakehouse.scanBucketedOn(Lakehouse.readBucketed(spark, t), t.key),
      s"${t.name} lost its bucket layout")
  }

  test("events DAG: a previous-layout lake migrates on its next maintenance " +
      "or cycle and equals a twin built under the rule") {
    val csv1 = tmpDir("migrate-events-csv1"); val csv2 = tmpDir("migrate-events-csv2")
    LayoutFixtures.writeEvents(spark, csv1, 0L, 3000L)
    LayoutFixtures.writeEvents(spark, csv2, 3000L, 3400L)
    val lake = tmpDir("migrate-events"); val twin = tmpDir("migrate-events-twin")
    def cycle(csv: String)(root: String): Unit = {
      Medallion.runCycle(spark, csv, root); Medallion.servingExport(spark, root)
    }
    Seq(lake, twin).foreach(cycle(csv1))
    // the previous directory function: user_id mod 256, also carried in
    // the serving document
    val previousDir = format_string("%02x", pmod(col("user_id"), lit(256)))
    rewriteAsPrevious(Medallion.featuresLayout(lake), "user_partition", previousDir)
    rewriteAsPrevious(Medallion.servingLayout(lake), "user_partition",
      format_string("%02x", pmod(col("walletAddress").cast("long"), lit(256))))
    dropLakeTables(lake)
    // a reader takes the path read and writes nothing: the upgrade is the
    // next writer's
    val rows = Lakehouse.read(spark, Medallion.featuresPath(lake)).count()
    assert(Medallion.readFeatures(spark, lake).count() == rows)
    assert(!marker(Medallion.featuresLayout(lake)).contains("dirs="),
      "a read rewrote the previous-layout features table")
    // Sunday maintenance is a writer: it upgrades the features table, and
    // the cycle's serving merge upgrades the serving table
    assert(Medallion.weeklyMaintain(spark, lake, java.time.LocalDate.of(2024, 1, 7)))
    assert(marker(Medallion.featuresLayout(lake)).contains("dirs="))
    Seq(lake, twin).foreach(cycle(csv2))
    Seq(Medallion.featuresLayout _, Medallion.servingLayout _).foreach { l =>
      assertMigrated(l(lake), l(twin))
    }
  }

  test("domain DAG: a previous-layout lake migrates on its next cycle; the " +
      "quality gate and Sunday maintenance then equal a twin built under the rule") {
    val csv1 = tmpDir("migrate-domain-csv1"); val csv2 = tmpDir("migrate-domain-csv2")
    LayoutFixtures.writeWalletBatch(csv1, first = 0, n = 60)
    LayoutFixtures.writeWalletBatch(csv2, first = 60, n = 30, wallets = 64)
    val lake = tmpDir("migrate-domain"); val twin = tmpDir("migrate-domain-twin")
    Seq(lake, twin).foreach(DomainPipeline.run(spark, csv1, _))
    // the previous layout: hive-partitioned by the reference's
    // address_partition, no wallet directory column
    Seq(DomainPipeline.featuresLayout(lake), DomainPipeline.coinBalancesLayout(lake))
      .foreach(t => rewriteAsPrevious(t, "address_partition", col("address_partition"),
        drop = t.partitionCols))
    dropLakeTables(lake)
    DomainPipeline.qualityGate(spark, lake)
    assert(!marker(DomainPipeline.featuresLayout(lake)).contains("dirs="),
      "the quality gate rewrote the previous-layout features table")
    // run = ingest -> stage -> analytics -> features -> qualityGate
    Seq(lake, twin).foreach(DomainPipeline.run(spark, csv2, _))
    val layouts = Seq(DomainPipeline.featuresLayout _, DomainPipeline.coinBalancesLayout _)
    layouts.foreach(l => assertMigrated(l(lake), l(twin)))
    dropLakeTables(lake)
    Seq(lake, twin).foreach { l =>
      DomainPipeline.qualityGate(spark, l)
      assert(DomainPipeline.weeklyMaintain(spark, l, java.time.LocalDate.of(2024, 1, 7)))
    }
    layouts.foreach(l => assertMigrated(l(lake), l(twin)))
  }
}
