package graft

import graft.core.{Graft, Lakehouse}
import graft.pipeline.{Medallion, RawIngestion}
import graft.quality.DataQuality

/** CLI runner mirroring the reference's layer dispatcher (main.py:8-69,
  * `--data-lake-layer {raw,stage,analytics,features,features_data_quality}`):
  * each layer runs its incremental load against the lake root; `all` chains
  * them like the Airflow DAG's task sequence, ending with the DQ gate.
  *
  * Usage: graft.Main --layer <raw|stage|analytics|features|serving|quality|all>
  *                   --lake <rootDir> [--csv <csvDir>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val layer = opts.getOrElse("layer", "all")
    val lake = opts.getOrElse("lake",
      sys.error("--lake <rootDir> is required"))
    val spark = Graft.session()
    try {
      def raw(): Unit = Medallion.ingestRaw(spark,
        opts.getOrElse("csv", sys.error("--csv required for the raw layer")), lake)
      def quality(): Unit = {
        val feats = Lakehouse.read(spark, Medallion.featuresPath(lake))
        val generic = Seq(
          "feature_constraints" -> DataQuality.featureConstraints(
            feats, Seq("n_events"), "n_events", maxZeroRatio = 0.2))
        // domain wallet-features constraints (the reference's three
        // stacked checks) when a wallet-features table is given
        val domain = opts.get("features").toSeq.map { p =>
          "wallet_feature_constraints" ->
            DataQuality.walletFeatureConstraints(Lakehouse.read(spark, p))
              .filter(org.apache.spark.sql.functions.col("is_fail"))
        }
        DataQuality.gate(generic ++ domain)
        // distribution drift rides the same task: this run's stage-layer
        // value histogram vs the stored reference (seeded on first run,
        // advanced only on pass — a failing run keeps the baseline that
        // exposed it)
        DataQuality.driftGate(spark,
          Lakehouse.read(spark, Medallion.stagePath(lake)), "value",
          lake, "stage_value", maxTvd = 0.5, maxPsi = Some(0.25))
          .foreach { case (d, p) =>
            println(f"[graft] drift gate: tvd=$d%.4f psi=$p%.4f") }
        // the reference's Sunday-only OPTIMIZE rides the same task
        if (Medallion.weeklyMaintain(spark, lake, java.time.LocalDate.now()))
          println("[graft] weekly compaction ran")
        println("[graft] data-quality gate passed")
      }
      // domain raw layer (raw_data_ingestion_pipeline.py): exporter CSVs →
      // receipts merge + blocks enrich → partitioned raw parquet
      def rawDomain(): Unit = RawIngestion.ingest(spark,
        opts.getOrElse("csv", sys.error("--csv required for the raw-domain layer")), lake)
      // the domain DAG's remaining layers (DomainPipeline); rugpull/price
      // side inputs are optional CSVs
      def sideInput(opt: String, schema: org.apache.spark.sql.types.StructType) =
        opts.get(opt).map(p =>
          spark.read.option("header", "true").schema(schema).csv(p))
      layer match {
        case "raw"        => raw()
        case "raw-domain" => rawDomain()
        case "stage-domain" => graft.pipeline.DomainPipeline.stage(spark, lake)
        case "analytics-domain" =>
          graft.pipeline.DomainPipeline.analytics(spark, lake,
            sideInput("rugpulls", graft.core.Schemas.rugpullMarketData))
        case "features-domain" =>
          graft.pipeline.DomainPipeline.features(spark, lake,
            sideInput("prices", org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("address",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("price",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("price_ts",
                org.apache.spark.sql.types.LongType)))))
        case "domain-all" =>
          rawDomain()
          graft.pipeline.DomainPipeline.stage(spark, lake)
          graft.pipeline.DomainPipeline.analytics(spark, lake,
            sideInput("rugpulls", graft.core.Schemas.rugpullMarketData))
          graft.pipeline.DomainPipeline.features(spark, lake,
            sideInput("prices", org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("address",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("price",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("price_ts",
                org.apache.spark.sql.types.LongType)))))
        // the domain DAG's Sunday-only OPTIMIZE ride-along
        // (features_pipeline.py:128-138) — bucket-preserving on the fact
        case "maintain-domain" =>
          if (graft.pipeline.DomainPipeline.weeklyMaintain(spark, lake,
              java.time.LocalDate.now()))
            println("[graft] domain weekly maintenance ran")
        case "stage"     => Medallion.stage(spark, lake)
        case "analytics" => Medallion.analytics(spark, lake)
        case "features"  => Medallion.features(spark, lake)
        case "serving"   => Medallion.servingExport(spark, lake)
        case "quality"   => quality()
        case "all" =>
          raw(); Medallion.stage(spark, lake); Medallion.analytics(spark, lake)
          Medallion.features(spark, lake); Medallion.servingExport(spark, lake)
          quality()
        case other => sys.error(s"unknown --layer $other")
      }
      println(s"[graft] layer '$layer' complete at $lake")
    } finally spark.stop()
  }
}
