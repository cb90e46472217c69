package graft

import graft.core.{Graft, Lakehouse}
import graft.core.Lakehouse.BucketedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Catalog bucketing = the pay-the-shuffle-once layout: two tables
  * bucketed on the same key join and aggregate with zero exchanges. */
class BucketingSpec extends SparkSpec {

  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE to finalize the physical plan
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case _: ShuffleExchangeExec => 1
        case _ => 0
      }) + p.children.map(walk).sum +
        p.subqueries.map(walk).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(s.plan)
          case _ => 0
        })
    walk(df.queryExecution.executedPlan)
  }

  test("bucketed compaction collapses per-batch files and keeps the layout; plain compact refuses") {
    val path = tmpDir("bucketed-compact") + "/ev"
    val events = Graft.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    def slice(m: Int) = events.filter(pmod(col("event_id"), lit(3)) === m)
    val t = BucketedTable("ev_compact_t", path, "user_id", 4, sortCols = Seq("user_id"))
    Lakehouse.ctasBucketed(slice(0), t)
    Lakehouse.appendBucketed(slice(1), t)
    Lakehouse.appendBucketed(slice(2), t)
    try {
      def dataFiles() = new java.io.File(path).listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val before = spark.table("ev_compact_t").orderBy("event_id").collect().toSeq
      assert(dataFiles() == 12, "3 batches x 4 buckets")

      // the plain path-based compact must refuse the bucketed layout
      intercept[IllegalArgumentException] {
        Lakehouse.compact(spark, path, Nil)
      }

      Lakehouse.compactBucketed(spark, t)
      assert(dataFiles() == 4, "one file per bucket after compaction")
      val after = spark.table("ev_compact_t").orderBy("event_id").collect().toSeq
      assert(after == before)
      // the layout survived: a key-aggregation still plans zero exchanges
      val agg = spark.table("ev_compact_t").groupBy("user_id")
        .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("total"))
      assert(countShuffles(agg) == 0,
        s"post-compaction scan lost the bucket layout:\n${agg.queryExecution.executedPlan}")
    } finally spark.sql("DROP TABLE IF EXISTS ev_compact_t")
  }

  test("legacy plain lake: increments stay plain until migrateToBucketed upgrades it") {
    import spark.implicits._
    val path = tmpDir("legacy-lake") + "/t"
    val table = "legacy_upgrade_t"
    val t = BucketedTable(table, path, "user", 4, Seq("wm"), Seq("dp"))
    def rows(wm: Long, ids: Long*) =
      ids.map(i => (i, s"u${i % 3}", wm, s"2024-0${1 + i % 2}"))
        .toDF("id", "user", "wm", "dp")
    def loadInc(batch: org.apache.spark.sql.DataFrame): Unit =
      Lakehouse.loadIncrementalBucketed(spark, t,
        watermarkCol = "wm", keys = Seq("id", "dp"),
        full = () => batch, incremental = _ => batch)
    try {
      // a pre-bucketing lake: plain-partitioned files already on disk
      Lakehouse.ctas(rows(1L, 1, 2, 3), path, Seq("dp"))
      // an increment over the legacy layout must land in the SAME plain
      // table (not a warehouse-located bucketed table holding only the
      // delta), and must not register a catalog entry over plain files
      loadInc(rows(2L, 4, 5))
      assert(Lakehouse.read(spark, path).count() == 5)
      assert(!spark.catalog.tableExists(table))
      assert(!Lakehouse.scanBucketedOn(Lakehouse.read(spark, path), "user"))

      // one-time upgrade: same rows, bucketed layout, catalog-visible
      Lakehouse.migrateToBucketed(spark, t)
      assert(Lakehouse.scanBucketedOn(spark.table(table), "user"))
      assert(spark.table(table).count() == 5)

      // increments now append bucket-aligned through the same loader
      loadInc(rows(3L, 6, 7))
      assert(spark.table(table).count() == 7)
      assert(Lakehouse.scanBucketedOn(spark.table(table), "user"))
      // idempotent migrate: no-op once bucketed
      Lakehouse.migrateToBucketed(spark, t)
      assert(spark.table(table).count() == 7)
      // the incremental readers' watermark predicate reaches the bucketed
      // scan (the within-bucket wm sort is what makes the resulting
      // row-group min/max skipping effective)
      val planStr = spark.table(table).filter(col("wm") > 2L)
        .queryExecution.executedPlan.toString
      assert(planStr.contains("PushedFilters") && planStr.contains("GreaterThan(wm,2)"),
        s"watermark predicate must push to the bucketed scan:\n$planStr")
      // fresh-session re-registration recovers BOTH hive partitions (MSCK)
      spark.sql(s"DROP TABLE $table")
      assert(Lakehouse.ensureBucketedTable(spark, t))
      assert(spark.table(table).count() == 7)
      assert(spark.table(table).select("dp").distinct().count() == 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("re-registration refuses a mismatched bucket count") {
    val dir = tmpDir("bucket-mismatch")
    val df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    val t8 = BucketedTable("bm_t8", dir, "k", 8)
    Lakehouse.ctasBucketed(df, t8)
    spark.sql("DROP TABLE bm_t8") // external: files + layout marker stay
    // a different bucket count would claim HashPartitioning(k, 16) over
    // mod-8 files — zero-exchange merges would then pair wrong buckets and
    // silently duplicate instead of replacing. Must refuse loudly.
    val ex = intercept[IllegalArgumentException] {
      Lakehouse.ensureBucketedTable(spark, t8.copy(name = "bm_t16", buckets = 16))
    }
    assert(ex.getMessage.contains("bucket-layout mismatch"))
    assert(!spark.catalog.tableExists("bm_t16"))
    // the true layout re-registers fine
    assert(Lakehouse.ensureBucketedTable(spark, t8.copy(name = "bm_t8b")))
    assert(spark.table("bm_t8b").count() == 100)
  }

  test("re-registration requires partition-type inference off and leaves the conf as it is") {
    val dir = tmpDir("infer-pin")
    val df = spark.range(100).selectExpr("id AS k", "format_string('%02d', id % 3) AS dp")
    val t = BucketedTable("ip_t", dir, "k", 4, partitionCols = Seq("dp"))
    Lakehouse.ctasBucketed(df, t)
    spark.sql("DROP TABLE ip_t")
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    // a session of its own, so the suite's shared conf is never flipped
    val inferring = spark.newSession()
    inferring.conf.set(inferKey, "true")
    val ex = intercept[IllegalArgumentException] {
      Lakehouse.ensureBucketedTable(inferring, t)
    }
    assert(ex.getMessage.contains(inferKey))
    assert(inferring.conf.get(inferKey) == "true")
    assert(!spark.catalog.tableExists("ip_t"))
    // under the pinned conf the "00".."02" directories stay strings
    assert(Lakehouse.ensureBucketedTable(spark, t))
    assert(spark.table("ip_t").schema("dp").dataType.typeName == "string")
    assert(spark.table("ip_t").select("dp").distinct().count() == 3)
  }

  test("same-key bucketed tables join and aggregate with zero exchanges") {
    val events = Graft.table(spark, sf, "events")
      .select(col("user_id"), col("value"), col("event_type"))
    val dir = tmpDir("bucketed-join")
    Lakehouse.ctasBucketed(events,
      BucketedTable("ev_bucketed_a", s"$dir/a", "user_id", 4, sortCols = Seq("user_id")))
    Lakehouse.ctasBucketed(events.filter(col("event_type") === "purchase"),
      BucketedTable("ev_bucketed_b", s"$dir/b", "user_id", 4, sortCols = Seq("user_id")))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("ev_bucketed_a")
      val b = spark.table("ev_bucketed_b")
        .select(col("user_id").as("b_user_id"), col("value").as("b_value"))
      val joined = a.join(b, col("user_id") === col("b_user_id"))
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("total"),
          count(lit(1)).as("n"))
      assert(countShuffles(joined) == 0,
        s"expected exchange-free bucketed join+agg:\n${joined.queryExecution.executedPlan}")

      // the same plan over plain (unbucketed) parquet shuffles both sides
      val pa = tmpDir("plain-a"); val pb = tmpDir("plain-b")
      events.write.mode("overwrite").parquet(pa)
      events.filter(col("event_type") === "purchase").write.mode("overwrite").parquet(pb)
      val ua = spark.read.parquet(pa)
      val ub = spark.read.parquet(pb)
        .select(col("user_id").as("b_user_id"), col("value").as("b_value"))
      val unbucketed = ua.join(ub, col("user_id") === col("b_user_id"))
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("total"),
          count(lit(1)).as("n"))
      assert(countShuffles(unbucketed) > 0, "control: plain parquet must shuffle")

      // identical results either way
      val bu = joined.orderBy("user_id").collect().toSeq
      val un = unbucketed.orderBy("user_id").collect().toSeq
      assert(bu == un, "bucketed join result diverged from the plain join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")
    }
  }
}
