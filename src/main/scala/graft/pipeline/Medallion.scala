package graft.pipeline

import graft.core.Lakehouse
import graft.core.Lakehouse.{BucketedTable, FactBuckets}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's 4-layer medallion pipeline (SURVEY.md §0) end-to-end in
  * Spark, over the synthetic `events` stream standing in for transactions:
  *
  *   CSV export → RAW (partitioned parquet, S1/S4)
  *     → STAGE (typed, conflict-dedup'd W12, incremental anti-join S6)
  *     → ANALYTICS (role-pivot UNION §2.7 + JSON props extraction)
  *     → FEATURES (per-user rollup with running-balance features,
  *        incrementally MERGEd with boundary stitching A7/W10, S7)
  *     → SERVING export (document reshape A3 + chunked read S10, the
  *        Mongo-sink analogue S9 modeled as a keyed table)
  *
  * The scale contract of each layer matches the reference's design intent:
  * raw/stage/analytics shuffle only on their partition columns, features
  * shuffles once on user_id, and the incremental path never rescans old
  * event data — new events + the old per-user state are sufficient
  * (the boundary-stitch algebra below), which is the property that makes
  * the pipeline O(delta) instead of O(history) at 100 TB.
  */
object Medallion {

  /** CSV export schema (S1): what an external exporter hands us. */
  val csvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def monthCol = date_format(timestamp_micros(col("ts_us")), "yyyy-MM")

  def rawPath(root: String) = s"$root/raw/events"
  def stagePath(root: String) = s"$root/stage/events"
  def analyticsPath(root: String) = s"$root/analytics/user_transactions"
  def featuresPath(root: String) = s"$root/features/user_features"
  def servingPath(root: String) = s"$root/serving/user_documents"

  /** The analytics fact, bucketed on party: the features layer windows
    * and rolls up on the user key, so its per-run shuffle is paid once at
    * write time (same contract as the domain pipeline's wallet-tx fact);
    * sorted by ts_us for the watermark readers. */
  def analyticsLayout(root: String): BucketedTable =
    BucketedTable.rooted("user_transactions_", root, analyticsPath(root),
      "party", FactBuckets, Seq("ts_us"), Seq("date_partition"))

  /** The features and serving tables, bucketed on their user key like the
    * fact they derive from, hive-partitioned by that key's 256-way bucket
    * directory `user_partition` ([[Lakehouse.keyDir]], one bucket per
    * directory): `user_id`'s for the features, `walletAddress`'s for the
    * serving documents — the engine's analogue of the reference's
    * `address_partition = substr(address, 3, 2)` (ethereum_contracts.sql:16;
    * chunking features_pipeline.py:97-104). An incremental merge rewrites
    * only the directories its delta touches, keeping the merge O(delta),
    * not O(table), at 100 TB. */
  def featuresLayout(root: String): BucketedTable =
    BucketedTable.keyDirected("user_features_", root, featuresPath(root),
      "user_id", FactBuckets, "user_partition")
  def servingLayout(root: String): BucketedTable =
    BucketedTable.keyDirected("user_documents_", root, servingPath(root),
      "walletAddress", FactBuckets, "user_partition")

  def servingTable(root: String): String = servingLayout(root).name

  // ---------------------------------------------------------------- RAW
  /** S1 + S4: schema'd CSV scan, month partition derivation, partitioned
    * append (raw keeps duplicates — dedup is stage's job, as in the
    * reference). */
  def ingestRaw(spark: SparkSession, csvDir: String, root: String): Unit = {
    val df = spark.read.option("header", "true").schema(csvSchema).csv(csvDir)
      .withColumn("date_partition", monthCol)
    Lakehouse.appendPartitioned(df, rawPath(root), Seq("date_partition"))
  }

  // -------------------------------------------------------------- STAGE
  /** W12 conflict dedup (latest row per event_id) + S6 incremental
    * anti-join append guarded by the A1 partition-pruned watermark. */
  def stage(spark: SparkSession, root: String): Unit = {
    def cleaned(from: DataFrame): DataFrame = {
      val w = Window.partitionBy("event_id").orderBy(col("ts_us").desc)
      from.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        .withColumn("ts_readable", timestamp_micros(col("ts_us")))
    }
    val raw = Lakehouse.read(spark, rawPath(root))
    Lakehouse.loadIncremental(spark, stagePath(root),
      watermarkCol = "ts_us", partitionCols = Seq("date_partition"),
      keys = Seq("event_id", "date_partition"),
      full = () => cleaned(raw),
      incremental = wm => cleaned(raw.filter(col("ts_us") > lit(wm.toString.toLong))))
  }

  // ---------------------------------------------------------- ANALYTICS
  /** §2.7 role pivot: each event doubled into an actor view and a
    * counterparty view (counterparty from the JSON props, §2.8), fee borne
    * by the actor side only — the wallet_transactions shape. Shared by
    * the watermark pipeline here and the CDC pipeline ([[MedallionCdc]]). */
  private[pipeline] def pivoted(from: DataFrame): DataFrame = {
    val base = from.withColumn("counterparty",
      coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(-1L)))
    val actor = base.select(col("event_id"), col("ts_us"), col("date_partition"),
      col("user_id").as("party"), lit("actor").as("role"),
      col("event_type"), col("value"),
      (col("value") * lit(0.001)).as("fee"))
    val counter = base.select(col("event_id"), col("ts_us"), col("date_partition"),
      col("counterparty").as("party"), lit("counterparty").as("role"),
      col("event_type"), col("value"), lit(0.0).as("fee"))
    actor.unionByName(counter)
  }

  def analytics(spark: SparkSession, root: String): Unit = {
    val stageDf = Lakehouse.read(spark, stagePath(root))
    Lakehouse.loadIncrementalBucketed(spark, analyticsLayout(root),
      watermarkCol = "ts_us", keys = Seq("event_id", "role", "date_partition"),
      full = () => pivoted(stageDf),
      incremental = wm => pivoted(stageDf.filter(col("ts_us") > lit(wm.toString.toLong))))
  }

  /** [[Lakehouse.readBucketed]] of the analytics fact. */
  def readAnalytics(spark: SparkSession, root: String): DataFrame =
    Lakehouse.readBucketed(spark, analyticsLayout(root))

  // ----------------------------------------------------------- FEATURES
  /** Per-user features over the actor rows. Incremental runs see ONLY the
    * new events plus the stored per-user state; full-history equivalence is
    * guaranteed by the boundary-stitch algebra (the reference's W10/A7):
    *
    *   final' = final_old + Σ delta_new
    *   max'   = max(max_old, final_old + running_max(delta_new))
    *
    * so the running-balance path never has to be replayed. */
  /** New-events aggregate: per-user count/sums plus the running-balance
    * path summary (total delta + max prefix of the delta path). Shared
    * by the watermark features refresh and [[MedallionCdc]]. */
  private[pipeline] def featureDelta(events: DataFrame): DataFrame = {
    val signed = when(col("event_type") === "purchase", col("value"))
      .when(col("event_type") === "error", -col("value")).otherwise(lit(0.0))
    val wRun = Window.partitionBy("party").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("run", sum(signed.cast("decimal(38,6)")).over(wRun).cast("double"))
      .groupBy(col("party").as("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))
          .cast("decimal(38,6)")).cast("double").as("total_purchase_value"),
        min("ts_us").as("first_ts_us"),
        max("ts_us").as("last_ts_us"),
        sum(signed.cast("decimal(38,6)")).cast("double").as("delta_balance"),
        max("run").as("delta_max_run"))
  }

  /** The A7/W10 boundary-stitch merge of a delta aggregate (aliased `d`)
    * against stored per-user state (aliased `o`, covering the delta's
    * users via left join) — shared by the watermark and CDC refreshes. */
  private[pipeline] def stitchFeatures(d: DataFrame, old: DataFrame): DataFrame =
    d.alias("d").join(old.alias("o"), col("d.user_id") === col("o.user_id"), "left_outer")
      .select(
        col("d.user_id").as("user_id"),
        (col("d.n_events") + coalesce(col("o.n_events"), lit(0L))).as("n_events"),
        (col("d.total_purchase_value") + coalesce(col("o.total_purchase_value"), lit(0.0)))
          .as("total_purchase_value"),
        least(col("d.first_ts_us"), coalesce(col("o.first_ts_us"), col("d.first_ts_us")))
          .as("first_ts_us"),
        greatest(col("d.last_ts_us"), coalesce(col("o.last_ts_us"), col("d.last_ts_us")))
          .as("last_ts_us"),
        (coalesce(col("o.final_balance"), lit(0.0)) + col("d.delta_balance"))
          .as("final_balance"),
        greatest(
          coalesce(col("o.max_balance"), lit(Double.MinValue)),
          coalesce(col("o.final_balance"), lit(0.0)) + col("d.delta_max_run"))
          .as("max_balance"))

  def features(spark: SparkSession, root: String): Unit = {
    val t = featuresLayout(root)
    // bucketed read: the delta window + rollup run on the scan's party
    // clustering — zero exchanges (MedallionSpec proves it on the plan)
    val actor = readAnalytics(spark, root).filter(col("role") === "actor")
    if (!Lakehouse.tableExists(spark, t.path)) {
      // bucketed on user_id like the analytics fact it derives from: the
      // incremental stitch join AND the merge's full-outer both ride the
      // layout (zero user-key exchanges, MedallionSpec pins the plan). The
      // delta rollup comes off the bucketed fact already user-clustered
      // (alias-aware partitioning through party→user_id), so the write's
      // bucket alignment costs no shuffle.
      Lakehouse.ctasBucketed(featureDelta(actor).select(
        col("user_id"), col("n_events"), col("total_purchase_value"),
        col("first_ts_us"), col("last_ts_us"),
        col("delta_balance").as("final_balance"),
        col("delta_max_run").as("max_balance")), t)
    } else {
      val wm = Lakehouse.read(spark, t.path).agg(max("last_ts_us")).head.getLong(0)
      val d = featureDelta(actor.filter(col("ts_us") > lit(wm)))
      // A7 state merge with W10 boundary stitch, touched users only.
      // Persisted: the stitched rows feed BOTH the merge's touched-directory
      // probe and its write — without the cache the delta window+agg and
      // the stitch join would run twice. O(delta) merge: only the
      // directories the delta touches are joined against and rewritten;
      // every other directory is untouched on disk (MedallionSpec asserts
      // byte-identity).
      val merged = Lakehouse.alignToBuckets(
        stitchFeatures(d, readFeatures(spark, root)), t).persist()
      try Lakehouse.mergeUpsertBucketed(spark, merged, t, Seq("user_id"))
      finally merged.unpersist()
    }
  }

  /** [[Lakehouse.readBucketed]] of the features table. */
  def readFeatures(spark: SparkSession, root: String): DataFrame =
    Lakehouse.readBucketed(spark, featuresLayout(root))

  /** The reference's Sunday-only OPTIMIZE (features_pipeline.py:128-138)
    * over the features table, riding the quality task. The table is
    * bucketed, so it takes the layout-preserving
    * [[Lakehouse.compactLayout]] (the plain bin-pack [[Lakehouse.compact]]
    * refuses a bucketed layout). Returns whether it ran. */
  def weeklyMaintain(spark: SparkSession, root: String,
      today: java.time.LocalDate): Boolean =
    today.getDayOfWeek == java.time.DayOfWeek.SUNDAY && {
      Lakehouse.compactLayout(spark, featuresLayout(root)); true
    }

  // ------------------------------------------------------------ SERVING
  /** S9/S10: the document-store export — features reshaped into one nested
    * document per user (walletAddress rename + A3 metric map), streamed in
    * driver-side chunks via toLocalIterator (the reference's paginated
    * Athena read), upserted into the serving table. */
  /** The document reshape (A3 metric map + walletAddress rename, and the
    * document's serving directory `user_partition`: its walletAddress's
    * bucket directory) — exposed so specs can assert the export plan's
    * physical shape. */
  def servingDocs(feats: DataFrame): DataFrame =
    feats.select(
      col("user_id").cast("string").as("walletAddress"),
      map(
        lit("n_events"), col("n_events").cast("double"),
        lit("total_purchase_value"), col("total_purchase_value"),
        lit("final_balance"), col("final_balance"),
        lit("max_balance"), col("max_balance")).as("features"),
      col("last_ts_us"))
      .withColumn("user_partition", Lakehouse.keyDir(col("walletAddress")))

  def servingExport(spark: SparkSession, root: String, chunkRows: Int = 1000): Unit = {
    val feats = readFeatures(spark, root)
    val docs = servingDocs(feats)
    // Chunked driver-side pagination (S10): at production scale the sink's
    // client library is driver-bound (Mongo bulk upserts); the iterator
    // bounds driver memory to one chunk. Chunks append into a staging
    // table; ONE mergeUpsert then folds staging into serving — per-chunk
    // merges would re-read and rewrite the whole serving table per chunk
    // (O(chunks × table) I/O).
    import scala.jdk.CollectionConverters._
    val staging = servingPath(root).stripSuffix("/") + ".inbox"
    // Over the BUCKETED features table the chunk boundary is the bucket:
    // the export plan is a pure scan+project — ZERO exchanges (spec-pinned)
    // — and toLocalIterator's one-sequential-job-per-partition walks the
    // table's bucket files. A legacy plain lake keeps the repartition
    // (NOT coalesce — coalesce narrows the whole post-shuffle stage to 4
    // tasks, serializing the upstream feature compute): one extra exchange
    // to bound the pagination at 4 partitions.
    val paged = if (Lakehouse.scanBucketedOn(docs, featuresLayout(root).key)) docs
                else docs.repartition(4)
    val it = paged.toLocalIterator().asScala
    val schema = docs.schema
    it.grouped(chunkRows).foreach { chunk =>
      val batch = spark.createDataFrame(chunk.asJava, schema)
      Lakehouse.appendPartitioned(batch, staging, Nil)
    }
    if (Lakehouse.tableExists(spark, staging)) {
      // the inbox may hold one row per wallet PER EXPORT RUN: a crashed
      // prior run's chunks plus this run's full re-export. The merge
      // needs unique keys or both copies land as duplicate serving
      // documents — keep the freshest state per wallet. last_ts_us is
      // monotone across feature refreshes; equal-timestamp survivors tie-
      // break on a CONTENT hash of the whole payload (the partition key
      // alone is constant within the window and would break nothing):
      // byte-identical replays pick the same bytes either way, and two
      // genuinely different same-timestamp payloads now resolve the same
      // way on every run. Hashed through a JSON serialization because
      // xxhash64 refuses MAP columns (the features map) outright.
      val inboxRaw = Lakehouse.read(spark, staging)
      val wDedup = Window.partitionBy("walletAddress")
        .orderBy(col("last_ts_us").desc,
          xxhash64(to_json(struct(inboxRaw.columns.map(col).toSeq: _*))))
      val inbox = inboxRaw
        .withColumn("_inbox_rank", row_number().over(wDedup))
        .filter(col("_inbox_rank") === 1).drop("_inbox_rank")
      // the merge's touched directories come from `inbox` — the whole
      // deduped inbox table, not the rows streamed this run: a previous run
      // that crashed between append and cleanup leaves its chunks in the
      // inbox, and scoping the merge to only this run's directories would
      // stage those orphan directories WITHOUT their existing serving rows
      // — the directory swap would then drop them. The bucketed serving
      // table: the inbox side (driver-built chunks) pays one small shuffle;
      // the table-sized target side joins in place.
      Lakehouse.mergeUpsertBucketed(spark, inbox, servingLayout(root),
        Seq("walletAddress"))
      val p = new org.apache.hadoop.fs.Path(staging)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** One full cycle, every layer incremental — the Airflow DAG's task chain
    * as a function. */
  def runCycle(spark: SparkSession, csvDir: String, root: String): Unit = {
    ingestRaw(spark, csvDir, root)
    stage(spark, root)
    analytics(spark, root)
    features(spark, root)
  }
}
