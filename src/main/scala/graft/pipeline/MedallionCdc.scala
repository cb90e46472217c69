package graft.pipeline

import graft.core.ManifestSnapshots
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The medallion FEATURES layer driven by manifest-snapshot CDC — the
  * round-9 lakehouse as the substrate the domain pipeline actually runs
  * on, instead of a parallel world next to it.
  *
  * The plain [[Medallion]] features refresh finds its delta with a
  * watermark SCAN (`ts_us > max(last_ts_us)`) over the analytics fact:
  * correct, but the delta discovery itself reads the fact — and at
  * 100 TB "read the fact to find 0.1% of it" is the cost the snapshot
  * store exists to remove. Here the analytics fact is a
  * [[ManifestSnapshots]] chain and the refresh consumes
  * [[ManifestSnapshots.readChanges]]: the delta is a manifest path-set
  * DIFF resolved on KB-scale metadata, and the read touches ONLY the
  * delta's files (O(delta) inputFiles per cycle — MedallionCdcSpec pins
  * it). The feature algebra itself — the A7/W10 boundary stitch — is
  * SHARED with the watermark pipeline ([[Medallion.featureDelta]] /
  * [[Medallion.stitchFeatures]]), so both refresh modes compute
  * identical state.
  *
  * Feature-state commits are partition-granular copy-on-write: the
  * stitched image of the TOUCHED 256-bucket user partitions replaces
  * exactly those partitions ([[ManifestSnapshots.replacePartitions]]);
  * untouched buckets carry by reference — O(delta) on the write side
  * too, mirroring the plain pipeline's partition-dir swap.
  *
  * Exactly-once, as an order: each refresh writes the incorporated base
  * version into the rows it commits (`base_version` column), and the
  * LEDGER is recovered from the manifest's own zone-map statistics —
  * max over the entries' `base_version` stats, zero data I/O. A crash
  * before the (atomic) replacePartitions commit leaves the ledger
  * unmoved, so the replay re-folds the same delta into the same
  * pre-state: idempotent by construction.
  *
  * Soundness gate inherited from the MV layer: a REWRITING analytics
  * version ([[ManifestSnapshots.replacePartitions]]/compaction —
  * nonempty [[ManifestSnapshots.removedEntries]]) demotes the refresh
  * to a full restate rather than double-count.
  *
  * Reference behavior served: the Iceberg-backed features layer
  * (`ethereum_wallet_features.sql:331-833`) whose incremental MERGE
  * chunks scope work to changed partitions (`features_pipeline.py:
  * 97-113`) — here the change discovery itself is metadata-only.
  */
object MedallionCdc {

  /** How a refresh ran — the spec's O(delta) pin surface. */
  final case class CdcRefreshStats(
      mode: String, // "full" | "incremental" | "noop"
      baseVersion: Long,
      deltaFiles: Long,
      deltaRows: Long)

  def analyticsDir(root: String): String =
    s"${root.stripSuffix("/")}/analytics_chain/user_transactions"
  def featuresDir(root: String): String =
    s"${root.stripSuffix("/")}/features_chain/user_features"

  /** Land a STAGE batch into the analytics chain: role-pivot (the same
    * [[Medallion.pivoted]] the watermark pipeline uses) appended as an
    * O(delta) version behind the row-identity replay guard — a
    * redelivered batch admits nothing and creates no version. */
  def appendAnalytics(spark: SparkSession, root: String,
      stageRows: DataFrame): Long =
    ManifestSnapshots.appendDeltaGuarded(spark, analyticsDir(root),
      Medallion.pivoted(stageRows), keys = Seq("event_id", "role"))

  /** The analytics chain's WAP audit: the pivot invariants every row
    * publish would make visible must satisfy — keyed identity present,
    * a real party, a known role, non-negative money columns. Runs on
    * the STAGED branch read (parent + fresh, exactly the post-publish
    * image), and every predicate is parquet-pushdown-able, so the probe
    * is a pruned scan + LIMIT 1, not a full materialization; an audit
    * that needs tighter cost can re-audit only the fresh partitions. */
  def analyticsAudit(staged: DataFrame): Boolean =
    staged.filter(col("event_id").isNull || col("party").isNull ||
        !col("role").isin("actor", "counterparty") ||
        col("value") < 0 || col("fee") < 0)
      .limit(1).isEmpty

  /** The STREAMING front door — the exactly-once ingest the WAP layer
    * exists for: each stage micro-batch is role-pivoted (the same
    * [[Medallion.pivoted]] as the batch path, so both doors land the
    * identical shape), staged on an isolated branch, AUDITED on exactly
    * the rows publish would expose, and promoted by one fast-forward
    * manifest commit. Streams.foreachBatchWapAppend's single-marker
    * ledger + publish-evidence replay makes every crash window re-admit
    * without duplicating (StreamingSpec pins the windows; the
    * MedallionCdcSpec case pins this wiring end-to-end against the batch
    * pipeline's incremental ≡ full law). A batch the audit rejects is
    * dropped loudly-by-record: no chain version is created, the ledger
    * advances past it, and downstream CDC refreshes never see it. */
  def ingestAnalyticsStream(spark: SparkSession, root: String,
      stageRows: DataFrame, checkpoint: String,
      audit: DataFrame => Boolean = analyticsAudit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.foreachBatchWapAppend(
      Medallion.pivoted(stageRows), analyticsDir(root), checkpoint, audit)

  /** The analytics-chain version the committed feature state
    * incorporates — recovered from the feature store's manifest zone
    * maps (max of the `base_version` column stats: metadata-only), with
    * a one-scan fallback for stats-less entries. None = no state yet. */
  def incorporatedVersion(spark: SparkSession, root: String): Option[Long] = {
    val fDir = featuresDir(root)
    ManifestSnapshots.latestVersion(spark, fDir).flatMap { v =>
      val es = ManifestSnapshots.entriesOf(spark, fDir, v)
      es.flatMap(_.stats.get("base_version")).map(_._2.toLong).maxOption
        .orElse {
          val r = ManifestSnapshots.read(spark, fDir, v)
            .agg(max("base_version")).head()
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
    }
  }

  /** Serve the committed per-user feature state (ledger column off). */
  def serveFeatures(spark: SparkSession, root: String): DataFrame =
    ManifestSnapshots.readLatest(spark, featuresDir(root)).drop("base_version")

  /** The feature store's 256-way user directory, `user_id mod 256` in two
    * hex digits — the rule every committed store is written under. A
    * refresh reads back only the directories of the delta's users, so a
    * changed rule would miss a user's stored row and commit a second one.
    * The store is not bucketed: [[Medallion]]'s bucket directory buys it
    * nothing. */
  private def userPartition(userId: Column): Column =
    format_string("%02x", pmod(userId, lit(256)))

  private def featureImage(d: DataFrame): DataFrame =
    d.select(
      col("user_id"), col("n_events"), col("total_purchase_value"),
      col("first_ts_us"), col("last_ts_us"),
      col("delta_balance").as("final_balance"),
      col("delta_max_run").as("max_balance"),
      userPartition(col("user_id")).as("user_partition"))

  /** Bring the feature state up to the analytics chain's committed
    * version. Incremental (CDC delta files only) when state exists and
    * the chain grew append-only since; full restate on first run or
    * after a rewriting chain version; noop when current. */
  def refreshFeatures(spark: SparkSession, root: String): CdcRefreshStats = {
    val aDir = analyticsDir(root)
    val fDir = featuresDir(root)
    val curV = ManifestSnapshots.latestVersion(spark, aDir).getOrElse(
      throw new IllegalStateException(s"no committed analytics chain under $aDir"))
    def fullRestate(): CdcRefreshStats = {
      val entries = ManifestSnapshots.entriesOf(spark, aDir, curV)
      val all = ManifestSnapshots.read(spark, aDir, curV)
        .filter(col("role") === "actor")
      val image = featureImage(Medallion.featureDelta(all))
        .withColumn("base_version", lit(curV))
      ManifestSnapshots.writeFull(image, fDir, Seq("user_partition"))
      CdcRefreshStats("full", curV, entries.size.toLong, entries.map(_.rows).sum)
    }
    incorporatedVersion(spark, root) match {
      case Some(bv) if bv == curV =>
        CdcRefreshStats("noop", curV, 0L, 0L)
      case Some(bv) if bv < curV
          && scala.util.Try(
            ManifestSnapshots.removedEntries(spark, aDir, bv, curV))
            .toOption.exists(_.isEmpty) =>
        val added = ManifestSnapshots.addedEntries(spark, aDir, bv, curV)
        if (added.isEmpty) return CdcRefreshStats("noop", curV, 0L, 0L)
        // O(delta): ONLY the added files are read — no watermark scan of
        // the fact, no probe of the stored state beyond touched buckets
        val deltaEvents = ManifestSnapshots.readFiles(spark, aDir, added)
          .filter(col("role") === "actor")
        val d = Medallion.featureDelta(deltaEvents).persist()
        try {
          if (d.isEmpty) CdcRefreshStats("noop", curV, added.size.toLong, 0L)
          else {
            val touched = d
              .select(userPartition(col("user_id")).as("p"))
              .distinct().collect().map(_.getString(0)).toSeq
            // partition image = stitched delta users + carried old users
            // of the SAME buckets (partition pruning bounds the old read)
            val oldTouched = serveFeatures(spark, root)
              .filter(col("user_partition").isin(touched: _*))
            // ORDER gate: the boundary-stitch algebra (max' = max(max_old,
            // final_old + running_max(delta))) is exact only when every
            // delta event sorts AFTER the user's incorporated events. A
            // LATE event (delta first_ts ≤ stored last_ts) would make the
            // incremental state diverge from a full restate — so it
            // demotes this refresh to the restate instead, the same
            // soundness-gate discipline as the rewritten-chain case. The
            // probe rides the join the stitch pays anyway (bucket-pruned,
            // delta-user-sized).
            val late = d.alias("d")
              .join(oldTouched.alias("o"), col("d.user_id") === col("o.user_id"))
              .filter(col("d.first_ts_us") <= col("o.last_ts_us"))
              .limit(1).count() > 0
            if (late) fullRestate()
            else {
              val stitched = Medallion.stitchFeatures(d, oldTouched)
                .withColumn("user_partition", userPartition(col("user_id")))
              val carried = oldTouched
                .join(d.select("user_id"), Seq("user_id"), "left_anti")
              val image = stitched.unionByName(carried)
                .withColumn("base_version", lit(curV))
              ManifestSnapshots.replacePartitions(image, fDir, Seq("user_partition"))
              CdcRefreshStats("incremental", curV,
                added.size.toLong, added.map(_.rows).sum)
            }
          }
        } finally { d.unpersist(): Unit }
      case _ =>
        // first refresh, rewritten chain range, or state ahead of a
        // rolled-back chain: restate from the chain's committed version
        fullRestate()
    }
  }

  /** One CDC cycle: land the stage batch, fold it into the features. */
  def runCycle(spark: SparkSession, root: String,
      stageRows: DataFrame): CdcRefreshStats = {
    appendAnalytics(spark, root, stageRows)
    refreshFeatures(spark, root)
  }
}
