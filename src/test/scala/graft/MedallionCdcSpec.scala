package graft

import graft.core.ManifestSnapshots
import graft.pipeline.MedallionCdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CDC-driven medallion features layer (pipeline/MedallionCdc): the
  * manifest-snapshot chain as the substrate of the domain pipeline. Pins
  *  (1) semantics — CDC-incremental state ≡ a from-scratch full restate
  *      (the same incremental≡full law MedallionSpec pins for the
  *      watermark pipeline, via the SHARED stitch algebra),
  *  (2) O(delta) — an incremental refresh reads exactly the chain files
  *      the cycle added (no watermark scan of the fact), and untouched
  *      feature buckets carry BY REFERENCE across refreshes,
  *  (3) exactly-once — a replayed stage batch admits nothing and moves
  *      nothing,
  *  (4) the soundness gate — a rewriting chain version (compaction)
  *      demotes the next refresh to a full restate, never double-counts.
  */
class MedallionCdcSpec extends SparkSpec {

  import spark.implicits._

  /** The stage-row shape from a frame of event ids — shared by the batch
    * fixtures and the streaming WAP test (which maps a MemoryStream of
    * ids through the SAME columns). A negative id is the poison pill:
    * its value goes negative, which the analytics WAP audit refuses. */
  private def stageShape(ids: DataFrame): DataFrame =
    ids
      .withColumn("ts_us", abs(col("event_id")) * 1000L)
      .withColumn("user_id", abs(col("event_id")) % 200)
      .withColumn("event_type",
        when(col("event_id") % 3 === 0, "purchase")
          .when(col("event_id") % 3 === 1, "error")
          .otherwise("view"))
      .withColumn("value",
        when(col("event_id") < 0, lit(-5.0))
          .otherwise((col("event_id") % 8).cast("double") * 0.25 + 1))
      .withColumn("props", format_string("{\"k\":%d}", abs(col("event_id")) % 11))
      .withColumn("date_partition", lit("2024-01"))

  private def stageBatch(lo: Long, hi: Long): DataFrame =
    stageShape((lo until hi).toDF("event_id"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sorted.toSeq == b.columns.sorted.toSeq)
    val cols = a.columns.sorted.toSeq.map(col)
    assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
      b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty)
  }

  test("CDC refresh: incremental ≡ full restate, delta files only, buckets by reference") {
    val root = tmpDir("mcdc")
    val s1 = MedallionCdc.runCycle(spark, root, stageBatch(0, 300))
    assert(s1.mode == "full" && s1.baseVersion == 1L)

    val fDir = MedallionCdc.featuresDir(root)
    val v1Entries = ManifestSnapshots.entriesOf(spark, fDir,
      ManifestSnapshots.latestVersion(spark, fDir).get)

    val before = MedallionCdc.incorporatedVersion(spark, root)
    val s2 = MedallionCdc.runCycle(spark, root, stageBatch(300, 340))
    assert(s2.mode == "incremental" && s2.baseVersion == 2L)
    assert(before.contains(1L))
    // O(delta) on the read side: exactly the chain files version 2 added,
    // and exactly the pivoted delta's rows (2 roles x 40 events)
    val aDir = MedallionCdc.analyticsDir(root)
    val added = ManifestSnapshots.addedEntries(spark, aDir, 1L, 2L)
    assert(s2.deltaFiles == added.size.toLong, "refresh read beyond the CDC diff")
    assert(s2.deltaRows == 80L, s"expected the 80 pivoted delta rows, got ${s2.deltaRows}")

    // O(delta) on the write side: feature buckets the delta did not touch
    // carry by reference (same entry paths as the previous version)
    val v2Entries = ManifestSnapshots.entriesOf(spark, fDir,
      ManifestSnapshots.latestVersion(spark, fDir).get)
    val touched = stageBatch(300, 340)
      .select(format_string("%02x", pmod(col("user_id"), lit(256))).as("p"))
      .distinct().as[String].collect().toSet
    val untouchedShared = v2Entries.filter(e =>
      e.partition.exists(p => !touched.contains(p.stripPrefix("user_partition="))))
    assert(untouchedShared.nonEmpty &&
      untouchedShared.forall(e => v1Entries.exists(_.path == e.path)),
      "an untouched feature bucket was rewritten instead of carried by reference")

    // incremental ≡ full: a second root fed everything at once agrees
    val root2 = tmpDir("mcdcfull")
    MedallionCdc.runCycle(spark, root2, stageBatch(0, 340))
    assertSame(MedallionCdc.serveFeatures(spark, root),
      MedallionCdc.serveFeatures(spark, root2))

    // exactly-once: a replayed batch admits nothing and moves nothing
    val s3 = MedallionCdc.runCycle(spark, root, stageBatch(300, 340))
    assert(s3.mode == "noop", s"replayed batch re-processed: $s3")
    assertSame(MedallionCdc.serveFeatures(spark, root),
      MedallionCdc.serveFeatures(spark, root2))
  }

  test("a store committed under user_id mod 256 takes an incremental refresh " +
      "without committing a user twice") {
    val root = tmpDir("mcdcrule")
    MedallionCdc.runCycle(spark, root, stageBatch(0, 300))
    // restate the store exactly as every earlier build laid it out: one
    // directory per user_id mod 256, the incorporated version unchanged
    val fDir = MedallionCdc.featuresDir(root)
    val stored = ManifestSnapshots.readLatest(spark, fDir)
      .withColumn("user_partition", format_string("%02x", pmod(col("user_id"), lit(256))))
      .localCheckpoint()
    ManifestSnapshots.writeFull(stored, fDir, Seq("user_partition"))
    // batch 2 re-touches stored users 100..139, in order: the refresh must
    // read their rows back from the directories they were committed under
    val s2 = MedallionCdc.runCycle(spark, root, stageBatch(300, 340))
    assert(s2.mode == "incremental", s"expected an incremental refresh, got $s2")
    val served = MedallionCdc.serveFeatures(spark, root)
    assert(served.count() == served.select("user_id").distinct().count(),
      "a refreshed user was committed beside its stored row")
    val root2 = tmpDir("mcdcrulef")
    MedallionCdc.runCycle(spark, root2, stageBatch(0, 340))
    assertSame(served, MedallionCdc.serveFeatures(spark, root2))
  }

  test("streaming ingest lands through WAP branches: exactly-once, audited, incremental ≡ full") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("mcdcwap")
    val aDir = MedallionCdc.analyticsDir(root)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = MedallionCdc.ingestAnalyticsStream(spark, root,
      stageShape(mem.toDF().withColumnRenamed("value", "event_id")),
      tmpDir("mcdcwapck"))
    try {
      mem.addData(0L until 300L: _*)
      q.processAllAvailable()
      // the micro-batch landed as ONE published branch version; the CDC
      // features refresh consumes it exactly like a batch append
      assert(ManifestSnapshots.branches(spark, aDir).isEmpty,
        "a decided WAP branch marker survived")
      val s1 = MedallionCdc.refreshFeatures(spark, root)
      assert(s1.mode == "full" && s1.baseVersion == 1L)

      // a POISON batch (negative value) is refused by the analytics
      // audit: no chain version, nothing downstream ever sees it
      val vBefore = ManifestSnapshots.latestVersion(spark, aDir).get
      mem.addData(-1L)
      q.processAllAvailable()
      assert(ManifestSnapshots.latestVersion(spark, aDir).get == vBefore,
        "a rejected batch must not create a chain version")
      assert(ManifestSnapshots.branches(spark, aDir).isEmpty)

      // a later good batch still admits (the ledger advanced past the
      // rejected id), and the incremental refresh folds ONLY its delta
      mem.addData(300L until 340L: _*)
      q.processAllAvailable()
      val s2 = MedallionCdc.refreshFeatures(spark, root)
      assert(s2.mode == "incremental", s"expected incremental, got $s2")
      assert(s2.deltaRows == 80L, s"expected the 80 pivoted delta rows, got $s2")
    } finally q.stop()
    // end-to-end law: the WAP-streamed lake serves the SAME features as
    // a batch root fed everything at once — the poison rows absent
    val root2 = tmpDir("mcdcwapfull")
    MedallionCdc.runCycle(spark, root2, stageBatch(0, 340))
    assertSame(MedallionCdc.serveFeatures(spark, root),
      MedallionCdc.serveFeatures(spark, root2))
  }

  test("a LATE delta (out-of-order ts) demotes to a full restate — incremental stays ≡ full") {
    val root = tmpDir("mcdclate")
    MedallionCdc.runCycle(spark, root, stageBatch(100, 300))
    // batch 2 carries ids 0..100 whose ts_us SORT BEFORE the incorporated
    // events: the stitch algebra would mis-state max_balance, so the
    // refresh must restate instead of stitching
    val s = MedallionCdc.runCycle(spark, root, stageBatch(0, 100))
    assert(s.mode == "full", s"late delta must demote to restate, got ${s.mode}")
    val root2 = tmpDir("mcdclatef")
    MedallionCdc.runCycle(spark, root2, stageBatch(0, 300))
    assertSame(MedallionCdc.serveFeatures(spark, root),
      MedallionCdc.serveFeatures(spark, root2))
    // and an in-order follow-up goes back to the incremental path
    val s2 = MedallionCdc.runCycle(spark, root, stageBatch(300, 320))
    assert(s2.mode == "incremental")
  }

  test("a rewriting chain version demotes the refresh to a full restate") {
    val root = tmpDir("mcdcrw")
    MedallionCdc.runCycle(spark, root, stageBatch(0, 200))
    MedallionCdc.runCycle(spark, root, stageBatch(200, 260))
    // compact the analytics chain: entries are REMOVED across the range,
    // so the next refresh may not trust the CDC diff
    ManifestSnapshots.compactData(spark, MedallionCdc.analyticsDir(root))
    val s = MedallionCdc.runCycle(spark, root, stageBatch(260, 300))
    assert(s.mode == "full",
      s"refresh across a rewriting chain version must restate, got ${s.mode}")
    val root2 = tmpDir("mcdcrwf")
    MedallionCdc.runCycle(spark, root2, stageBatch(0, 300))
    assertSame(MedallionCdc.serveFeatures(spark, root),
      MedallionCdc.serveFeatures(spark, root2))
  }
}
