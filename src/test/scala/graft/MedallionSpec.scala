package graft

import graft.core.Lakehouse
import graft.pipeline.Medallion
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end medallion pipeline: CSV → raw → stage → analytics → features
  * → serving, including THE invariant the reference's whole incremental
  * design protects: two incremental cycles ≡ one full recompute, and
  * re-delivered (duplicate) input changes nothing. */
class MedallionSpec extends SparkSpec {
  import spark.implicits._

  /** events at sf0.001 exported as a CSV fixture, optionally filtered. */
  private def exportCsv(dir: String, cond: org.apache.spark.sql.Column): Unit =
    graft.core.Graft.events(spark, sf)
      .filter(cond)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)

  private def features(root: String): Map[Long, (Long, Double, Double, Double)] =
    Lakehouse.read(spark, Medallion.featuresPath(root))
      .select("user_id", "n_events", "total_purchase_value", "final_balance", "max_balance")
      .as[(Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("two incremental cycles ≡ one full run (balances boundary-stitched)") {
    val cut = 1704844800000000L // mid-range ts_us split
    // full run
    val fullRoot = tmpDir("med-full")
    val fullCsv = tmpDir("med-full-csv")
    exportCsv(fullCsv, lit(true))
    Medallion.runCycle(spark, fullCsv, fullRoot)
    // incremental: first half, then second half into the same lake
    val incRoot = tmpDir("med-inc")
    val csv1 = tmpDir("med-csv1"); val csv2 = tmpDir("med-csv2")
    exportCsv(csv1, col("ts_us") <= cut)
    exportCsv(csv2, col("ts_us") > cut)
    Medallion.runCycle(spark, csv1, incRoot)
    Medallion.runCycle(spark, csv2, incRoot)

    val full = features(fullRoot)
    val inc = features(incRoot)
    assert(full.keySet == inc.keySet)
    val eps = 1e-9
    full.foreach { case (u, (n, tp, fb, mb)) =>
      val (n2, tp2, fb2, mb2) = inc(u)
      assert(n == n2, s"user $u n_events")
      assert(math.abs(tp - tp2) < eps, s"user $u purchase value: $tp vs $tp2")
      assert(math.abs(fb - fb2) < eps, s"user $u final balance: $fb vs $fb2")
      assert(math.abs(mb - mb2) < eps, s"user $u max balance: $mb vs $mb2")
    }
  }

  test("incremental merge leaves untouched partition dirs byte-identical") {
    val root = tmpDir("med-part")
    val csv1 = tmpDir("med-part-csv1"); val csv2 = tmpDir("med-part-csv2")
    val cut = 1704844800000000L
    exportCsv(csv1, col("ts_us") <= cut)
    Medallion.runCycle(spark, csv1, root)

    val featDir = new java.io.File(Medallion.featuresPath(root))
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      featDir.listFiles().filter(_.isDirectory).map { d =>
        d.getName ->
          d.listFiles().map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
      }.toMap
    val before = snapshot()
    assert(before.size > 5, s"expected multiple 256-bucket partitions, got ${before.size}")

    // second delivery touches ONLY users 0..9 — the merge must rewrite only
    // their buckets; every other partition dir stays byte-identical
    // (same files, sizes, mtimes: O(delta), not O(table)).
    exportCsv(csv2, col("ts_us") > cut && col("user_id") < 10)
    Medallion.runCycle(spark, csv2, root)
    val after = snapshot()

    val touched = (0L until 10L).toDF("u").select(Lakehouse.keyDir(col("u")))
      .as[String].collect().map(p => s"user_partition=$p").toSet
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty)
    untouched.foreach { k =>
      assert(after(k) == before(k), s"untouched partition $k was rewritten")
    }
    // and the delta really landed: at least one touched bucket changed
    assert(touched.exists(k => before.contains(k) && after(k) != before(k)))
    // features still correct for a touched user: equals a full recompute
    val fullRoot = tmpDir("med-part-full"); val fullCsv = tmpDir("med-part-fullcsv")
    exportCsv(fullCsv, col("ts_us") <= cut ||
      (col("ts_us") > cut && col("user_id") < 10))
    Medallion.runCycle(spark, fullCsv, fullRoot)
    val got = features(root); val want = features(fullRoot)
    assert(got.keySet == want.keySet)
    // double accumulation order differs between the stitched and one-shot
    // paths — compare within float tolerance, as the cycle test does
    val eps = 1e-9
    want.foreach { case (u, (n, tp, fb, mb)) =>
      val (n2, tp2, fb2, mb2) = got(u)
      assert(n == n2 && math.abs(tp - tp2) < eps &&
        math.abs(fb - fb2) < eps && math.abs(mb - mb2) < eps, s"user $u differs")
    }
  }

  test("features delta plans zero exchanges over the bucketed analytics fact") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def countShuffles(df: DataFrame): Int = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Int =
        (p match { case _: ShuffleExchangeExec => 1; case _ => 0 }) +
          p.children.map(walk).sum + p.subqueries.map(walk).sum +
          (p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
            case _ => 0
          })
      walk(df.queryExecution.executedPlan)
    }
    val root = tmpDir("med-bucketed")
    val csv = tmpDir("med-bucketed-csv")
    exportCsv(csv, lit(true))
    Medallion.runCycle(spark, csv, root)

    val fact = Medallion.readAnalytics(spark, root)
    assert(Lakehouse.scanBucketedOn(fact, "party"))
    // the features layer's exact delta shape: running-balance window +
    // per-user rollup — both ride the scan's party clustering
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("party").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val delta = fact.filter(col("role") === "actor")
      .withColumn("run", sum(col("value").cast("decimal(38,6)")).over(w).cast("double"))
      .groupBy("party")
      .agg(count(lit(1)).as("n_events"), max("run").as("max_run"))
    assert(countShuffles(delta) == 0,
      s"features delta must plan zero exchanges over the bucketed fact:\n" +
        delta.queryExecution.executedPlan)
  }

  test("re-delivered input is a no-op (dedup-on-insert all the way down)") {
    val root = tmpDir("med-dup")
    val csv = tmpDir("med-dup-csv")
    exportCsv(csv, lit(true))
    Medallion.runCycle(spark, csv, root)
    val first = features(root)
    // deliver the exact same CSV again — stage anti-join + watermark must
    // keep every layer unchanged
    Medallion.runCycle(spark, csv, root)
    assert(features(root) == first)
    // stage row count == distinct event ids (no dup rows slipped through)
    val stageN = Lakehouse.read(spark, Medallion.stagePath(root)).count()
    val distinctN = Lakehouse.read(spark, Medallion.rawPath(root))
      .select("event_id").distinct().count()
    assert(stageN == distinctN)
  }

  test("a fresh catalog re-registers every bucketed table: cycle 2 and the " +
      "serving export equal a twin lake that kept its catalog") {
    val cut = 1704844800000000L
    val csv1 = tmpDir("med-fresh-csv1"); val csv2 = tmpDir("med-fresh-csv2")
    exportCsv(csv1, col("ts_us") <= cut); exportCsv(csv2, col("ts_us") > cut)
    val lake = tmpDir("med-fresh"); val twin = tmpDir("med-fresh-twin")
    def cycle(csv: String)(root: String): Unit = {
      Medallion.runCycle(spark, csv, root); Medallion.servingExport(spark, root)
    }
    def layouts(root: String) = Seq(Medallion.analyticsLayout(root),
      Medallion.featuresLayout(root), Medallion.servingLayout(root))
    Seq(lake, twin).foreach(cycle(csv1))
    assert(dropLakeTables(lake) == layouts(lake).map(_.name).toSet)
    Seq(lake, twin).foreach(cycle(csv2))
    layouts(lake).zip(layouts(twin)).foreach { case (t, w) =>
      assert(rowStrings(Lakehouse.read(spark, t.path)) ==
        rowStrings(Lakehouse.read(spark, w.path)), s"${t.path} differs from its twin")
      assert(Lakehouse.scanBucketedOn(Lakehouse.readBucketed(spark, t), t.key),
        s"${t.name} lost its bucket layout")
    }
  }

  test("serving export builds one document per user with the feature map") {
    val root = tmpDir("med-serve")
    val csv = tmpDir("med-serve-csv")
    exportCsv(csv, lit(true))
    Medallion.runCycle(spark, csv, root)
    Medallion.servingExport(spark, root, chunkRows = 37)
    val docs = Lakehouse.read(spark, Medallion.servingPath(root))
    val nUsers = Lakehouse.read(spark, Medallion.featuresPath(root)).count()
    assert(docs.count() == nUsers)
    val row = docs.select(col("walletAddress"), map_keys(col("features")))
      .as[(String, Seq[String])].head()
    assert(row._2.toSet == Set("n_events", "total_purchase_value", "final_balance", "max_balance"))

    // the serving table itself lands bucketed (the export merge joins it
    // in place on later runs)
    assert(Lakehouse.scanBucketedOn(
      spark.table(Medallion.servingTable(root)), "walletAddress"))
    // a second export (same features) leaves the doc count stable
    Medallion.servingExport(spark, root, chunkRows = 37)
    assert(Lakehouse.read(spark, Medallion.servingPath(root)).count() == nUsers)

    // crashed-run inbox: a prior export died after appending chunks but
    // before the merge, leaving STALE rows for wallets this run also
    // re-exports — the merge must keep exactly one (the freshest) doc
    // per wallet, never both
    val staging = Medallion.servingPath(root).stripSuffix("/") + ".inbox"
    val stale = Medallion.servingDocs(Medallion.readFeatures(spark, root))
      .withColumn("last_ts_us", col("last_ts_us") - 999999L) // older state
    Lakehouse.appendPartitioned(stale, staging, Nil)
    Medallion.servingExport(spark, root, chunkRows = 37)
    val merged = Lakehouse.read(spark, Medallion.servingPath(root))
    assert(merged.count() == nUsers,
      "orphan inbox chunks produced duplicate serving documents")
    val freshTs = Medallion.readFeatures(spark, root)
      .agg(max("last_ts_us")).head.getLong(0)
    assert(merged.agg(max("last_ts_us")).head.getLong(0) == freshTs,
      "the stale orphan state shadowed the fresh export")
  }

  test("an orphan inbox chunk of a crashed export loses no serving row") {
    val root = tmpDir("med-orphan")
    val csv = tmpDir("med-orphan-csv")
    exportCsv(csv, lit(true))
    Medallion.runCycle(spark, csv, root)
    Medallion.servingExport(spark, root)
    val before = Lakehouse.read(spark, Medallion.servingPath(root))
      .select("walletAddress").as[String].collect().toSet
    // a crashed export left a chunk in the inbox: stale copies of some
    // wallets plus a wallet this run does not export at all
    val feats = Medallion.readFeatures(spark, root)
    val orphan = Medallion.servingDocs(feats.limit(5))
      .withColumn("last_ts_us", col("last_ts_us") - 999999L)
      .unionByName(Medallion.servingDocs(feats.limit(1)
        .withColumn("user_id", lit(987654321L))))
    Lakehouse.appendPartitioned(orphan,
      Medallion.servingPath(root).stripSuffix("/") + ".inbox", Nil)
    Medallion.servingExport(spark, root)
    val docs = Lakehouse.readBucketed(spark, Medallion.servingLayout(root))
    val after = docs.select("walletAddress").as[String].collect()
    assert(after.length == after.toSet.size, "duplicate serving documents")
    assert(after.toSet == before + "987654321", "a serving row was lost or not landed")
    // every exported wallet carries its fresh document, not the stale one
    assert(rowStrings(docs.filter(col("walletAddress") =!= "987654321")) ==
      rowStrings(Medallion.servingDocs(Medallion.readFeatures(spark, root))))
  }

  test("features MERGE and serving export plan zero user-key exchanges " +
      "over the bucketed tables") {
    val root = tmpDir("med-bmerge")
    val csv = tmpDir("med-bmerge-csv")
    exportCsv(csv, lit(true))
    Medallion.runCycle(spark, csv, root)

    val feats = Medallion.readFeatures(spark, root)
    assert(Lakehouse.scanBucketedOn(feats, "user_id"),
      "the features table must register as user-bucketed")

    // the MERGE shape: bucket-aligned updates (here: derived straight off
    // the bucketed scan, as features()'s delta-join output is) full-outer
    // against the bucketed target — zero user-key exchanges
    val updates = feats.withColumn("n_events", col("n_events") + lit(1L))
    val mergePlan = Lakehouse.bucketedMergePlan(spark,
      Medallion.featuresLayout(root), updates, Seq("user_id"))
    assert(countShuffles(mergePlan, onKey = Some("user_id")) == 0,
      "the bucketed features MERGE must plan zero user exchanges:\n" +
        mergePlan.queryExecution.executedPlan)
    // control: the same merge over plain path reads shuffles on the key
    val plain = Lakehouse.read(spark, Medallion.featuresPath(root))
    assert(countShuffles(Lakehouse.mergeFrames(plain,
      plain.withColumn("n_events", col("n_events") + lit(1L)),
      Seq("user_id")), onKey = Some("user_id")) > 0)

    // S10 export over the bucketed table: pure scan+project, ZERO
    // exchanges — the chunk boundary is the bucket itself
    val docs = Medallion.servingDocs(feats)
    assert(countShuffles(docs) == 0,
      s"the serving export must plan zero exchanges over the bucketed " +
        s"features table:\n${docs.queryExecution.executedPlan}")
  }
}
