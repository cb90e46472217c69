package graft

import graft.core.Lakehouse
import graft.pipeline.{DomainPipeline, RawIngestion}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** A domain cycle costs what its delta costs: a layer's independent
  * per-table units run at once ([[Lakehouse.concurrently]]), and the
  * incremental features layer reads stored state only from the wallet
  * directories its delta falls in. */
class DomainDeltaCostSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with `listener` registered; before removing it, a sentinel
    * job's end — which the bus delivers after every earlier event on the
    * shared queue, the QueryExecutionListener bus included — drains it. */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val sentinelEnds = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(sentinelEnds)
    try {
      body
      val sentinel = sc.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.ready(sentinel, scala.concurrent.duration.Duration.Inf)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinel.jobIds.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(sentinel.jobIds.forall(ended.contains), "listener bus not drained")
    } finally {
      sc.removeSparkListener(sentinelEnds)
      sc.removeSparkListener(listener)
    }
  }

  private def poolThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-concurrently-")).map(_.getName)

  test("concurrently runs every unit on a daemon pool thread, rethrows the " +
      "first failure in unit order with the rest suppressed, and leaves no thread") {
    val ran = new ConcurrentLinkedQueue[(String, Boolean)]()
    def record(): Unit =
      ran.add(Thread.currentThread.getName -> Thread.currentThread.isDaemon)
    val e = intercept[IllegalStateException] {
      Lakehouse.concurrently(Seq(
        () => record(),
        () => { record(); throw new IllegalStateException("b failed") },
        () => record(),
        () => { record(); throw new IllegalArgumentException("d failed") }))
    }
    assert(e.getMessage == "b failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("d failed"))
    assert(ran.size == 4, "a failing unit must not cancel the others")
    assert(ran.asScala.forall { case (name, daemon) =>
      daemon && name.startsWith("graft-concurrently-") })
    assert(poolThreadsAlive.isEmpty, s"pool threads still alive: $poolThreadsAlive")
    Lakehouse.concurrently(Nil)
  }

  test("DomainPipeline.stage loads its tables at once: jobs of two queries " +
      "are in flight together") {
    val lake = tmpDir("deltacost-stage")
    val csv = tmpDir("deltacost-stage-csv")
    DomainFixtures.writeCsvFixture(spark, csv)
    RawIngestion.ingest(spark, csv, lake)
    val raws = new java.io.File(s"$lake/raw").list().toSeq
    assert(raws.size >= 2, s"fixture needs two or more raw tables, got $raws")
    // (SQL execution id, start ms, end ms) of every job the stage runs
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val spans = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => starts.put(e.jobId, id -> e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.get(e.jobId)).foreach { case (id, t0) => spans.add((id, t0, e.time)) }
    }
    listening(listener)(DomainPipeline.stage(spark, lake))
    val jobs = spans.asScala.toSeq
    val overlapping = for {
      (a, s1, e1) <- jobs; (b, s2, e2) <- jobs
      if a != b && s1 < e2 && s2 < e1
    } yield (a, b)
    assert(overlapping.nonEmpty,
      s"no two queries' jobs overlapped over ${jobs.size} jobs of " +
        s"${jobs.map(_._1).distinct.size} queries")
    raws.foreach(t => assert(Lakehouse.tableExists(spark, DomainPipeline.stagePath(lake, t)), t))
  }

  test("a failing stage unit: the layer rethrows its error after the other " +
      "tables have committed, and no pool thread stays alive") {
    val lake = tmpDir("deltacost-fail")
    val csv = tmpDir("deltacost-fail-csv")
    DomainFixtures.writeCsvFixture(spark, csv)
    RawIngestion.ingest(spark, csv, lake)
    // a raw traces table without the columns its cleaner reads
    Seq(("junk", "2024-01")).toDF("x", "date_partition").write.mode("overwrite")
      .partitionBy("date_partition").parquet(s"$lake/raw/ethereum_traces")
    val e = intercept[AnalysisException](DomainPipeline.stage(spark, lake))
    assert(!Lakehouse.tableExists(spark, DomainPipeline.stagePath(lake, "ethereum_traces")))
    Seq("ethereum_blocks", "ethereum_transactions", "ethereum_logs",
      "ethereum_token_transfers", "ethereum_tokens_metadata").foreach { t =>
      assert(Lakehouse.tableExists(spark, DomainPipeline.stagePath(lake, t)),
        s"$t was not committed beside the failing unit")
    }
    assert(poolThreadsAlive.isEmpty, s"pool threads still alive: $poolThreadsAlive")
  }

  /** Every node of an executed plan, descending into adaptive plans, query
    * stages, subqueries and the plans of cached relations. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    })).flatMap(allNodes)

  test("an incremental features layer reads stored features and coin " +
      "balances only from the delta's wallet directories") {
    val lake = tmpDir("deltacost-dirs")
    val csv1 = tmpDir("deltacost-dirs-csv1"); val csv2 = tmpDir("deltacost-dirs-csv2")
    LayoutFixtures.writeWalletBatch(csv1, first = 0, n = 160, wallets = 128)
    LayoutFixtures.writeWalletBatch(csv2, first = 160, n = 4, wallets = 128)
    DomainPipeline.run(spark, csv1, lake)
    RawIngestion.ingest(spark, csv2, lake)
    DomainPipeline.stage(spark, lake)
    DomainPipeline.analytics(spark, lake)
    val fT = DomainPipeline.featuresLayout(lake)
    val cT = DomainPipeline.coinBalancesLayout(lake)
    // the delta: batch 2's fact rows (block 17000160 on), both sides' wallets
    val deltaDirs = Lakehouse.keyDirsOf(
      DomainPipeline.readWalletTx(spark, lake).filter(col("block_number") >= 17000160L), fT).toSet
    val storedDirs = new java.io.File(fT.path).list().filter(_.contains("=")).toSet
    assert(deltaDirs.nonEmpty && storedDirs.size > deltaDirs.size + 8,
      s"fixture: ${deltaDirs.size} delta directories of ${storedDirs.size}")

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try listening(new SparkListener {})(DomainPipeline.features(spark, lake))
    finally spark.listenerManager.unregister(qel)

    def dirsRead(s: FileSourceScanExec): Set[String] =
      s.relation.location.listFiles(s.partitionFilters, Nil)
        .flatMap(_.files.map(_.getPath.getParent.getName)).toSet
    def reads(s: FileSourceScanExec, path: String): Boolean = {
      val name = "/" + new java.io.File(path).getName
      s.relation.location.rootPaths.map(_.toString)
        .exists(r => r.endsWith(name) || r.contains(name + "/"))
    }
    // (table, data columns, directories read) of every stored-table scan
    val scans = plans.asScala.toSeq.flatMap(allNodes).collect {
      case s: FileSourceScanExec => Seq(fT, cT).find(t => reads(s, t.path))
        .map(t => (t.name, s.output.map(_.name).filterNot(t.partitionCols.contains), dirsRead(s)))
    }.flatten
    // the two whole-table watermark aggregates read one column each
    val watermarks = Seq(Seq("wallet_last_tx"), Seq("last_transaction_timestamp"))
    val stateReads = scans.filterNot { case (_, cols, _) => watermarks.contains(cols) }
    Seq(fT, cT).foreach { t =>
      assert(stateReads.exists(_._1 == t.name), s"no state read of ${t.name} seen")
      assert(scans.exists { case (n, cols, _) => n == t.name && watermarks.contains(cols) },
        s"no watermark aggregate of ${t.name} seen")
    }
    stateReads.foreach { case (name, cols, dirs) =>
      val outside = dirs.map(_.stripPrefix(s"${fT.partitionCols.head}=")) -- deltaDirs
      assert(outside.isEmpty,
        s"$name scan of (${cols.mkString(", ")}) read ${dirs.size} directories, " +
          s"${outside.size} outside the delta's ${deltaDirs.size}")
    }
  }
}
