package graft

import graft.core.Lakehouse
import graft.pipeline.{DomainPipeline, Medallion}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One hashing axis: the four key-partitioned feature and serving tables
  * take their hive directory from the key's bucket hash, so a cold cycle
  * and an incremental cycle each leave at most one data file per
  * directory — a file of the directory's own bucket — whatever the
  * session's shuffle-partition count is. Listing those directories
  * runs one task per slot, not one per directory, so no stage of either
  * DAG outgrows the bucket count. */
class OneFilePerDirectorySpec extends SparkSpec {

  /** Data file names per hive directory of the table at `path`. */
  private def filesPerDir(path: String): Map[String, Seq[String]] =
    new java.io.File(path).listFiles().filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    }.toMap

  private val bucketIdRe = "_(\\d{5})\\.c\\d+\\.".r

  /** Each directory holds at most one file, and that file is the bucket
    * the directory's hash value falls in. */
  private def assertOneFilePerDir(path: String, buckets: Int, when: String): Unit = {
    val dirs = filesPerDir(path)
    val crowded = dirs.filter(_._2.size > 1)
    assert(crowded.size == 0,
      s"$path $when: ${crowded.size} of ${dirs.size} directories hold several files " +
        s"(${dirs.values.map(_.size).sum} files), e.g. ${crowded.headOption}")
    assert(dirs.size > 8, s"$path: expected many directories $when, got ${dirs.size}")
    dirs.foreach { case (dir, files) =>
      val dirValue = Integer.parseInt(dir.substring(dir.indexOf('=') + 1), 16)
      files.foreach { f =>
        val id = bucketIdRe.findFirstMatchIn(f).map(_.group(1).toInt)
        assert(id.contains(dirValue % buckets), s"$path/$dir holds bucket $id: $f")
      }
    }
  }

  /** Run `body` on a session whose shuffle-partition count (6) does not
    * divide 256. */
  private def withSixShufflePartitions(body: => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "6")
    try body finally spark.conf.set(key, saved)
  }

  test("events DAG: features and serving hold one file per directory after " +
      "a cold and an incremental cycle") {
    withSixShufflePartitions {
      val root = tmpDir("onefile-events")
      val csv1 = tmpDir("onefile-events-csv1"); val csv2 = tmpDir("onefile-events-csv2")
      LayoutFixtures.writeEvents(spark, csv1, 0L, 4000L)
      LayoutFixtures.writeEvents(spark, csv2, 4000L, 4600L)
      val tables = Seq(Medallion.featuresLayout(root), Medallion.servingLayout(root))
      Seq(("after the cold cycle", csv1), ("after the incremental cycle", csv2))
        .foreach { case (when, csv) =>
          Medallion.runCycle(spark, csv, root)
          Medallion.servingExport(spark, root)
          tables.foreach(t => assertOneFilePerDir(t.path, t.buckets, when))
        }
    }
  }

  test("domain DAG: wallet features and coin balances hold one file per " +
      "directory after a cold and an incremental cycle") {
    withSixShufflePartitions {
      val lake = tmpDir("onefile-domain")
      val csv1 = tmpDir("onefile-domain-csv1"); val csv2 = tmpDir("onefile-domain-csv2")
      LayoutFixtures.writeWalletBatch(csv1, first = 0, n = 60)
      LayoutFixtures.writeWalletBatch(csv2, first = 60, n = 30, wallets = 64)
      val tables = Seq(DomainPipeline.featuresLayout(lake),
        DomainPipeline.coinBalancesLayout(lake))
      Seq(("after the cold cycle", csv1), ("after the incremental cycle", csv2))
        .foreach { case (when, csv) =>
          DomainPipeline.run(spark, csv, lake)
          tables.foreach(t => assertOneFilePerDir(t.path, t.buckets, when))
        }
    }
  }

  /** Task count and first name line of every stage `body` completes. The
    * listener is removed afterwards; a sentinel job's end, which the bus
    * delivers after every earlier event, drains it first. */
  private def stagesOf(body: => Unit): Seq[(Int, String)] = {
    val sc = spark.sparkContext
    val stages = new ConcurrentHashMap[Int, (Int, String)]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.put(e.stageInfo.stageId,
          (e.stageInfo.numTasks, e.stageInfo.name.linesIterator.next().take(120)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      body
      val sentinel = sc.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.ready(sentinel, scala.concurrent.duration.Duration.Inf)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinel.jobIds.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(sentinel.jobIds.forall(ended.contains), "listener bus not drained")
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** No stage runs more tasks than the tables have buckets. */
  private def assertBucketSizedStages(stages: Seq[(Int, String)]): Unit = {
    assert(stages.nonEmpty)
    val (most, name) = stages.maxBy(_._1)
    assert(most <= Lakehouse.FactBuckets,
      s"largest stage runs $most tasks (> ${Lakehouse.FactBuckets}): $name; " +
        s"${stages.count(_._1 > Lakehouse.FactBuckets)} of ${stages.size} stages exceed the bucket count")
  }

  /** Key directories of the table at `path`: more than Spark's parallel-
    * discovery threshold (32), so its listings take the distributed path. */
  private def assertListedInParallel(path: String): Unit = {
    val dirs = new java.io.File(path).listFiles().count(_.isDirectory)
    assert(dirs > 32, s"$path: $dirs key directories, need > 32")
  }

  test("job shape: a cold events cycle and its serving export run no stage " +
      "wider than the bucket count") {
    val root = tmpDir("jobshape-events")
    val csv = tmpDir("jobshape-events-csv")
    LayoutFixtures.writeEvents(spark, csv, 0L, 4000L)
    val stages = stagesOf {
      Medallion.runCycle(spark, csv, root)
      Medallion.servingExport(spark, root)
    }
    Seq(Medallion.featuresLayout(root), Medallion.servingLayout(root))
      .foreach(t => assertListedInParallel(t.path))
    assertBucketSizedStages(stages)
  }

  test("job shape: a domain cycle that re-registers its tables on a fresh " +
      "catalog, then its quality gate, runs no stage wider than the bucket count") {
    val lake = tmpDir("jobshape-domain")
    val csv1 = tmpDir("jobshape-domain-csv1"); val csv2 = tmpDir("jobshape-domain-csv2")
    LayoutFixtures.writeWalletBatch(csv1, first = 0, n = 160, wallets = 128)
    LayoutFixtures.writeWalletBatch(csv2, first = 160, n = 40, wallets = 128)
    DomainPipeline.run(spark, csv1, lake)
    Seq(DomainPipeline.featuresLayout(lake), DomainPipeline.coinBalancesLayout(lake))
      .foreach(t => assertListedInParallel(t.path))
    assert(dropLakeTables(lake).nonEmpty)
    // run: raw → stage → analytics → features → qualityGate
    val stages = stagesOf(DomainPipeline.run(spark, csv2, lake))
    assertBucketSizedStages(stages)
  }
}
