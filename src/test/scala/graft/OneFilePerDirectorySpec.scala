package graft

import graft.pipeline.{DomainPipeline, Medallion}

/** One hashing axis: the four key-partitioned feature and serving tables
  * take their hive directory from the key's bucket hash, so a cold cycle
  * and an incremental cycle each leave at most one data file per
  * directory — a file of the directory's own bucket — whatever the
  * session's shuffle-partition count is. */
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
}
