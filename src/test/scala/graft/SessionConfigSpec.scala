package graft

import graft.core.Graft

/** One planning environment: every session in `src/` comes from
  * [[Graft.session]], whose portable settings are pinned here key for key —
  * so the verified, benched and spec-pinned plans cannot drift apart. */
class SessionConfigSpec extends SparkSpec {

  // the scale-portable session conf, value for value
  private val pinned = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "134217728",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false")
  private val localFour = Map(
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.sources.parallelPartitionDiscovery.parallelism" -> "4")

  private def mismatches(s: org.apache.spark.sql.SparkSession,
      expected: Map[String, String]): Map[String, Option[String]] =
    expected.collect {
      case (k, v) if s.conf.getOption(k) != Some(v) => k -> s.conf.getOption(k)
    }

  test("the test suite plans under the pinned production conf") {
    assert(mismatches(spark, pinned ++ localFour).isEmpty)
  }

  test("Graft.session(4) sets exactly the pinned portable conf") {
    assert(Graft.portableConf.toMap == pinned)
    assert(Graft.portableConf.map(_._1).distinct.size == pinned.size)
    assert(Graft.localSizing(4).toMap == localFour)
    val s = Graft.session(4)
    try assert(mismatches(s, pinned ++ localFour).isEmpty)
    finally s.sparkContext.setLogLevel("ERROR")
  }

  test("Graft.session is the only session builder in src/main and src/test") {
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val roots = Seq("src/main", "src/test").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the project root")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val hits = roots.flatMap(files).filter { f =>
      builder.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")).isDefined
    }.map(_.getPath.replace('\\', '/'))
    assert(hits == Seq("src/main/scala/graft/core/Graft.scala"), hits)
  }
}
