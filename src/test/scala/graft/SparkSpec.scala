package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs run in
  * the forked test JVM sequentially). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Every node of the EXECUTED (AQE-final) physical plan, descending into
    * subqueries, adaptive plans and query stages. Cached inputs are leaves —
    * their interior exchanges ran once at cache time, not here. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // force AQE to finalize the physical plan
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p.children ++ p.subqueries ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    })).flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }

  /** A frame's rows as sorted JSON strings, columns by name: an exact,
    * order-free comparison that also covers map columns. */
  def rowStrings(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(df.columns.sorted.map(col).toSeq: _*)))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  /** Drop every catalog entry registered for `lake` (each is named with the
    * lake root folded to an identifier as its suffix), as a fresh session
    * would see it. The tables are external, so the files and layout markers
    * stay. Returns the names dropped. */
  def dropLakeTables(lake: String): Set[String] = {
    val suffix = lake.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
    val names = spark.catalog.listTables().collect().map(_.name)
      .filter(_.endsWith(suffix)).toSet
    names.foreach(n => spark.sql(s"DROP TABLE $n"))
    names
  }

  /** Shuffle exchanges in the executed plan ([[planNodes]]); with `onKey`,
    * only hash exchanges whose partitioning references that column (the
    * "did we re-shuffle on the bucket key" probe). */
  def countShuffles(df: DataFrame, onKey: Option[String] = None): Int =
    planNodes(df).count {
      case s: ShuffleExchangeExec => onKey.forall { k =>
        s.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == k))
          case _ => false
        }
      }
      case _ => false
    }
}

object SparkSpec {
  /** Four slots, under the production planning conf ([[graft.core.Graft.session]]),
    * with only a per-JVM temp warehouse of its own. */
  lazy val session: SparkSession = {
    val s = graft.core.Graft.session(4, Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
