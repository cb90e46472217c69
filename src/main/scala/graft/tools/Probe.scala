package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.{Bench, SparkEntry}
import graft.core.Graft
import graft.queries.CacheScope
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Time registered queries in isolation under the bench session, and A/B
  * an alternative planning environment within ONE JVM (cross-invocation
  * host drift at sf0.1 is larger than most effects).
  *
  * Usage: runMain graft.tools.Probe <sfDir> <name1,name2,...> [reps]
  *
  * Runs Bench's warmup, then per query one untimed run and best-of-`reps`
  * timed runs through the noop sink, clearing the cache manager before
  * each (a warm run's sealed RESULT would otherwise be matched by the next
  * run's identical plan — a cache read, not the query). Prints
  * `PROBE <name> base <best> all <t1,..>` plus the stage census of the
  * best run: each stage's task count, summed task time and wall — the
  * no-UI way to see WHERE a query's seconds go (a 1-task stage under a
  * 400x explode, a reduce side coalesced to 2 cores, ...).
  *
  * With `SPARK_GRAFT_CONF` set (runtime SQL confs only), a second session
  * carries the variant: both sides' results are materialized in their own
  * session and compared with a symmetric `exceptAll` BEFORE either time is
  * printed (a mismatch prints `PROBE <name> MISMATCH` and skips the
  * timing); the timed reps then alternate base/variant order.
  */
object Probe {

  private case class Stage(tasks: Int, taskMs: Long, wallMs: Long, name: String)

  /** Per-stage census fed by the listener bus; [[drain]] waits for a
    * sentinel job so every stage a finished run posted has been counted. */
  private class Census(spark: SparkSession) extends SparkListener {
    private val stages = new ConcurrentHashMap[Int, Stage]()
    private val ended = ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(this)

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      stages.put(i.stageId, Stage(i.numTasks, i.taskMetrics.executorRunTime,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        i.name.linesIterator.next().take(90)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

    def drain(): Unit = {
      val f = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!f.jobIds.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    def reset(): Unit = { drain(); stages.clear() }
    /** The run's stages: every stage counted, minus the sentinel's own
      * (stage ids increase, so it is the newest). */
    def snapshot(): Seq[(Int, Stage)] = {
      drain()
      stages.asScala.toSeq.sortBy(_._1).dropRight(1)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq.filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered in SparkEntry: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(cpus)
    val variantConf = Graft.confFromEnv
    val variant = if (variantConf.isEmpty) None else Some {
      val v = spark.newSession()
      variantConf.foreach { case (k, value) => v.conf.set(k, value) }
      v
    }
    val sides = Seq("base" -> spark) ++ variant.map("variant" -> _)
    Bench.warmup(spark, sfDir)
    val census = new Census(spark)
    var failed = false

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run1(s: SparkSession): (Double, Seq[(Int, Stage)]) = {
        spark.sharedState.cacheManager.clearCache()
        census.reset()
        val t0 = System.nanoTime()
        fn(s, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        (t, census.snapshot())
      }
      try {
        // untimed run per side; with a variant it is the equality check,
        // each side materialized under its own session's conf
        val same = variant.forall { v =>
          val a = fn(spark, sfDir).localCheckpoint()
          val b = fn(v, sfDir).localCheckpoint()
          val b2 = spark.createDataFrame(b.rdd, b.schema)
          try a.exceptAll(b2).isEmpty && b2.exceptAll(a).isEmpty
          finally { CacheScope.freeCheckpoint(a); CacheScope.freeCheckpoint(b) }
        }
        if (!same) {
          failed = true
          println(s"PROBE $name MISMATCH base and variant results differ")
        } else {
          if (variant.isEmpty) run1(spark)
          // alternate the side order per rep so drift bills both alike
          val runs = (0 until reps).flatMap { r =>
            val order = if (r % 2 == 0) sides else sides.reverse
            order.map { case (label, s) => label -> run1(s) }
          }
          sides.foreach { case (label, _) =>
            val mine = runs.collect { case (`label`, tc) => tc }
            val (best, stages) = mine.minBy(_._1)
            println(f"PROBE $name%-24s $label%-7s ${best}%.3f  all " +
              mine.map(tc => f"${tc._1}%.2f").mkString(","))
            stages.sortBy(-_._2.wallMs).take(12).foreach { case (id, st) =>
              println(f"  STAGE $id%4d tasks=${st.tasks}%3d " +
                f"taskTimeSum=${st.taskMs / 1e3}%.1fs wall=${st.wallMs / 1e3}%.1fs  ${st.name}")
            }
          }
        }
      } catch { case e: Throwable =>
        failed = true
        println(s"PROBE $name FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.next().take(200))
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
