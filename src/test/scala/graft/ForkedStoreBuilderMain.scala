package graft

import org.apache.spark.sql.functions._

/** Child process of StoreRootsSpec's cross-PROCESS publish race: a SEPARATE
  * JVM (own FileSystem instances — only the on-disk rename arbiter is
  * shared) racing the parent to publish the same store root through
  * [[graft.core.StoreRoots.ensure]]. Synchronization is file-based: the
  * child drops `ready-<tag>` in the sync dir, spins for `go`, then builds —
  * so both builders demonstrably overlap rather than the child still paying
  * JVM startup while the parent publishes uncontested. The ensure() result
  * ("did THIS call publish") lands in the result file; exits 0 iff the
  * store is READY afterwards. */
object ForkedStoreBuilderMain {
  def main(args: Array[String]): Unit = {
    val Array(root, tag, syncDir, resultFile) = args.take(4)
    val spark = graft.core.Graft.session(2, Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-forked-wh").toString))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val sync = java.nio.file.Paths.get(syncDir)
      java.nio.file.Files.createFile(sync.resolve(s"ready-$tag"))
      while (!java.nio.file.Files.exists(sync.resolve("go"))) Thread.sleep(10)
      val won = graft.core.StoreRoots.ensure(spark, root) { tmp =>
        (0L until 20L).toDF("id").withColumn("builder", lit(tag))
          .write.parquet(tmp)
        Thread.sleep(300) // widen the publish-race window
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(resultFile),
        won.toString.getBytes("UTF-8"))
      if (!graft.core.StoreRoots.isReady(spark, root)) sys.exit(2)
    } finally spark.stop()
  }
}
