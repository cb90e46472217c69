package graft

/** Child process of ManifestSnapshotSpec's cross-PROCESS commit race: a
  * SEPARATE JVM (own FileSystem instances, own locks) appending tagged
  * single-row deltas to a shared local snapshot store through the public
  * API. Exits 0 only when every append committed; the parent asserts the
  * union of both writers' rows survived with no lost version. */
object ForkedCommitterMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, tag, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = graft.core.Graft.session(2, Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-forked-wh").toString))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      (0 until n).foreach { i =>
        graft.core.ManifestSnapshots.appendDelta(
          Seq((s"$tag-$i", i.toLong)).toDF("k", "v").coalesce(1), dir): Unit
      }
    } finally spark.stop()
  }
}
