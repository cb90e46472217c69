package graft

import graft.core.Lakehouse
import graft.pipeline.Medallion
import org.apache.spark.sql.functions._

/** The CLI layer dispatcher: per-layer stages compose to the same lake state
  * as runCycle (the Main.main entry forks its own session, so the dispatch
  * logic is exercised through the same Medallion calls it routes to). */
class MainSpec extends SparkSpec {

  test("layer-by-layer dispatch produces the same features as runCycle") {
    val csv = tmpDir("main-csv")
    graft.core.Graft.events(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(csv)

    val a = tmpDir("main-a"); val b = tmpDir("main-b")
    Medallion.runCycle(spark, csv, a)
    // the dispatcher's sequence, one layer at a time
    Medallion.ingestRaw(spark, csv, b)
    Medallion.stage(spark, b)
    Medallion.analytics(spark, b)
    Medallion.features(spark, b)
    val fa = Lakehouse.read(spark, Medallion.featuresPath(a))
    val fb = Lakehouse.read(spark, Medallion.featuresPath(b))
    assert(fa.exceptAll(fb).isEmpty && fb.exceptAll(fa).isEmpty)
    assert(fa.count() > 0)
  }

  test("the quality layer's Sunday step compacts the bucketed features table " +
      "through its layout (Medallion.weeklyMaintain)") {
    def exportCsv(dir: String, cond: org.apache.spark.sql.Column): Unit =
      graft.core.Graft.events(spark, sf).filter(cond)
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    def dataFiles(path: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else Seq(f.getPath)
      walk(new java.io.File(path)).toSet
    }
    val cut = 1704844800000000L
    val csv1 = tmpDir("main-sun-csv1"); val csv2 = tmpDir("main-sun-csv2")
    exportCsv(csv1, col("ts_us") <= cut); exportCsv(csv2, col("ts_us") > cut)
    val root = tmpDir("main-sun"); val twin = tmpDir("main-sun-twin")
    Seq(root, twin).foreach(Medallion.runCycle(spark, csv1, _))
    val t = Medallion.featuresLayout(root)
    // a new JVM (the CLI's) starts with an empty catalog
    spark.sql(s"DROP TABLE ${t.name}")
    val before = rowStrings(Lakehouse.read(spark, t.path))
    val filesBefore = dataFiles(t.path)
    assert(!Medallion.weeklyMaintain(spark, root, java.time.LocalDate.of(2024, 1, 6)))
    assert(dataFiles(t.path) == filesBefore, "a Saturday must not compact")
    // one file per (directory, bucket) already: the Sunday step runs
    // through the layout and has nothing to rewrite
    assert(Medallion.weeklyMaintain(spark, root, java.time.LocalDate.of(2024, 1, 7)))
    assert(dataFiles(t.path) == filesBefore,
      "the Sunday step rewrote an already-compact features table")
    assert(rowStrings(Lakehouse.read(spark, t.path)) == before)
    assert(Lakehouse.scanBucketedOn(Medallion.readFeatures(spark, root), t.key))
    // the next incremental cycle equals the same cycle over the twin lake
    // that was never compacted
    Seq(root, twin).foreach(Medallion.runCycle(spark, csv2, _))
    assert(rowStrings(Lakehouse.read(spark, t.path)) ==
      rowStrings(Lakehouse.read(spark, Medallion.featuresPath(twin))))
    assert(Lakehouse.scanBucketedOn(Medallion.readFeatures(spark, root), t.key))
  }

  test("graft.Main runs --layer all, then --layer serving in a second JVM: " +
      "both exit 0 and the serving documents equal servingDocs(features)") {
    val csv = tmpDir("main-cli-csv"); val lake = tmpDir("main-cli-lake")
    LayoutFixtures.writeEvents(spark, csv, 0L, 200L, users = 80)
    // main stops its session, so each run gets a JVM of its own, started
    // in a scratch directory that takes any warehouse or Derby files
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
    val jvmArgs = inArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a == "--add-opens" || a == "--add-exports") Seq(a, inArgs(i + 1))
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=")) Seq(a)
      else Nil
    }
    def runMain(args: String*): Int = {
      val cwd = new java.io.File(tmpDir("main-cli-cwd"))
      val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx2g",
        "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
        "graft.Main") ++ args): _*)
      pb.directory(cwd).redirectErrorStream(true)
        .redirectOutput(ProcessBuilder.Redirect.to(new java.io.File(cwd, "main.log")))
      val child = pb.start()
      assert(child.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
        s"graft.Main ${args.mkString(" ")} did not finish - see $cwd/main.log")
      child.exitValue()
    }
    assert(runMain("--layer", "all", "--lake", lake, "--csv", csv) == 0,
      "graft.Main --layer all failed")
    assert(runMain("--layer", "serving", "--lake", lake) == 0,
      "graft.Main --layer serving failed")
    val docs = Lakehouse.readBucketed(spark, Medallion.servingLayout(lake))
    assert(docs.count() > 0)
    assert(rowStrings(docs) ==
      rowStrings(Medallion.servingDocs(Medallion.readFeatures(spark, lake))))
  }

  test("raw-domain layer ingests the exporter CSVs into enriched raw tables") {
    import graft.pipeline.RawIngestion
    val csv = tmpDir("raw-csv"); val lake = tmpDir("raw-lake")
    def write(name: String, header: String, rows: String*): Unit = {
      val p = java.nio.file.Paths.get(csv, s"$name.csv")
      java.nio.file.Files.writeString(p, (header +: rows).mkString("\n"))
    }
    write("blocks", "timestamp,number,hash,base_fee_per_gas",
      "1704067200,100,bh100,7")
    write("transactions",
      "hash,from_address,to_address,nonce,transaction_index,gas,gas_price,max_fee_per_gas,max_priority_fee_per_gas,value,input,block_hash,block_timestamp,block_number,transaction_type",
      "h1,a,b,1,0,21000,5,6,7,9,0x,bh100,1704067200,100,2")
    write("receipts",
      "transaction_hash,block_number,cumulative_gas_used,gas_used,contract_address,root,status,effective_gas_price",
      "h1,100,42000,21000,,r,1,5")
    write("logs", "log_index,transaction_hash,address,data,topics,block_number",
      "0,h1,0xc,0x,t1|t2,100")
    write("token_transfers",
      "token_address,from_address,to_address,transaction_hash,value,log_index,block_number",
      "0xtok,a,b,h1,1000,0,100")
    write("traces",
      "transaction_hash,from_address,to_address,trace_type,call_type,reward_type,trace_id,error,value,gas,gas_used,subtraces,status,block_number",
      "h1,a,b,call,call,,t,,500,1,1,0,1,100")
    RawIngestion.ingest(spark, csv, lake)
    val tx = Lakehouse.read(spark, s"$lake/raw/ethereum_transactions").head()
    assert(tx.getAs[Long]("receipt_gas_used") == 21000L)
    assert(tx.getAs[String]("date_partition") == "2024-01")
    val lg = Lakehouse.read(spark, s"$lake/raw/ethereum_logs").head()
    assert(lg.getAs[scala.collection.Seq[String]]("topics").toSeq == Seq("t1", "t2"))
    assert(lg.getAs[Long]("block_timestamp") == 1704067200L)
    val tr = Lakehouse.read(spark, s"$lake/raw/ethereum_traces").head()
    assert(tr.getAs[String]("block_hash") == "bh100")
    assert(Lakehouse.read(spark, s"$lake/raw/ethereum_token_transfers").count() == 1)
  }
}
