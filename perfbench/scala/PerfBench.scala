package graft.perfbench

import graft.core.{Graft, Lakehouse}
import graft.pipeline.{CoinBalances, DomainPipeline, Medallion, RawIngestion, WalletFeatures}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The pipeline benchmark's in-process runner: runs one workload of the two
  * medallion DAGs by calling each layer's public function, times every
  * cycle, checks the outputs, and prints one `PERFBENCH_RESULT` JSON line.
  *
  * With `--trace 1` every layer call runs inside a span: the listener bus
  * is drained at both span edges, so the counts a [[LayerListener]] and the
  * QueryExecutionListener collect between them belong to that call, and the
  * lake is listed before and after it (outside the span's clock). The spans
  * and counts are written as one JSON record at the end.
  *
  * On `domain_incremental`, phase `history` runs the history delivery's
  * cold cycle into an empty lake and stops; `perfbench/run.py` keeps that
  * lake and restores a copy of it before each `run` phase, which times
  * the fresh batches in a fresh JVM. The other workloads have only the
  * `run` phase, which times their one delivery as a cold cycle.
  *
  * Usage (normally launched by `perfbench/run.py`):
  * {{{
  * PerfBench --workload W --phase history|run --inputs DIR --work DIR
  *           --seconds S --trace 0|1 --record FILE --cpus N
  * }}}
  */
object PerfBench {

  val Layers: Seq[String] =
    Seq("session", "raw", "stage", "analytics", "features", "quality", "serving", "maintain")
  val LayerMetrics: Seq[String] = Seq("wall_s", "plan_s", "jobs", "tasks", "task_s",
    "slot_util", "gc_s", "shuffle_mb", "spill_mb", "read_mb", "write_mb",
    "files_written", "partitions_touched", "rows_out")

  /** A Sunday: `DomainPipeline.weeklyMaintain` only runs on one. */
  val Sunday: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 7)

  final case class Delivery(name: String, path: String, rows: Long, bytes: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = new Run(workload, a("phase"), a("inputs"), a("work"), a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt)
    val result = try run.execute() finally run.stop()
    if (run.trace) Files.writeString(Paths.get(a("record")), run.record())
    println("PERFBENCH_RESULT " + result)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Minimal JSON writer for the result line and the run record. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** Listener counts for the layer call currently in flight. `current` is
  * switched only while the bus is drained, so every event is attributed to
  * the span that caused it; `take` is called after a drain too. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var current: String = null
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit =
    if (current != null) acc.synchronized { acc(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("read_bytes", m.inputMetrics.bytesRead.toDouble)
      add("write_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    add("plan_ms", Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum)
    add("queries", 1)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Map[String, Double] = acc.synchronized {
    val out = acc.toMap
    acc.clear()
    out
  }
}

/** One benchmark run: a fresh session, one workload, its checks. */
final class Run(workload: String, phase: String, inputs: String, work: String,
    seconds: Double, val trace: Boolean, cpus: Int) {
  import PerfBench._

  private val domain = workload.startsWith("domain")
  private val deliveries: Map[String, Delivery] =
    Files.readAllLines(Paths.get(inputs, "manifest.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(f =>
        f(0) -> Delivery(f(0), f(1), f(2).toLong, f(3).toLong)).toMap
  /** The fresh deliveries after the history, in delivery order. */
  private def batches: Seq[Delivery] =
    deliveries.values.filter(_.name != "history").toSeq.sortBy(_.name)

  // ---------------------------------------------------------------- state
  final case class Span(layer: String, cycle: Int, kind: String, startMs: Double,
      wallS: Double, counts: Map[String, Double])
  final case class Cycle(id: Int, kind: String, delivery: String, wallS: Double,
      bookkeepingS: Double, createdBytes: Long, deliveredRows: Long, deliveredBytes: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val cycles = mutable.ArrayBuffer[Cycle]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var deliveredBytesTotal = 0L
  private var lake: String = null
  private var cycleSeq = 0
  private var bookkeepingNs = 0L
  private val t0Ns = System.nanoTime()
  private var setupEndMs = 0L
  private var lastFactFiles: Set[String] = Set.empty

  private var sessionS = 0.0
  val spark: SparkSession = {
    val s0 = System.nanoTime()
    val s = Graft.session(cpus)
    sessionS = (System.nanoTime() - s0) / 1e9
    s
  }
  private val listener = new LayerListener
  if (trace) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def stop(): Unit = spark.stop()

  // ------------------------------------------------------------- listing
  final case class FileInfo(size: Long, mtime: Long)

  /** Data files under the lake (relative path → size, mtime); paths with
    * a `_`- or `.`-prefixed component (staging dirs, markers, checksums)
    * are not data. */
  private def listLake(): Map[String, FileInfo] = {
    val root = Paths.get(lake)
    if (!Files.exists(root)) return Map.empty
    val st = Files.walk(root)
    try st.iterator().asScala.filter(p => Files.isRegularFile(p)).flatMap { p =>
      val rel = root.relativize(p)
      if (rel.iterator().asScala.exists(c => c.toString.startsWith("_") || c.toString.startsWith(".")))
        None
      else Some(rel.toString -> FileInfo(Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap finally st.close()
  }

  private def created(before: Map[String, FileInfo], after: Map[String, FileInfo]) =
    after.filter { case (k, v) => !before.get(k).contains(v) }

  /** Parquet footer row counts, cached per file version; files not yet
    * seen are read on a small thread pool. */
  private val footerRows = new java.util.concurrent.ConcurrentHashMap[(String, FileInfo), Long]()
  private def rowsUnder(listing: Map[String, FileInfo], prefixes: Seq[String]): Long = {
    val files = listing.toSeq.filter { case (k, _) =>
      k.endsWith(".parquet") && prefixes.exists(p => k.startsWith(p + "/"))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try files.filterNot(footerRows.containsKey).map { f =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$lake/${f._1}"), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try footerRows.put(f, r.getRecordCount) finally r.close()
        }
      })
    }.foreach(_.get()) finally pool.shutdown()
    files.map(f => footerRows.get(f)).sum
  }

  private def subdirs(rel: String): Seq[String] = {
    val p = Paths.get(lake, rel)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.filter(Files.isDirectory(_))
      .map(d => s"$lake/$rel/${d.getFileName}").toSeq.sorted
  }

  /** The tables a layer writes, lake-relative: its `rows_out` is their
    * row-count delta. */
  private def outputsOf(layer: String): Seq[String] = ((domain, layer) match {
    case (_, "raw") => subdirs("raw")
    case (_, "stage") => subdirs("stage")
    case (true, "analytics") => Seq(DomainPipeline.walletTxPath(lake))
    case (false, "analytics") => Seq(Medallion.analyticsPath(lake))
    case (true, "features") =>
      Seq(DomainPipeline.featuresPath(lake), DomainPipeline.coinBalancesPath(lake))
    case (false, "features") => Seq(Medallion.featuresPath(lake))
    case (_, "serving") => Seq(Medallion.servingPath(lake))
    case (true, "maintain") => outputsOf("analytics") ++ outputsOf("features")
    case _ => Nil
  }).map(_.stripPrefix(lake + "/"))

  private def factDir = outputsOf("analytics").head

  // --------------------------------------------------------------- spans
  /** Run one layer call. Untraced: only its wall time is kept. Traced: the
    * bus is drained on both edges and the lake listed around it; that
    * bookkeeping is outside the span's clock and summed separately. */
  private def span[T](layer: String, cycle: Int, kind: String)(body: => T): T = {
    if (!trace) {
      val s = System.nanoTime()
      try body finally spans += Span(layer, cycle, kind, (s - t0Ns) / 1e6,
        (System.nanoTime() - s) / 1e9, Map.empty)
    } else {
      val b0 = System.nanoTime()
      val before = listLake()
      // a table the call creates counts 0 rows before it
      val rowsBefore = rowsUnder(before, outputsOf(layer))
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      listener.take()
      listener.current = layer
      val s = System.nanoTime()
      bookkeepingNs += s - b0
      try body finally {
        val e = System.nanoTime()
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        listener.current = null
        val c = listener.take()
        val after = listLake()
        val made = created(before, after)
        val wall = (e - s) / 1e9
        val taskS = c.getOrElse("task_ms", 0.0) / 1e3
        val lakeBytes = after.values.map(_.size).sum.toDouble
        val factBefore = before.keySet.filter(_.startsWith(factDir + "/"))
        val extra = mutable.Map[String, Double]()
        layer match {
          case "features" =>
            extra("delta_file_ratio") =
              if (factBefore.isEmpty) 1.0
              else (factBefore -- lastFactFiles).size.toDouble / factBefore.size
            lastFactFiles = factBefore
            val fOuts = outputsOf("features")
            val size = after.filter { case (k, _) => fOuts.exists(p => k.startsWith(p + "/")) }
              .values.map(_.size).sum.toDouble
            val rewritten = made.filter { case (k, _) => fOuts.exists(p => k.startsWith(p + "/")) }
              .values.map(_.size).sum.toDouble
            extra("rewrite_ratio") = if (size > 0) rewritten / size else 0.0
          case "quality" =>
            extra("read_ratio") = if (lakeBytes > 0) c.getOrElse("read_bytes", 0.0) / lakeBytes else 0.0
          case "maintain" =>
            extra("files_before") = before.size.toDouble
            extra("files_after") = after.size.toDouble
          case _ =>
        }
        val counts = Map(
          "wall_s" -> wall,
          "plan_s" -> c.getOrElse("plan_ms", 0.0) / 1e3,
          "jobs" -> c.getOrElse("jobs", 0.0),
          "tasks" -> c.getOrElse("tasks", 0.0),
          "task_s" -> taskS,
          "slot_util" -> (if (wall > 0) taskS / (wall * cpus) else 0.0),
          "gc_s" -> c.getOrElse("gc_ms", 0.0) / 1e3,
          "shuffle_mb" -> c.getOrElse("shuffle_bytes", 0.0) / 1e6,
          "spill_mb" -> c.getOrElse("spill_bytes", 0.0) / 1e6,
          "read_mb" -> c.getOrElse("read_bytes", 0.0) / 1e6,
          "write_mb" -> c.getOrElse("write_bytes", 0.0) / 1e6,
          "files_written" -> made.size.toDouble,
          "partitions_touched" -> made.keys.map(k => k.substring(0, math.max(0, k.lastIndexOf('/'))))
            .toSet.size.toDouble,
          "rows_out" -> (rowsUnder(after, outputsOf(layer)) - rowsBefore).toDouble,
          "queries" -> c.getOrElse("queries", 0.0),
          "lake_mb" -> lakeBytes / 1e6) ++ extra
        spans += Span(layer, cycle, kind, (s - t0Ns) / 1e6, wall, counts)
        bookkeepingNs += System.nanoTime() - e
      }
    }
  }

  // -------------------------------------------------------------- inputs
  private lazy val prices: DataFrame = spark.read.option("header", "true")
    .schema("address STRING, price DOUBLE, price_ts LONG").csv(s"$inputs/prices.csv")
  private lazy val rugpulls: DataFrame = spark.read.option("header", "true")
    .schema("contract_address STRING, rugpull_date DATE").csv(s"$inputs/rugpulls.csv")

  // -------------------------------------------------------------- cycles
  /** Run one DAG cycle over `d`. Returns false (and records why) if a
    * layer threw. */
  private def cycle(d: Delivery, kind: String): Boolean = {
    cycleSeq += 1
    val id = cycleSeq
    attempted += 1
    val before = listLake()
    val bk0 = bookkeepingNs
    val s = System.nanoTime()
    val ok = try {
      if (domain) {
        span("raw", id, kind)(RawIngestion.ingest(spark, d.path, lake))
        span("stage", id, kind)(DomainPipeline.stage(spark, lake))
        span("analytics", id, kind)(DomainPipeline.analytics(spark, lake, Some(rugpulls)))
        span("features", id, kind)(DomainPipeline.features(spark, lake, Some(prices)))
        span("quality", id, kind)(DomainPipeline.qualityGate(spark, lake))
      } else {
        span("raw", id, kind)(Medallion.ingestRaw(spark, d.path, lake))
        span("stage", id, kind)(Medallion.stage(spark, lake))
        span("analytics", id, kind)(Medallion.analytics(spark, lake))
        span("features", id, kind)(Medallion.features(spark, lake))
        span("serving", id, kind)(Medallion.servingExport(spark, lake))
      }
      true
    } catch {
      case e: Exception =>
        failures += s"cycle $id ($kind ${d.name}) threw: ${e.toString.take(500)}"
        false
    }
    val wall = (System.nanoTime() - s) / 1e9
    System.err.println(f"[perfbench] cycle $id $kind ${d.name} $wall%.2f s " +
      spans.filter(_.cycle == id).map(x => f"${x.layer}=${x.wallS}%.2f").mkString(" "))
    val made = created(before, listLake()).values.map(_.size).sum
    deliveredBytesTotal += d.bytes
    cycles += Cycle(id, kind, d.name, wall, (bookkeepingNs - bk0) / 1e9, made, d.rows, d.bytes)
    ok
  }

  private def maintain(): Unit = {
    cycleSeq += 1
    val id = cycleSeq
    attempted += 1
    val bk0 = bookkeepingNs
    val s = System.nanoTime()
    try span("maintain", id, "maintain") {
      require(DomainPipeline.weeklyMaintain(spark, lake, Sunday), "weeklyMaintain did not run")
    } catch {
      case e: Exception => failures += s"maintain $id threw: ${e.toString.take(500)}"
    }
    val wall = (System.nanoTime() - s) / 1e9
    System.err.println(f"[perfbench] maintain $id $wall%.2f s")
    cycles += Cycle(id, "maintain", "", wall, (bookkeepingNs - bk0) / 1e9, 0L, 0L, 0L)
  }

  // -------------------------------------------------------------- checks
  private def check(what: String, ok: => Boolean): Unit = {
    val s = System.nanoTime()
    try if (!ok) failures += what
    catch { case e: Exception => failures += s"$what: ${e.toString.take(300)}" }
    System.err.println(f"[perfbench] check took ${(System.nanoTime() - s) / 1e9}%.2f s: $what")
  }

  private def replayTables: Seq[String] =
    (outputsOf("stage") ++ outputsOf("analytics") ++ outputsOf("features")).map(t => s"$lake/$t")

  /** Order-independent content hash (row count, hash sum) of each table,
    * computed for all tables in one job. */
  private def contentHashes(tables: Seq[String]): Map[String, (Long, java.math.BigDecimal)] = {
    val rowHashes = tables.filter(Lakehouse.tableExists(spark, _)).map { t =>
      val df = spark.read.parquet(t)
      df.select(lit(t).as("t"), xxhash64(to_json(struct(df.columns.sorted.map(col).toSeq: _*)))
        .cast(DecimalType(20, 0)).as("h"))
    }
    if (rowHashes.isEmpty) Map.empty
    else rowHashes.reduce(_ unionAll _).groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
  }

  private def replay(d: Delivery): Unit = {
    val before = contentHashes(replayTables)
    if (cycle(d, "replay"))
      check(s"redelivery of ${d.name} changed stage/analytics/features rows",
        contentHashes(replayTables) == before)
  }

  /** Serving documents map 1:1 onto the features rows. */
  private def checkServing(): Unit = check("serving documents != features rows", {
    val docs = spark.read.parquet(Medallion.servingPath(lake))
    val want = Medallion.servingDocs(spark.read.parquet(Medallion.featuresPath(lake)))
    // (rows, distinct addresses, order-independent hash of the documents)
    def digest(df: DataFrame) = df.agg(count(lit(1)), countDistinct("walletAddress"),
      sum(xxhash64(col("walletAddress"), to_json(col("features")), col("last_ts_us"),
        col("user_partition")).cast(DecimalType(20, 0)))).head()
    val (d, w) = (digest(docs), digest(want))
    d.getLong(0) == d.getLong(1) && d == w
  })

  /** Rows of `stored` and `full` (full outer join on `keys`) that differ
    * in any of `cols`; doubles may differ by `tol`. */
  private def mismatches(stored: DataFrame, full: DataFrame, keys: Seq[String],
      cols: Seq[String], tol: Double): Long = {
    val on = keys.map(k => col(s"s.$k") === col(s"f.$k")).reduce(_ && _)
    val bad = cols.map { c =>
      val (a, b) = (col(s"s.$c"), col(s"f.$c"))
      full.schema(c).dataType match {
        case DoubleType => !coalesce(abs(a - b) <= tol, a <=> b)
        case _ => !(a <=> b)
      }
    }.reduce(_ || _)
    stored.alias("s").join(full.alias("f"), on, "full_outer").filter(bad).count()
  }

  /** After the incremental batches: features and coin balances equal a
    * from-scratch build over the same fact, in the specs' terms.
    *  - Features (WalletFeaturesIncrementalSpec): every column, with the
    *    contracts map compared by its keys, for the wallets where the
    *    incremental path is specified to match: ETH-only, running balance
    *    never negative, and already present in the history (a wallet first
    *    seen in a batch stores min-ever 0 by design). Balances are stored
    *    ROUND(, 5), and each incremental stitch adds to the stored rounded
    *    value, so doubles may drift by 1e-5 per fresh batch.
    *  - Coin balances (CoinBalancesSpec): the additive columns for every
    *    (wallet, contract) pair, to double-summation precision.
    * The check fails if under a tenth of the wallets are eligible. */
  private def checkIncrementalEqualsFull(historyMaxTs: Long, batches: Int): Unit = check(
    "incremental features/coin balances != a full rebuild", {
    val wtx = DomainPipeline.readWalletTx(spark, lake)
    val gate = Some(spark.read.parquet(DomainPipeline.stagePath(lake, "ethereum_tokens_metadata"))
      .filter(col("decimals") > 0)
      .select(col("contract_address").as("contract_address_metadata")).distinct())
    val fullF = WalletFeatures.walletFeatures(wtx, Some(prices), gate, dayUnit = 86400L).persist()
    val fullCb = CoinBalances.fullLoad(wtx).persist()
    try {
      val storedF = spark.read.parquet(DomainPipeline.featuresPath(lake))
      val storedCb = spark.read.parquet(DomainPipeline.coinBalancesPath(lake))
      val eligible = fullCb.groupBy("wallet_address").agg(
          max((col("contract_address") =!= "ETH").cast("int")).as("multi"),
          min("min_balance_in_ever").as("mn"),
          min("first_transaction_timestamp").as("first_ts"))
        .filter(col("multi") === 0 && col("mn") >= 0 && col("first_ts") <= historyMaxTs)
        .select("wallet_address")
      val nEligible = eligible.count()
      def fe(df: DataFrame) = df.join(eligible, Seq("wallet_address"), "left_semi")
        .withColumn("contract_keys", array_sort(map_keys(col("contracts_aggregations"))))
        .drop("contracts_aggregations")
      val fCols = fe(fullF).columns.toSeq
      val badF = mismatches(fe(storedF).select(fCols.map(col): _*), fe(fullF),
        Seq("wallet_address"), fCols, 1e-5 * batches + 1e-9)
      val cbCols = Seq("wallet_address", "contract_address", "total_incoming_value",
        "total_outgoing_value", "total_tx_fee", "first_transaction_timestamp",
        "last_transaction_timestamp", "incoming_transactions_count",
        "outgoing_transactions_count", "transactions_count")
      val badCb = mismatches(storedCb.select(cbCols.map(col): _*), fullCb.select(cbCols.map(col): _*),
        Seq("wallet_address", "contract_address"), cbCols, 1e-9)
      val wallets = storedF.count()
      val sameWallets = wallets == fullF.count()
      require(badF == 0 && badCb == 0 && sameWallets && nEligible * 10 >= wallets,
        s"feature rows differing=$badF coin-balance rows differing=$badCb " +
        s"same wallet count=$sameWallets eligible=$nEligible of $wallets")
      true
    } finally {
      fullF.unpersist()
      fullCb.unpersist()
    }
  })

  // ----------------------------------------------------------- workloads
  /** Deliver fresh batches until at least `min` ran and `seconds` passed,
    * or the generated batches run out. */
  private def deliverFresh(min: Int): Unit = {
    val m0 = System.nanoTime()
    val bs = batches.iterator
    var r = 0
    while (bs.hasNext && (r < min || (System.nanoTime() - m0) / 1e9 < seconds)) {
      cycle(bs.next(), "fresh")
      r += 1
    }
  }

  private def endSetup(): Unit = setupEndMs = System.currentTimeMillis()

  /** The file beside the history lake's tables that holds the newest
    * block timestamp of the history (`_`-prefixed: not lake data). */
  private def historyMaxTsFile = Paths.get(lake, "_history_max_block_timestamp")

  /** Phase `history`: the history delivery's cold cycle into an empty
    * lake. Phase `run`: the workload's timed cycles, then its checks. A
    * traced run also redelivers the last delivery and, on
    * `domain_incremental`, runs the Sunday maintenance pass. */
  def execute(): String = {
    spans += Span("session", 0, "setup", 0.0, sessionS, Map("wall_s" -> sessionS))
    Files.createDirectories(Paths.get(work))
    lake = s"$work/lake"
    if (domain) {
      // resolve the side inputs before the clock starts
      prices.schema
      rugpulls.schema
    }
    if (phase == "history") {
      endSetup()
      if (cycle(deliveries("history"), "history") && domain)
        Files.writeString(historyMaxTsFile, spark.read.parquet(DomainPipeline.walletTxPath(lake))
          .agg(max("block_timestamp")).head.getLong(0).toString)
      return result()
    }
    if (workload == "domain_incremental") {
      // the history lake was restored from the history phase's output
      require(Files.isDirectory(Paths.get(lake)), s"no history lake at $lake")
      deliveredBytesTotal += deliveries("history").bytes
      lastFactFiles = listLake().keySet.filter(_.startsWith(factDir + "/"))
    }
    endSetup()
    workload match {
      case "domain_incremental" =>
        val historyMaxTs = Files.readString(historyMaxTsFile).trim.toLong
        deliverFresh(1)
        if (trace) {
          replay(deliveries(timed("fresh").last.delivery))
          maintain()
        }
        // in a traced run the check follows the pass, so it also holds
        // the compacted fact to the features computed before it
        checkIncrementalEqualsFull(historyMaxTs, timed("fresh").size)
      case "domain_backfill" | "events_serving" =>
        // one delivery into an empty lake: on the domain DAG what a
        // `graft.Main --layer domain-all` invocation pays. The exporter
        // then redelivers it (events_serving: in a traced run only).
        require(cycle(deliveries("history"), "cold"), failures.mkString("; "))
        if (domain || trace) replay(deliveries("history"))
        if (!domain) checkServing()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ------------------------------------------------------------- results
  private def timed(kind: String) = cycles.filter(_.kind == kind).toSeq

  /** The cycles `cycle_s`, the throughput and the layer metrics are taken
    * over: the fresh deliveries, or the cold one in a workload without
    * any (domain_backfill, the history phase). */
  private def rated = Seq("fresh", "cold", "history").map(timed).find(_.nonEmpty).getOrElse(Nil)

  private def netS(cs: Seq[Cycle]) = cs.map(c => c.wallS - c.bookkeepingS)

  private def result(): String = {
    val fresh = rated
    val lakeBytes = listLake().values.map(_.size).sum.toDouble
    val ever = deliveredBytesTotal.toDouble
    val freshS = netS(fresh)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "cycle_s" -> median(freshS),
        "rows_per_s" -> fresh.map(_.deliveredRows).sum / math.max(1e-9, freshS.sum),
        "write_amp" -> fresh.map(_.createdBytes).sum.toDouble /
          math.max(1.0, fresh.map(_.deliveredBytes).sum.toDouble),
        "space_amp" -> lakeBytes / math.max(1.0, ever),
        "peak_rss_mb" -> peakRssMb()) ++
        Seq("replay", "maintain").filter(timed(_).nonEmpty).map(k =>
          s"${k}_s" -> median(netS(timed(k))))
      else layerMetrics()
    if (trace) for (c <- cycles) {
      val layerSum = spans.filter(_.cycle == c.id).map(_.wallS).sum
      val net = c.wallS - c.bookkeepingS
      if (layerSum < 0.95 * net)
        failures += f"cycle ${c.id}: layer wall_s sum $layerSum%.3f s covers under 95%% of $net%.3f s"
    }
    val failed = math.min(failures.size, attempted)
    json(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "setup_end_ms" -> setupEndMs,
      "failures" -> failures.toSeq,
      "traced_cycle_s" -> median(fresh.map(_.wallS)),
      "metrics" -> metrics))
  }

  /** Per-layer metrics: the median over the rated cycles (see [[rated]])
    * of each layer's per-call counts (maintain: over maintain passes;
    * session: its one call), and each layer's wall time in redeliveries
    * (`<layer>.replay_s`). A layer the workload does not run reports 0. */
  private def layerMetrics(): Map[String, Double] = {
    val freshIds = rated.map(_.id).toSet
    def calls(layer: String) = spans.filter(s => s.layer == layer && (layer match {
      case "session" => true
      case "maintain" => s.kind == "maintain"
      case _ => freshIds(s.cycle)
    })).toSeq
    val base = for (l <- Layers; m <- LayerMetrics)
      yield s"$l.$m" -> median(calls(l).map(_.counts.getOrElse(m, 0.0)))
    val kept = freshIds.toSeq.flatMap { id =>
      val raw = spans.find(s => s.cycle == id && s.layer == "raw").map(_.counts("rows_out"))
      val st = spans.find(s => s.cycle == id && s.layer == "stage").map(_.counts("rows_out"))
      for (r <- raw if r > 0; s <- st) yield s / r
    }
    def ratio(l: String, m: String) = median(calls(l).flatMap(_.counts.get(m)))
    // per layer, the wall time of its calls in redelivery cycles
    val replay = for (l <- Layers if l != "session" && l != "maintain") yield
      s"$l.replay_s" -> median(spans.filter(s => s.layer == l && s.kind == "replay").map(_.wallS).toSeq)
    (base ++ replay ++ Seq(
      "stage.kept_ratio" -> median(kept),
      "features.delta_file_ratio" -> ratio("features", "delta_file_ratio"),
      "features.rewrite_ratio" -> ratio("features", "rewrite_ratio"),
      "quality.read_ratio" -> ratio("quality", "read_ratio"),
      "maintain.files_before" -> ratio("maintain", "files_before"),
      "maintain.files_after" -> ratio("maintain", "files_after"))).toMap
  }

  /** The traced run's record: every span with its counts (parent = its
    * cycle), every cycle, and the wall-time coverage check. */
  def record(): String = {
    val cyc = cycles.toSeq.map { c =>
      val layerSum = spans.filter(_.cycle == c.id).map(_.wallS).sum
      val net = c.wallS - c.bookkeepingS
      Map("id" -> c.id, "kind" -> c.kind, "delivery" -> c.delivery, "wall_s" -> c.wallS,
        "bookkeeping_s" -> c.bookkeepingS, "layer_wall_sum_s" -> layerSum,
        "coverage" -> (if (net > 0) layerSum / net else 1.0),
        "delivered_rows" -> c.deliveredRows, "delivered_bytes" -> c.deliveredBytes,
        "created_bytes" -> c.createdBytes)
    }
    json(Map(
      "workload" -> workload, "cpus" -> cpus,
      "spans" -> spans.toSeq.map(s => Map("name" -> s.layer, "cycle_id" -> s.cycle,
        "parent" -> s"cycle-${s.cycle}", "kind" -> s.kind, "start_ms" -> s.startMs,
        "end_ms" -> (s.startMs + s.wallS * 1e3), "counts" -> s.counts)),
      "cycles" -> cyc,
      // median wall time net of bookkeeping, per cycle kind
      "timings" -> cycles.map(_.kind).distinct.map(k => s"${k}_s" -> median(netS(timed(k)))).toMap,
      "layer_metrics" -> layerMetrics(),
      "failures" -> failures.toSeq))
  }
}
