package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake-table primitives: the reference's ingestion idioms re-expressed as
  * Spark writers/readers over partitioned parquet.
  *
  * Reference semantics covered (SURVEY.md §2.1):
  *  - S4  partitioned parquet append            -> [[appendPartitioned]]
  *  - S5  CTAS                                  -> [[ctas]]
  *  - S6  INSERT INTO guarded by NOT EXISTS     -> [[antiJoinAppend]]
  *  - S7  MERGE INTO keyed upsert (Iceberg)     -> [[mergeUpsert]]
  *  - S8  table-exists probe -> full vs incremental plan
  *                                              -> [[tableExists]], [[loadIncremental]]
  *  - S11 OPTIMIZE bin_pack compaction          -> [[compact]]
  *  - A1  partition-pruned MAX watermark        -> [[watermark]]
  *
  * The bucketed variants keep the reference's `address_partition` layout
  * planner-visible (catalog bucketing). Each takes the table's one
  * [[BucketedTable]] value, so a layout is declared once per table:
  *  - bucketed CTAS / append                    -> [[ctasBucketed]], [[appendBucketed]]
  *  - fresh-session re-registration + read      -> [[ensureBucketedTable]], [[readBucketed]]
  *  - S8 full-vs-incremental                    -> [[loadIncrementalBucketed]]
  *  - S7 MERGE (and its plan, and update alignment)
  *                                              -> [[mergeUpsertBucketed]],
  *                                                 [[bucketedMergePlan]], [[alignToBuckets]]
  *  - S11 layout-preserving compaction          -> [[compactBucketed]], [[compactLayout]]
  *  - plain-to-bucketed upgrade                 -> [[migrateToBucketed]]
  *
  * A layer's independent per-table loads run at once through
  * [[concurrently]].
  *
  * One hashing axis: a [[BucketedTable.keyDirected]] table takes its hive
  * directory from the key's bucket hash ([[keyDir]]), so each directory
  * holds exactly one bucket and a write leaves at most one file per
  * directory. The writers derive the column themselves, the MERGE derives
  * its touched directories the same way, and the `_graft_layout` marker
  * records the rule. A lake written under another directory rule is never
  * registered (readers take the path read) and is rewritten once by its
  * next writer ([[migrateToBucketed]]).
  *
  * All tables are directories of parquet files, optionally hive-partitioned.
  * At cluster scale the same code runs unchanged: the writers shuffle by the
  * partition column so each task owns whole output partitions (no
  * thousands-of-small-files problem), and the readers rely on Catalyst
  * partition pruning for the `date_partition` predicates.
  *
  * Reference: src/helpers/athena.py:44-203, src/pipelines/stage/queries
  * (e.g. ethereum_blocks.sql:38-72 for the anti-join guard,
  * ethereum_wallet_features.sql:760-833 for MERGE).
  */
object Lakehouse {

  /** One bucketed lake table's layout: catalog name, lake path (the table
    * is external there — the directory stays the source of truth and the
    * catalog entry is metadata over it), bucket key and count, the
    * within-bucket sort, and the hive partition columns; `keyDirected`
    * when the one partition column is the key's bucket directory
    * ([[keyDir]]). Every bucketed primitive below takes this value, so each
    * table's layout is written once where the table is declared. */
  final case class BucketedTable(name: String, path: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
      keyDirected: Boolean = false) {
    // the key directory is the table's only hive column, and each of the
    // KeyDirs directories must fall inside exactly one bucket
    require(!keyDirected || (partitionCols.size == 1 && KeyDirs % buckets == 0),
      s"$name: a key-directed layout needs one partition column and a bucket " +
        s"count dividing $KeyDirs (got ${partitionCols.mkString(",")}, $buckets)")

    /** The key-derived directory column, when [[keyDirected]]. */
    def keyDirCol: Option[String] = if (keyDirected) partitionCols.headOption else None
  }

  object BucketedTable {
    /** A layout whose catalog name is `prefix` + the lake root folded to
      * an identifier — per-root unique, so concurrent lakes (tests,
      * blue/green rebuilds) coexist in one catalog. */
    def rooted(prefix: String, root: String, path: String, key: String,
        buckets: Int, sortCols: Seq[String] = Nil,
        partitionCols: Seq[String] = Nil): BucketedTable =
      BucketedTable(prefix + root.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase,
        path, key, buckets, sortCols, partitionCols)

    /** A [[rooted]] layout hive-partitioned by its key's bucket directory
      * `dirCol` ([[keyDir]]): each directory holds one bucket's file. */
    def keyDirected(prefix: String, root: String, path: String, key: String,
        buckets: Int, dirCol: String): BucketedTable =
      rooted(prefix, root, path, key, buckets, partitionCols = Seq(dirCol))
        .copy(keyDirected = true)
  }

  /** Directory count of a key-directed layout: the reference's two-hex-digit
    * `address_partition` space (ethereum_contracts.sql:16). */
  final val KeyDirs = 256

  /** The key's directory: `pmod(hash(key), 256)` in two hex digits. Spark's
    * bucket id is `pmod(hash(key), buckets)` (the same murmur3, seed 42), so
    * with `buckets` dividing 256 a directory's rows all share one bucket. */
  def keyDir(key: Column): Column =
    format_string("%02x", pmod(hash(key), lit(KeyDirs)))

  /** `df` with its layout's key directory column (re)derived from the key;
    * unchanged for a layout without one. */
  private def withKeyDir(df: DataFrame, t: BucketedTable): DataFrame =
    t.keyDirCol.fold(df)(d => df.withColumn(d, keyDir(col(t.key))))

  /** The key directories `rows` fall in under `t`'s rule — the touched set
    * of a MERGE of `rows` into `t`. The keys are made distinct first: over
    * rows clustered by the key (a scan bucketed on it, or rows aligned to
    * the buckets) that needs no exchange, and the scan keeps one task per
    * bucket. */
  def keyDirsOf(rows: DataFrame, t: BucketedTable): Seq[String] =
    rows.select(col(t.key)).distinct().select(keyDir(col(t.key))).distinct()
      .collect().map(_.getString(0)).toSeq

  /** `stored` (a [[readBucketed]] of the key-directed table `t`) narrowed to
    * the key directories `rows` fall in ([[keyDirsOf]]): every stored row
    * sharing a key with `rows`, read from those directories only — the
    * reference's `partition IN chunk` state read (features_pipeline.py:
    * 111-113). A table not in `t`'s layout yet (its next writer migrates
    * it) is returned whole: its directories follow another rule. */
  def inKeyDirsOf(stored: DataFrame, rows: DataFrame, t: BucketedTable): DataFrame = {
    require(t.keyDirected, s"${t.name} has no key directory")
    if (!ensureBucketedTable(stored.sparkSession, t)) stored
    else stored.filter(col(t.keyDirCol.get).isin(keyDirsOf(rows, t): _*))
  }

  /** Bucket count of the two DAGs' bucketed facts and feature tables. 32
    * matches the local harness parallelism; the count is recorded beside
    * the data ([[ensureBucketedTable]] refuses a mismatch), so changing it
    * means rewriting every existing lake table. */
  val FactBuckets = 32

  /** A table "exists" when it holds at least one data file — a directory
    * left by an all-filtered-out write (only _SUCCESS, or empty partition
    * dirs) reads as absent, so the next load takes the full-load path
    * instead of failing schema inference. Early-exits on the first data
    * file; descends one level for hive-partitioned layouts. */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasDataFile(dir: org.apache.hadoop.fs.Path, depth: Int): Boolean =
      fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        if (st.isFile) !(n.startsWith("_") || n.startsWith("."))
        else depth > 0 && hasDataFile(st.getPath, depth - 1)
      }
    fs.exists(p) && hasDataFile(p, 2)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Most units [[concurrently]] runs at once: the widest layer, the domain
    * stage's seven tables. */
  private val MaxConcurrentUnits = 7

  /** Run a layer's independent per-table units at once, so their Spark jobs
    * share the slots instead of queueing behind each other: one named
    * daemon thread per unit (at most [[MaxConcurrentUnits]]), a fresh pool
    * per call. Waits for every unit; a failed unit does not cancel the
    * others, so each unit that succeeds has committed when this returns or
    * throws. Rethrows the first failure in unit order, the later ones
    * attached as suppressed. Units must not read each other's output or
    * create the same catalog entry. */
  def concurrently(units: Seq[() => Unit]): Unit = if (units.nonEmpty) {
    import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
    val seq = new java.util.concurrent.atomic.AtomicInteger()
    val pool = Executors.newFixedThreadPool(math.min(units.size, MaxConcurrentUnits),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-concurrently-${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    try {
      val running = units.map(u => pool.submit(new Callable[Unit] { def call(): Unit = u() }))
      val failures = running.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** S5: CREATE TABLE AS SELECT — full (re)materialization, snappy parquet,
    * hive-partitioned. Repartition by the partition columns first so each
    * output partition is written by few tasks (bounded file count at 100 TB).
    */
  def ctas(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val out = if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*) else df
    val w = out.write.mode(SaveMode.Overwrite).option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Bucketed CTAS — the reference's `address_partition` idiom (a hash
    * bucket carried as a data column and re-derived by every consumer,
    * ethereum_wallet_transactions.sql:107,157) made PLANNER-VISIBLE: Spark
    * catalog bucketing records the layout, so every later equi-join,
    * window, or aggregation on the bucket key between same-bucketed tables
    * plans with ZERO exchanges — the shuffle is paid once at write time,
    * not once per downstream query. At 100 TB this is the difference
    * between re-shuffling the wallet-transactions fact for every feature
    * program that joins it and scanning co-located buckets in place.
    * The sort columns additionally sort within buckets (parquet row-group
    * min/max pruning on the sort key — e.g. the incremental readers'
    * `block_timestamp > watermark` filter skips whole row groups).
    *
    * The df is aligned to the buckets first ([[alignToBuckets]]: free when
    * its plan already ends hash-partitioned on (key, buckets), as a rollup
    * off a same-bucketed scan does) — bucketBy uses the same murmur3 hash as
    * HashPartitioning, so each write task then owns exactly one bucket and
    * each bucket is ONE sorted file per hive partition, whatever
    * `spark.sql.shuffle.partitions` is; without it every task emits up to
    * `buckets` files (tasks×buckets small files at scale, and a multi-file
    * bucket forfeits the sorted-read path). A key-directed layout gets its
    * directory column derived here. The table is external at `t.path` (the
    * lake directory layout stays the source of truth; the catalog entry is
    * metadata over it). */
  def ctasBucketed(df: DataFrame, t: BucketedTable): Unit =
    writeBucketed(alignToBuckets(withKeyDir(df, t), t), t)

  /** The bucketed CTAS of rows already laid out one bucket per task. */
  private def writeBucketed(out: DataFrame, t: BucketedTable): Unit = {
    bucketedWriter(out, t, SaveMode.Overwrite).option("path", t.path).saveAsTable(t.name)
    // record the layout beside the data: bucket COUNT is not recoverable
    // from the files (ids only lower-bound it), and re-registering with a
    // different count silently mis-buckets every zero-exchange join
    writeLayoutMarker(out.sparkSession, t)
  }

  private def bucketedWriter(df: DataFrame, t: BucketedTable, mode: SaveMode) = {
    var w = df.write.mode(mode).format("parquet").option("compression", "snappy")
    if (t.partitionCols.nonEmpty) w = w.partitionBy(t.partitionCols: _*)
    w = w.bucketBy(t.buckets, t.key)
    if (t.sortCols.nonEmpty) w = w.sortBy(t.sortCols.head, t.sortCols.tail: _*)
    w
  }

  /** On-disk layout record for external bucketed tables ([[ctasBucketed]]
    * writes it, [[ensureBucketedTable]] refuses a mismatched registration).
    * Underscore-prefixed so every data-file listing skips it. */
  private val LayoutMarker = "_graft_layout"

  /** The directory rule a key-directed layout records in its marker. */
  private def dirRule(t: BucketedTable): Option[String] =
    t.keyDirCol.map(d => s"$d=%02x(pmod(hash(${t.key}), $KeyDirs))")

  private def writeLayoutMarker(spark: SparkSession, t: BucketedTable): Unit = {
    val p = new org.apache.hadoop.fs.Path(t.path, LayoutMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val dirs = dirRule(t).fold("")(r => s"dirs=$r\n")
    try out.write(s"key=${t.key}\nbuckets=${t.buckets}\n$dirs".getBytes("UTF-8"))
    finally out.close()
  }

  /** The marker's `key=value` lines; None without a marker. */
  private def readLayoutMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(dir, LayoutMarker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(s.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v.trim }.toMap)
    }
  }

  /** Incremental append into a bucketed catalog table (the S4 append with
    * the bucket layout maintained): new rows land as one new file per
    * (bucket, new hive partition), so the zero-exchange read property
    * survives incremental loads. The table must already exist (create it
    * with [[ctasBucketed]] or re-register with [[ensureBucketedTable]]). */
  def appendBucketed(df: DataFrame, t: BucketedTable): Unit =
    bucketedWriter(alignToBuckets(withKeyDir(df, t), t), t, SaveMode.Append)
      .saveAsTable(t.name)

  /** Restart safety for bucketed lake tables: a fresh session (new driver,
    * new in-memory catalog — or a rebuilt metastore) re-registers the
    * existing on-disk layout instead of rewriting it. Never writes data.
    * A key-directed layout whose marker records another directory rule (or
    * none: a lake written before the rule was recorded) is not registered —
    * a MERGE would be scoped to directories the stored rows are not in; its
    * next writer upgrades it once ([[migrateToBucketed]]). Returns whether
    * the table is registered (data present, in the requested layout). No-op
    * when already registered. */
  def ensureBucketedTable(spark: SparkSession, t: BucketedTable): Boolean = {
    val BucketedTable(table, path, key, buckets, sortCols, partitionCols, _) = t
    if (spark.catalog.tableExists(table)) return true
    if (!tableExists(spark, path)) return false
    // bucket ids live in the FILE NAMES (part-...-_00007.c000...): a lake
    // written plain-partitioned (pre-bucketing layout) must NOT be
    // registered as bucketed — the reader would fail on (or mis-bucket)
    // files without a bucket-id suffix. Caller falls back to a plain read.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = dataFiles(fs, p)
    if (!looksBucketed(files)) return false
    // The bucket COUNT is not recoverable from file names (ids only lower-
    // bound it), and registering INTO N BUCKETS over a layout written with
    // M != N silently mis-buckets zero-exchange joins (updates miss their
    // target rows and re-insert). The layout marker written at CTAS time is
    // authoritative; without one (pre-marker layout), a file whose bucket
    // id >= the requested count PROVES a mismatch — refuse both loudly.
    val marker = readLayoutMarker(fs, p)
    marker match {
      case Some(m) =>
        val (mk, mb) = (m.getOrElse("key", ""), m.get("buckets").fold(-1)(_.toInt))
        require(mk == key && mb == buckets,
          s"bucket-layout mismatch for $table at $path: on-disk CLUSTERED BY " +
            s"($mk) INTO $mb buckets, caller requested ($key, $buckets) — " +
            "re-registering would silently corrupt bucketed merges; refusing")
      case None =>
        val maxId = files.flatMap(f => bucketId(f.getName)).foldLeft(-1)(math.max)
        require(maxId < buckets,
          s"bucket-layout mismatch for $table at $path: file with bucket id " +
            s"$maxId exceeds the requested $buckets buckets; refusing")
    }
    if (marker.flatMap(_.get("dirs")) != dirRule(t)) return false
    val schema = writtenSchema(spark, path)
    // partition columns must come last and be named in PARTITIONED BY
    val ordered = schema.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.map(schema(_))
    val colsDdl = ordered.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partClause =
      if (partitionCols.nonEmpty) s"PARTITIONED BY (${partitionCols.mkString(", ")}) "
      else ""
    val sortClause =
      if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")}) " else ""
    spark.sql(
      s"CREATE TABLE $table ($colsDdl) USING PARQUET $partClause" +
        s"CLUSTERED BY ($key) ${sortClause}INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
    if (partitionCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table")
    true
  }

  /** The table's schema with every hive partition column typed STRING, as
    * the writers emit it: with partition-column type inference on, a value
    * that round-trips as DATE/INT (a day-grain '2024-01-07', an all-digit
    * bucket directory) would come back as a DATE/INT column — the next
    * appendBucketed would fail ANSI store assignment, spark.table vs path
    * reads would disagree, and a rewrite would lose the leading zeros.
    * [[Graft.session]] pins inference off; this only checks the pin, so
    * a registration never writes session state a concurrent query sees. */
  private def writtenSchema(spark: SparkSession, path: String): StructType = {
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    require(spark.conf.getOption(inferKey).contains("false"),
      s"$inferKey must be false (Graft.session pins it) to read $path's " +
        s"partition columns as written; got ${spark.conf.getOption(inferKey)}")
    spark.read.parquet(path).schema
  }

  /** A path read under [[writtenSchema]]. */
  private def readAsWritten(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(writtenSchema(spark, path)).parquet(path)

  /** A bucketed table through its catalog entry (re-registered from the
    * on-disk layout on a fresh session), so consumers get the scan's key
    * clustering; a path read ([[readAsWritten]]: partition values as the
    * strings the writers emitted, like the catalog read) for a lake not in
    * the requested layout yet — a legacy pre-bucketing lake, or one written
    * under another directory rule. */
  def readBucketed(spark: SparkSession, t: BucketedTable): DataFrame =
    if (ensureBucketedTable(spark, t)) spark.table(t.name) else readAsWritten(spark, t.path)

  /** Every data file under `dir` (2 levels deep, hive layouts). */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path, depth: Int = 2): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile) { if (n.startsWith("_") || n.startsWith(".")) Nil else Seq(st.getPath) }
      else if (depth > 0) dataFiles(fs, st.getPath, depth - 1)
      else Nil
    }

  /** Every data file matches Spark's bucketed-write naming
    * (`part-NNNNN-<uuid>_BBBBB.cNNN.…`) — the on-disk signature of a
    * bucketed write. Anchored to the full pattern, not just the `_BBBBB.`
    * infix: a plain lake populated by a non-Spark writer whose names happen
    * to contain `_00001.` must NOT register as bucketed (the reader would
    * assign bogus bucket ids and bucketed joins would silently drop
    * matches). */
  private def looksBucketed(files: Seq[org.apache.hadoop.fs.Path]): Boolean =
    files.nonEmpty && files.forall(_.getName.matches("^part-\\d+-.*_\\d{5}\\.c\\d+\\..*"))

  /** The bucket id in a bucketed-write file name. */
  private def bucketId(name: String): Option[Int] =
    "_(\\d{5})\\.c\\d+\\.".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** S11 for bucketed tables: every incremental [[appendBucketed]] adds one
    * file per touched (bucket, partition), so after K batches each bucket
    * holds K files — this collapses them back to one sorted file per
    * (bucket, partition) while PRESERVING the catalog bucket layout (the
    * plain [[compact]] would destroy it, and refuses). Registers the
    * on-disk layout first (a fresh session's catalog is empty); a no-op
    * when the path holds no bucketed layout, and a no-op without a Spark
    * job when every (directory, bucket) already holds one file (always
    * true of a key-directed table written through these primitives).
    * Non-atomic window (same caveat as [[compact]]): readers racing the
    * rewrite between the staging write and the saveAsTable commit see a
    * dropped/empty table — schedule off-peak. */
  def compactBucketed(spark: SparkSession, t: BucketedTable): Unit =
    if (ensureBucketedTable(spark, t)) {
      val p = new org.apache.hadoop.fs.Path(t.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val perBucket = dataFiles(fs, p).groupBy(f => (f.getParent, bucketId(f.getName)))
      if (perBucket.values.exists(_.size > 1))
        rebucketVia(spark, spark.table(t.name), t, ".compact")
    }

  /** S11 for a table declared bucketed: the layout-preserving
    * [[compactBucketed]] when the lake holds the bucketed layout, the
    * plain bin-pack [[compact]] on a legacy plain-layout lake, nothing
    * when the table has no data. */
  def compactLayout(spark: SparkSession, t: BucketedTable): Unit =
    if (tableExists(spark, t.path)) {
      // a writer: a key-directed lake under another rule is upgraded first
      if (t.keyDirected) migrateToBucketed(spark, t)
      if (ensureBucketedTable(spark, t)) compactBucketed(spark, t)
      else compact(spark, t.path, t.partitionCols)
    }

  /** Rewrite `t` from `rows` through [[ctasBucketed]], staging the rows out
    * first because the rewrite overwrites the files they are read from.
    * Staging-dir lifecycle: a failed STAGING write cleans up after itself;
    * a failed REWRITE keeps the staging dir — at that point the table
    * files may already be dropped and staging is the only complete copy
    * (recover by re-running: the staging Overwrite replaces a stale dir). */
  private def rebucketVia(spark: SparkSession, rows: DataFrame,
      t: BucketedTable, suffix: String): Unit = {
    val sp = new org.apache.hadoop.fs.Path(t.path.stripSuffix("/") + suffix)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try rows.write.mode(SaveMode.Overwrite).option("compression", "snappy")
      .parquet(sp.toString)
    catch { case e: Throwable => fs.delete(sp, true); throw e }
    ctasBucketed(spark.read.parquet(sp.toString), t)
    fs.delete(sp, true)
  }

  /** S8 + S5/S4 over a bucketed catalog table: the same full-vs-incremental
    * switch as [[loadIncremental]], but the target keeps the pay-the-
    * shuffle-once bucket layout — the full load is a bucketed CTAS and the
    * incremental path appends bucket-aligned files behind the same
    * anti-join identity guard. */
  def loadIncrementalBucketed(
      spark: SparkSession,
      t: BucketedTable,
      watermarkCol: String,
      keys: Seq[String],
      full: () => DataFrame,
      incremental: Any => DataFrame): Unit = {
    // a key-directed lake under another directory rule is upgraded before
    // it is read; only a legacy plain lake takes the plain append below
    if (t.keyDirected) migrateToBucketed(spark, t)
    val registered = ensureBucketedTable(spark, t)
    val partitionCols = t.partitionCols
    watermark(spark, t.path, watermarkCol,
        partitionCols.headOption.getOrElse(watermarkCol)) match {
      case None => ctasBucketed(full(), t)
      case Some(wm) =>
        // computed once: the partition probe and the append both read it
        val newRows = incremental(wm).persist()
        try {
          // same null-safe identity guard as antiJoinAppend, key-pruned
          // scan — ALSO partition-pruned to the batch's own partitions
          // (sound because the identity keys carry the partition columns;
          // see batchPartitionPrune)
          val fresh = absentFrom(spark, newRows, t.path, keys,
            batchPartitionPrune(newRows, partitionCols, keys))
          if (registered) appendBucketed(fresh, t)
          else
            // LEGACY lake: the path holds a plain (pre-bucketing) layout the
            // catalog refuses to register. appendBucketed would CREATE a
            // warehouse-located table holding only this delta while path
            // readers keep the old files — silent data loss. Keep appending
            // plain (readers fall back to the path read) until the layout is
            // upgraded once via [[migrateToBucketed]].
            appendPartitioned(fresh, t.path, partitionCols)
        } finally newRows.unpersist()
    }
  }

  /** One-time upgrade of a lake table to its requested layout — a legacy
    * plain-layout lake, or a key-directed table written under another
    * directory rule: stages the rows out (the rewrite overwrites the files
    * it reads) and rewrites through [[ctasBucketed]], which recomputes the
    * key directories. No-op when already in the layout or the path has no
    * data. After this, the incremental loader appends bucket-aligned files
    * and consumers get the zero-exchange reads. */
  def migrateToBucketed(spark: SparkSession, t: BucketedTable): Unit =
    migrateVia(spark, t)(identity)

  /** [[migrateToBucketed]] of the stored rows passed through `f`; returns
    * whether the table was rewritten. */
  private def migrateVia(spark: SparkSession, t: BucketedTable)(
      f: DataFrame => DataFrame): Boolean = {
    // already in the layout (and now registered), or no data: nothing to do
    val upgrade = !ensureBucketedTable(spark, t) && tableExists(spark, t.path)
    if (upgrade)
      rebucketVia(spark, f(withKeyDir(readAsWritten(spark, t.path), t)), t, ".migrate")
    upgrade
  }

  /** True when the file scans feeding `df` deliver the `key` clustering —
    * at least one scan is catalog-bucketed on exactly (`key`), and every
    * OTHER file scan in the plan is broadcast-sized (arrives via a
    * broadcast join, which preserves the streamed side's partitioning). A
    * table-sized plain scan voids the claim: its union/sort-merge join
    * output is no longer clustered, and skipping the consumer's
    * repartition would push per-operator exchanges downstream instead. */
  def scanBucketedOn(df: DataFrame, key: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scans = df.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation]
    }
    val (bucketed, plain) =
      scans.partition(_.bucketSpec.exists(_.bucketColumnNames == Seq(key)))
    val bcast = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    bucketed.nonEmpty && plain.forall(h => bcast > 0 && h.sizeInBytes <= bcast)
  }

  /** Cluster `df` by `key` for downstream windows/aggregations: a real
    * repartition on plain inputs, a no-op when the input scan is already
    * bucketed on `key` (the write-time shuffle replaces the runtime one). */
  def clusterBy(df: DataFrame, key: String): DataFrame =
    if (scanBucketedOn(df, key)) df else df.repartition(col(key))

  /** Align a frame to the target's bucket layout
    * (HashPartitioning(key, buckets)): one bucket per task. Every bucketed
    * write and MERGE applies it — a write task then owns whole buckets (one
    * file per (directory, bucket), whatever the shuffle-partition count),
    * and the merge's full-outer join plans zero exchanges. Free when the
    * plan already ends key-partitioned at `buckets` (EnsureRequirements
    * removes a REPARTITION_BY_NUM shuffle whose child partitioning already
    * equals it); otherwise it is the ONE delta-sized shuffle the write or
    * merge join would need anyway — a caller that caches its updates aligns
    * them BEFORE the cache, leaving the merge plan exchange-free. */
  def alignToBuckets(df: DataFrame, t: BucketedTable): DataFrame =
    df.repartition(t.buckets, col(t.key))

  /** S4: plain partitioned append. */
  def appendPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val out = if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*) else df
    val w = out.write.mode(SaveMode.Append).option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** S6/J3: incremental append deduplicated against the existing table —
    * `INSERT INTO t SELECT ... WHERE NOT EXISTS (SELECT 1 FROM t ...)`.
    *
    * Scale note: the target side is pruned to only the key columns (column
    * pruning reaches the parquet scan) and, when `prunePartitions` holds a
    * predicate, to only the partitions new data can collide with — at 100 TB
    * the anti-join never scans the whole table, just the hot months.
    */
  def antiJoinAppend(
      spark: SparkSession,
      newRows: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      prunePartitions: Option[Column] = None): Unit = {
    if (!tableExists(spark, path)) {
      ctas(newRows, path, partitionCols)
    } else
      appendPartitioned(absentFrom(spark, newRows, path, keys, prunePartitions),
        path, partitionCols)
  }

  /** The identity guard shared by every NOT EXISTS append: the rows of
    * `newRows` whose `keys` tuple is absent from the table at `path`
    * (scanned key-columns only, and only the `prune` partitions). The
    * key equality is null-safe: a USING-style join compares with EqualTo,
    * under which a NULL key column (e.g. a NULL amount in the wallet-tx
    * identity) never matches its stored copy — the same row would then
    * re-append on EVERY incremental cycle that re-selects the boundary
    * block, growing the table unboundedly. */
  private def absentFrom(spark: SparkSession, newRows: DataFrame, path: String,
      keys: Seq[String], prune: Option[Column]): DataFrame = {
    val target = read(spark, path)
    val t = prune.fold(target)(target.filter).select(keys.map(col): _*).alias("t")
    val cond = keys.map(k => newRows(k) <=> col(s"t.$k")).reduce(_ && _)
    newRows.join(t, cond, "left_anti")
  }

  /** S6 at 100 TB: [[antiJoinAppend]] behind a persistent key-set Bloom
    * guard ([[BloomSkipping.mergeKeyBloom]]).
    *
    * The plain guard scans the (possibly partition-pruned) store every
    * batch. Here a whole-table Bloom filter over `xxhash64(key tuple)` —
    * maintained incrementally, MBs regardless of store size — proves most
    * of a mostly-new batch fresh at the SCAN (no shuffle, no store read);
    * only probable duplicates (true dups + fpp of the rest) pay the exact
    * null-safe anti join, which also absorbs hash collisions. Commit order
    * is bloom-first: the guard may run AHEAD of the data (false positives,
    * safe) but never behind (which would re-admit silently) — a crash
    * between guard write and data append therefore costs exact checks,
    * not correctness. The guard is advisory state: delete `_key_bloom`
    * and the next batch falls back to the plain exact path and rebuilds
    * forward. Tables fed through any OTHER append path must not carry a
    * guard (a bypassing append breaks the superset invariant — the same
    * exclusive-maintenance contract as the bucketed catalog layouts).
    * CONCURRENCY: the guard's own commits are optimistic and lose no
    * keys under races ([[BloomSkipping.mergeKeyBloom]]'s generation
    * chain), but the admission CHECK and the data append are two steps —
    * run ONE guarded committer per table; concurrent guarded appends of
    * overlapping batches could both admit the overlap. Plain reads and
    * non-overlapping writers need no coordination.
    * Dedup admission ≡ the plain path is pinned in BloomSkipSpec. */
  def antiJoinAppendBloomGuarded(
      spark: SparkSession,
      newRows: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      prunePartitions: Option[Column] = None,
      expectedKeys: Long = 4000000L): Unit = {
    val keyHash = xxhash64(keys.map(col): _*)
    if (!tableExists(spark, path)) {
      ctas(newRows, path, partitionCols)
      // guard creation AFTER first data write: a crash in between leaves
      // no guard -> the next batch takes the exact path (safe)
      BloomSkipping.mergeKeyBloom(spark, path,
        newRows.select(keyHash.as("h")), expectedKeys)
    } else {
      val guardOpt = BloomSkipping.loadKeyBloom(spark, path)
      val fresh = guardOpt match {
        case Some((_, _, guard)) =>
          val bytes = {
            val bos = new java.io.ByteArrayOutputStream()
            guard.writeTo(bos)
            bos.toByteArray
          }
          val probable =
            BloomSkipping.mightContainHashed(spark, bytes, keyHash)
          newRows.filter(!probable).unionByName(absentFrom(spark,
            newRows.filter(probable), path, keys, prunePartitions))
        case None => // no/torn guard: the plain exact path
          absentFrom(spark, newRows, path, keys, prunePartitions)
      }
      // the admitted slice feeds the guard merge AND the data append:
      // persist once, release after both (CacheScope discipline)
      val admitted = fresh.persist()
      admitted.count()
      try {
        guardOpt match {
          case Some(_) =>
            BloomSkipping.mergeKeyBloom(spark, path,
              admitted.select(keyHash.as("h")), expectedKeys)
          case None =>
            // a lost guard on an existing table CANNOT be re-seeded from
            // the batch alone: a guard holding only this batch's keys
            // would claim older stored rows fresh and re-admit them on
            // the next replay. Self-heal instead: rebuild from the WHOLE
            // store's keys (unpruned — the superset invariant is over
            // the full table) plus this batch, one recovery-time scan —
            // the same rebuild-from-ground-truth discipline as
            // TextIndexStore's stats snapshot.
            BloomSkipping.mergeKeyBloom(spark, path,
              read(spark, path).select(keyHash.as("h"))
                .unionByName(admitted.select(keyHash.as("h"))),
              expectedKeys)
        }
        appendPartitioned(admitted, path, partitionCols)
      } finally admitted.unpersist()
    }
  }

  /** S7: MERGE INTO emulation on plain parquet — keyed UPDATE-or-INSERT.
    *
    * Semantics of the reference's Iceberg MERGE (WHEN MATCHED UPDATE SET all
    * columns / WHEN NOT MATCHED INSERT): rows in `updates` replace target rows
    * with the same key; unmatched target rows carry forward.
    *
    * Implementation: updates ⋈ target `full_outer` on keys, prefer the update
    * side per column, rewrite. When `touchedPartitions` is given (derivable
    * from the updates), only those hive partitions are rewritten — a true
    * partition-overwrite MERGE. A 100 TB features table with a 0.1% daily
    * delta rewrites only the touched address partitions.
    */
  def mergeUpsert(
      spark: SparkSession,
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil,
      touchedPartitions: Option[Column] = None,
      keepFromTarget: Set[String] = Set.empty): Unit = {
    // partition-scoped commit moves DIRECTORIES out of staging — with no
    // partition columns the staged output is bare files and the move would
    // silently discard the whole merge
    require(touchedPartitions.isEmpty || partitionCols.nonEmpty,
      "touchedPartitions requires partitionCols: an unpartitioned staging " +
        "dir has no partition directories to move and the merge would be lost")
    if (!tableExists(spark, path)) { ctas(updates, path, partitionCols); return }
    val target = read(spark, path)
    val cols = target.columns.toSeq
    require(updates.columns.toSeq.sorted == cols.sorted,
      s"merge schema mismatch: ${updates.columns.mkString(",")} vs ${cols.mkString(",")}")

    val scopeTarget = touchedPartitions.fold(target)(target.filter)
    val merged = mergeFrames(scopeTarget, updates, keys, keepFromTarget)

    // Materialize BEFORE overwriting: the merged plan reads the files the
    // overwrite is about to delete. Localized via a staging directory so the
    // commit is an atomic-ish directory swap rather than a cached recompute.
    val staging = path.stripSuffix("/") + ".staging"
    ctas(merged, staging, partitionCols)
    swapIn(spark, staging, path, wholeTable = touchedPartitions.isEmpty)
  }

  /** The staged merge's commit: replace the table dir with `staging`
    * wholesale, or (a partition-scoped merge) move each staged partition
    * dir over its live counterpart, leaving untouched partitions' files
    * as they are, then drop the emptied staging dir. */
  private def swapIn(spark: SparkSession, staging: String, path: String,
      wholeTable: Boolean): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val sp = new org.apache.hadoop.fs.Path(staging)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (wholeTable) {
      fs.delete(hp, true)
      fs.rename(sp, hp)
    } else {
      fs.listStatus(sp).foreach { st =>
        if (st.isDirectory) {
          val dest = new org.apache.hadoop.fs.Path(hp, st.getPath.getName)
          if (fs.exists(dest)) fs.delete(dest, true)
          fs.rename(st.getPath, dest)
        }
      }
      fs.delete(sp, true)
    }
  }

  /** The catalog-aware S7 MERGE — [[mergeUpsert]] for a BUCKETED target
    * table. The reference MERGEs into an Iceberg table keyed by wallet with
    * address partitions (ethereum_wallet_features.sql:760-833, scoped per
    * features_pipeline.py:97-104); the path-based [[mergeUpsert]] covers
    * the semantics but its full-outer join re-shuffles the target on the
    * merge key EVERY incremental cycle. Here the target is read through its
    * bucketed catalog entry, so the scan itself delivers
    * HashPartitioning(key, buckets): the updates are aligned to the same
    * partitioning ([[alignToBuckets]] — free when derived from a
    * same-bucketed fact) and the full-outer join plans ZERO bucket-key
    * exchanges, one bucket per task, so the staged rewrite needs no shuffle
    * either — the per-cycle merge cost drops from O(table shuffle) to
    * O(touched directories scan + write). Joins whose key set extends the
    * bucket key (coin balances: wallet + contract) still qualify via subset
    * co-partitioning (`spark.sql.requireAllClusterKeysForCoPartition=false`
    * — set in [[Graft.session]]).
    *
    * On a key-directed layout the merge is directory-scoped: the touched
    * directories are the updates' own ([[keyDirsOf]]), only they are read
    * and rewritten, and every other directory stays untouched on disk. An
    * empty update set writes nothing. Without a key directory the whole
    * table is rewritten.
    *
    * The bucket key must be one of `keys` and non-null by construction (it
    * is compared with `=`, see [[mergeFrames]] `eqKeys`). A table not in
    * the layout yet (a LEGACY plain-layout lake, or a key-directed table
    * under another directory rule) takes this merge as its one-time
    * [[migrateToBucketed]] upgrade: one whole-table rewrite of the merged
    * rows, never a corrupting half-bucketed write. MSCK after the swap registers
    * any NEW hive partitions the merge created; its listing's work is
    * O(partition dirs), which the key-directory scheme bounds at 256, and
    * its tasks are capped at the session's slots ([[Graft.localSizing]]). */
  def mergeUpsertBucketed(
      spark: SparkSession,
      updates: DataFrame,
      t: BucketedTable,
      keys: Seq[String],
      keepFromTarget: Set[String] = Set.empty): Unit = {
    require(keys.contains(t.key),
      s"bucket key ${t.key} must be part of the merge keys ${keys.mkString(",")}")
    if (!tableExists(spark, t.path)) { ctasBucketed(updates, t); return }
    // the merge rides the upgrade's staging write, which runs before the
    // table files are replaced — `updates` may be read from them
    if (migrateVia(spark, t)(mergeFrames(_, withKeyDir(updates, t), keys, keepFromTarget)))
      return
    val touched = t.keyDirCol.map(_ => keyDirsOf(updates, t))
    if (touched.exists(_.isEmpty)) return
    val merged = mergePlan(spark, t, updates, keys, touched, keepFromTarget)

    // Staged swap, same as mergeUpsert (the merged plan reads the files the
    // swap replaces) — but staged through a BUCKETED write so the layout
    // survives the merge. No write-time shuffle: merged comes off the
    // co-partitioned full-outer join, one bucket per task (the planner
    // cannot see it — a full-outer join reports no output partitioning).
    val staging = t.copy(name = t.name + "_staging",
      path = t.path.stripSuffix("/") + ".staging")
    spark.sql(s"DROP TABLE IF EXISTS ${staging.name}")
    val sp = new org.apache.hadoop.fs.Path(staging.path)
    // a stale staging dir (crashed previous merge) would fail the CTAS —
    // CREATE TABLE AS SELECT refuses a non-empty location
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    writeBucketed(merged, staging)
    spark.sql(s"DROP TABLE ${staging.name}") // external: the staged files stay
    swapIn(spark, staging.path, t.path, wholeTable = touched.isEmpty)
    spark.catalog.refreshTable(t.name)
    if (t.partitionCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE ${t.name}")
  }

  /** The bucketed merge's read plan ([[mergeUpsertBucketed]] minus the
    * write, over a registered table) — exposed so specs can assert its
    * physical shape (zero bucket-key exchanges) on the exact plan the merge
    * executes. */
  def bucketedMergePlan(spark: SparkSession, t: BucketedTable, updates: DataFrame,
      keys: Seq[String], keepFromTarget: Set[String] = Set.empty): DataFrame =
    mergePlan(spark, t, updates, keys,
      t.keyDirCol.map(_ => keyDirsOf(updates, t)), keepFromTarget)

  private def mergePlan(spark: SparkSession, t: BucketedTable, updates: DataFrame,
      keys: Seq[String], touched: Option[Seq[String]],
      keepFromTarget: Set[String]): DataFrame = {
    val target = spark.table(t.name)
    val u = alignToBuckets(withKeyDir(updates, t), t)
    val cols = target.columns.toSeq
    require(u.columns.toSeq.sorted == cols.sorted,
      s"merge schema mismatch: ${u.columns.mkString(",")} vs ${cols.mkString(",")}")
    val scoped = touched.fold(target)(ds => target.filter(col(t.partitionCols.head).isin(ds: _*)))
    mergeFrames(scoped, u, keys, keepFromTarget, eqKeys = Set(t.key))
  }

  /** The MERGE semantics as a pure DataFrame transform (shared by
    * [[mergeUpsert]] and the feature modules' in-memory merges): updates
    * replace matched target rows, unmatched target rows carry forward,
    * unmatched updates insert.
    *
    * Membership marker instead of per-column coalesce: Iceberg's
    * `WHEN MATCHED UPDATE SET c = u.c` overwrites with NULL when the update
    * row carries NULL — coalesce(u.c, t.c) would silently resurrect the old
    * value the first time a nullable feature column is legitimately nulled.
    * `keepFromTarget` covers MERGEs whose UPDATE SET omits columns (e.g.
    * coin balances' token_symbol): matched rows keep the stored value.
    *
    * `eqKeys` names key columns compared with plain `=` instead of the
    * null-safe `<=>`. Catalyst extracts a null-safe join key as the
    * (coalesce(k, default), isnull(k)) pair, which a table bucketed on `k`
    * cannot satisfy — the bucketed merge would re-shuffle BOTH sides. Only
    * list keys that are non-null by construction (a table's primary key):
    * under `=` two NULL keys never match, so a NULL-keyed update would
    * insert a duplicate row instead of replacing. */
  def mergeFrames(target: DataFrame, updates: DataFrame, keys: Seq[String],
      keepFromTarget: Set[String] = Set.empty,
      eqKeys: Set[String] = Set.empty): DataFrame = {
    val cols = target.columns.toSeq
    val u = updates.withColumn("__is_update", lit(true)).alias("u")
    // membership marker on BOTH sides: keepFromTarget must hold the stored
    // value even when it is NULL (coalesce would let the update overwrite a
    // legitimately-NULL stored value), so "row exists in target" is decided
    // by the marker, never by a data column's nullness
    val t = target.withColumn("__in_target", lit(true)).alias("t")
    val cond = keys.map { k =>
      if (eqKeys(k)) col(s"u.$k") === col(s"t.$k")
      else col(s"u.$k") <=> col(s"t.$k")
    }.reduce(_ && _)
    u.join(t, cond, "full_outer").select(
      cols.map { c =>
        val v =
          if (keepFromTarget(c))
            when(col("t.__in_target"), col(s"t.$c")).otherwise(col(s"u.$c"))
          else when(col("u.__is_update"), col(s"u.$c")).otherwise(col(s"t.$c"))
        v.as(c)
      }: _*)
  }

  /** A1: partition-pruned watermark — `MAX(col)` restricted to the lexic-max
    * `date_partition`, mirroring the reference's two-phase max
    * (stage_data_ingestion_pipeline.py:50-57). One scan of one partition.
    */
  def watermark(spark: SparkSession, path: String, watermarkCol: String,
      partitionCol: String = "date_partition"): Option[Any] = {
    if (!tableExists(spark, path)) return None
    val t = read(spark, path)
    val maxPart = t.agg(max(col(partitionCol))).head.get(0)
    if (maxPart == null) None
    else Option(t.filter(col(partitionCol) === lit(maxPart))
      .agg(max(col(watermarkCol))).head.get(0))
  }

  /** S8: choose full vs incremental. `full` builds the initial table;
    * `incremental` receives the watermark value and must return only-new rows.
    */
  def loadIncremental(
      spark: SparkSession,
      path: String,
      watermarkCol: String,
      partitionCols: Seq[String],
      keys: Seq[String],
      full: () => DataFrame,
      incremental: Any => DataFrame): Unit = {
    watermark(spark, path, watermarkCol, partitionCols.headOption.getOrElse(watermarkCol)) match {
      case None    => ctas(full(), path, partitionCols)
      case Some(w) =>
        // computed once (one draw of any nondeterministic column, such as
        // a uuid() tag): the partition probe and the append both read it
        val batch = incremental(w).persist()
        try antiJoinAppend(spark, batch, path, keys, partitionCols,
          prunePartitions = batchPartitionPrune(batch, partitionCols, keys))
        finally batch.unpersist()
    }
  }

  /** Partition predicate restricting an identity anti-join's TARGET scan
    * to the partitions the batch actually touches — SOUND exactly when
    * the identity keys include every partition column (then a row's key
    * determines its partition, so untouched partitions cannot hold a
    * duplicate). Costs one partition-column-pruned distinct over the
    * batch; without it every incremental cycle anti-joins against the
    * FULL target key scan — O(table) per batch at lake scale, when the
    * duplicates can only live in the hot partitions. An empty batch
    * returns `lit(false)` (skip the target scan entirely). */
  private def batchPartitionPrune(batch: DataFrame,
      partitionCols: Seq[String], keys: Seq[String]): Option[Column] =
    if (partitionCols.isEmpty || !partitionCols.forall(keys.contains)) None
    else {
      val vals = batch.select(partitionCols.map(col): _*).distinct().collect()
      if (vals.isEmpty) Some(lit(false))
      else Some(vals.toSeq.map(r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          col(c) <=> lit(r.get(i)) }.reduce(_ && _)).reduce(_ || _))
    }

  /** The reference's weekly OPTIMIZE schedule (features_pipeline.py:
    * 128-138): compaction runs only on Sundays, riding along the normal
    * incremental cycle instead of a separate maintenance DAG. Returns
    * whether it ran. Plain-layout tables only ([[compact]] refuses a
    * bucketed one); the DAGs' bucketed tables take their `weeklyMaintain`. */
  def weeklyCompact(spark: SparkSession, path: String, partitionCols: Seq[String],
      today: java.time.LocalDate): Boolean =
    if (today.getDayOfWeek == java.time.DayOfWeek.SUNDAY) {
      compact(spark, path, partitionCols); true
    } else false

  /** S11: bin-pack compaction — rewrite a table (or a partition subset) into
    * ~`targetFileMB`-sized files. The reference runs Iceberg OPTIMIZE weekly;
    * on plain parquet this is a repartition-and-rewrite sized from the actual
    * on-disk bytes, so it scales with the data rather than a fixed N.
    */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
      targetFileMB: Int = 256): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return
    // a bucketed layout would be silently DESTROYED by a plain rewrite:
    // bucket ids live in the file names, so the catalog entry would point
    // at files the bucketed reader rejects. Refuse loudly; the bucketed
    // table's compaction is [[compactBucketed]].
    require(!looksBucketed(dataFiles(fs, hp)),
      s"$path holds a bucketed layout - use compactBucketed (a plain " +
        "rewrite drops the bucket-id file names the catalog relies on)")
    val bytes = fs.getContentSummary(hp).getLength
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    // size-derived task count, hash-clustered on the partition columns so
    // each task holds whole hive partitions. Written directly — routing
    // through ctas would re-repartition by the partition columns alone and
    // discard the nFiles sizing (file count would then track
    // shuffle.partitions, not on-disk bytes).
    val df0 = read(spark, path)
    val df = if (partitionCols.nonEmpty)
      df0.repartition(nFiles, partitionCols.map(col): _*)
    else df0.repartition(nFiles)
    val staging = path.stripSuffix("/") + ".compact"
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(staging)
    fs.delete(hp, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), hp)
  }

  // ------------------------------------------------------------------ Z-ORDER
  // Multi-dimensional clustering + zone-map pruning: the Delta/Iceberg
  // OPTIMIZE ZORDER BY idiom on plain parquet. Hive partitioning and
  // bucketing each cluster ONE key; a 2-d predicate (wallet x time,
  // user x amount) over a table laid out by either still scans every
  // file for the second dimension. Interleaving the bits of both
  // dimensions into a Morton code and range-partitioning on it makes
  // every output file a small RECTANGLE of the (x, y) domain, so each
  // file's parquet footer min/max on BOTH columns is tight and a 2-d
  // range predicate can skip most files from metadata alone.

  /** Morton interleave of k `bits`-bit bin columns (codegen'd bit ops —
    * no UDF): bit i of dimension d lands at position i*k + d, so the 2-d
    * case reproduces the classic (x at 2i, y at 2i+1) code exactly. */
  private def mortonK(bins: Seq[Column], bits: Int): Column =
    (for { i <- 0 until bits; d <- bins.indices } yield
      shiftleft(shiftright(bins(d), i).bitwiseAND(lit(1L)), i * bins.size + d))
      .reduce(_ bitwiseOR _)

  /** Bits per dimension for a k-d Morton code: 10 bits (1024 bins) while
    * the interleave fits a signed 64-bit long, fewer beyond 6 dims.
    * Resolution loss at high k is inherent to z-ordering (each extra
    * dimension dilutes per-dimension locality) — the read path stays
    * correct at ANY resolution because pruning consults footer stats. */
  private def zBits(k: Int): Int = math.min(10, 63 / k)

  /** Equi-DEPTH bin of a numeric column: rank of x among the
    * approxQuantile cut points, computed as a codegen'd fold over a
    * literal array (O(bins) comparisons per row — noise next to the
    * write's I/O; no UDF, no join). Equi-depth is what makes the Morton
    * rectangles carry equal ROW counts per bin, so a heavily skewed
    * dimension (amounts, balances — the common case) still yields tight
    * per-file min/max instead of one outlier blowing every box to the
    * full domain. An equi-width fallback covers the no-spread case, and
    * the read path is correct under ANY binning (pruning consults the
    * files' OWN footer stats, never the binning). */
  private def binEquiDepth(c: String, cuts: Array[Double], maxBin: Long): Column =
    if (cuts.isEmpty) lit(0L)
    else {
      val arr = typedlit(cuts)
      least(lit(maxBin),
        aggregate(arr, lit(0L), (acc, b) =>
          acc + when(col(c).cast("double") >= b, lit(1L)).otherwise(lit(0L))))
    }

  /** k-dimensional z-order clustered write: equi-depth-bin every
    * dimension (cut points from ONE approxQuantile sketch pass over all k
    * columns — the same machinery a cluster-scale OPTIMIZE job would use;
    * duplicate quantiles collapse to one cut, costing bin resolution only
    * where the data has no spread), range-partition on the Morton code
    * (one shuffle — the range partitioner's sample pass is the same cost
    * structure as any sort-based write), sort within partitions so row
    * groups inside a file are hyper-rectangles too, and write plain
    * parquet. Delta/Iceberg's OPTIMIZE ZORDER BY (c1, ..., ck) on plain
    * files. */
  def writeZOrderedK(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int = 32): Unit = {
    require(cols.size >= 2, s"z-order needs >= 2 dimensions (got $cols); " +
      "one dimension is a plain sort")
    val bits = zBits(cols.size)
    val nBins = 1L << bits
    val prepped = cols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zd_$c", col(c).cast("double")))
    val probs = (1L until nBins).map(_ / nBins.toDouble).toArray
    val cuts = prepped.stat.approxQuantile(
      cols.map(c => s"__zd_$c").toArray, probs, 0.001)
    val z = mortonK(
      cols.zipWithIndex.map { case (c, i) =>
        binEquiDepth(s"__zd_$c", cuts(i).distinct.sorted, nBins - 1) },
      bits)
    cols.foldLeft(
        prepped.withColumn("__z", z)
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z"))((d, c) => d.drop(s"__zd_$c"))
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(path)
  }

  /** 2-d z-order write — the common (wallet x time / user x amount)
    * shape, delegating to the k-d core. */
  def writeZOrdered(df: DataFrame, path: String, cx: String, cy: String,
      numFiles: Int = 32): Unit =
    writeZOrderedK(df, path, Seq(cx, cy), numFiles)

  /** Per-file [min, max] zone maps for k columns, read from parquet
    * FOOTERS only — KB-scale metadata I/O, zero data pages. A file whose
    * stats are absent for a column maps to (-inf, +inf) on that column:
    * never pruned, so correctness cannot depend on stats quality. At
    * 100 TB the same numbers come from the table format's manifests
    * (Delta add-file stats, Iceberg datafile bounds) instead of per-file
    * footer reads — this is the manifest-free expression of the same
    * design.
    */
  def zoneMapK(spark: SparkSession, path: String, cols: Seq[String])
      : Seq[(String, Seq[(Double, Double)])] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hp.getFileSystem(conf)
    val files = fs.listStatus(hp).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        def range(name: String): (Double, Double) = {
          val chunks = reader.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == name)
          // plain ints/floats ONLY: an INT32/INT64 with a logical type
          // stores a DIFFERENT UNIT than the read-side value (decimal
          // unscaled, timestamp micros, date days) — a zone map in the
          // wrong unit prunes files that contain matching rows. Such
          // columns get the no-prune hull instead.
          def plainNumeric(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val t = cc.getPrimitiveType
            val logical = t.getLogicalTypeAnnotation
            t.getPrimitiveTypeName match {
              case DOUBLE | FLOAT => true
              case INT32 | INT64 => logical == null ||
                logical.isInstanceOf[
                  org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation]
              case _ => false
            }
          }
          val stats = chunks.map(cc =>
            if (plainNumeric(cc)) cc.getStatistics else null)
          def num(v: Any): Option[Double] = v match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None // non-numeric stats: refuse to prune this file
          }
          val mins = stats.map(s => Option(s).filter(_.hasNonNullValue)
            .flatMap(x => num(x.genericGetMin(): Any)))
          val maxs = stats.map(s => Option(s).filter(_.hasNonNullValue)
            .flatMap(x => num(x.genericGetMax(): Any)))
          if (stats.isEmpty || mins.exists(_.isEmpty) || maxs.exists(_.isEmpty))
            (Double.NegativeInfinity, Double.PositiveInfinity)
          else (mins.flatten.min, maxs.flatten.max)
        }
        (f.getPath.toString, cols.map(range))
      } finally reader.close()
    }
  }

  /** 2-d zone map — delegates to the k-d core. */
  def zoneMap(spark: SparkSession, path: String, cx: String, cy: String)
      : Seq[(String, (Double, Double), (Double, Double))] =
    zoneMapK(spark, path, Seq(cx, cy)).map { case (f, Seq(rx, ry)) => (f, rx, ry) }

  /** S11, Z-order flavor: OPTIMIZE ZORDER BY — rewrite a table clustered
    * on the Morton code of two dimensions, file count sized from the
    * actual on-disk bytes like [[compact]]. Run on the weekly maintenance
    * cadence for tables whose read pattern is 2-d range predicates (the
    * wallet x time / user x amount shape); afterwards [[readZPruned]]
    * box reads skip most files from footer metadata alone. Same staged
    * swap and same bucketed-layout refusal as [[compact]] (z-ordering
    * writes plain file names, which would orphan a bucketed catalog
    * entry). */
  def compactZOrderedK(spark: SparkSession, path: String, cols: Seq[String],
      targetFileMB: Int = 256): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return
    require(!looksBucketed(dataFiles(fs, hp)),
      s"$path holds a bucketed layout - z-order compaction would drop the " +
        "bucket-id file names the catalog relies on")
    val bytes = fs.getContentSummary(hp).getLength
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val staging = path.stripSuffix("/") + ".compact"
    writeZOrderedK(read(spark, path), staging, cols, nFiles)
    fs.delete(hp, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), hp)
  }

  /** 2-d OPTIMIZE ZORDER — delegates to the k-d core. */
  def compactZOrdered(spark: SparkSession, path: String, cx: String, cy: String,
      targetFileMB: Int = 256): Unit =
    compactZOrderedK(spark, path, Seq(cx, cy), targetFileMB)

  // ---------------------------------------------------------------- EVOLUTION
  /** Schema-evolved append: new columns may appear over a table's life
    * (the reference's stage tables gained columns across exporter
    * versions); old files simply lack them and read as NULL through
    * [[readEvolved]]'s mergeSchema. What is REFUSED is a type change on
    * a column both sides share — parquet would happily write it and
    * every subsequent merged read would throw (or worse, coerce), far
    * from the write that caused it. Fail here, at the boundary. */
  def appendEvolved(df: DataFrame, path: String): Unit = {
    if (tableExists(df.sparkSession, path)) {
      val existing = df.sparkSession.read.parquet(path).schema
      val incoming = df.schema
      val conflicts = incoming.flatMap { f =>
        existing.find(_.name == f.name).collect {
          case e if e.dataType != f.dataType =>
            s"${f.name}: table=${e.dataType.simpleString} incoming=${f.dataType.simpleString}"
        }
      }
      require(conflicts.isEmpty,
        s"schema evolution refuses type changes on shared columns - ${conflicts.mkString("; ")}")
    }
    df.write.mode(SaveMode.Append).option("compression", "snappy").parquet(path)
  }

  /** Union-of-schemas read over an evolved table: columns absent from a
    * file read as NULL for its rows. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  // --------------------------------------------------------------- SNAPSHOTS
  // Versioned snapshots — time travel on plain parquet, the Delta/Iceberg
  // snapshot idiom without a table format. Every write lands in a fresh
  // `v=N` directory and COMMITS by updating the `_latest` pointer last,
  // so readers never observe a half-written version: an uncommitted
  // (crashed) write is just a directory the pointer never reached, and
  // recovery needs no log replay — the newest _SUCCESS-complete version
  // wins. Old versions stay readable until [[vacuumSnapshots]] reclaims
  // them (reproducibility: a training run pins the snapshot version it
  // read, exactly the reference's features_db export discipline).

  private val LatestMarker = "_latest"

  private def successfulVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted

  /** The committed version: the `_latest` pointer when present, else the
    * newest complete version (pointer-write crash recovery). */
  def latestSnapshotVersion(spark: SparkSession, dir: String): Option[Long] = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fromMarker =
      try {
        val p = new org.apache.hadoop.fs.Path(hp, LatestMarker)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
          Some(txt.toLong).filter(v =>
            fs.exists(new org.apache.hadoop.fs.Path(hp, s"v=$v/_SUCCESS")))
        }
      } catch { case _: Exception => None }
    fromMarker.orElse(successfulVersions(fs, hp).lastOption)
  }

  /** Write the next snapshot version and commit it. Returns the version.
    * Non-atomicity window: the delete+rename of the pointer file — a
    * reader racing it falls back to newest-complete, which IS this
    * version once its _SUCCESS exists, so the window only ever shows the
    * old or the new committed state. */
  def writeSnapshot(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = successfulVersions(fs, hp).lastOption.getOrElse(0L) + 1
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy")
      .parquet(s"$dir/v=$next")
    val tmp = new org.apache.hadoop.fs.Path(hp, LatestMarker + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(hp, LatestMarker)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
    next
  }

  def readSnapshot(spark: SparkSession, dir: String, version: Long): DataFrame =
    spark.read.parquet(s"$dir/v=$version")

  def readLatestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val v = latestSnapshotVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir"))
    readSnapshot(spark, dir, v)
  }

  /** Reclaim all but the newest `keep` committed versions (never the one
    * the pointer references). Returns the versions deleted. */
  def vacuumSnapshots(spark: SparkSession, dir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "keep at least the committed version")
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = successfulVersions(fs, hp)
    val pinned = latestSnapshotVersion(spark, dir)
    val doomed = versions.dropRight(keep).filterNot(pinned.contains)
    doomed.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(hp, s"v=$v"), true))
    doomed
  }

  /** Zone-map pruned k-d box read: keep only the files whose per-column
    * [min, max] boxes intersect the predicate box on EVERY dimension, then
    * apply the exact predicate as a residual filter (pruning is a
    * file-list optimization, never a semantic one — the result is
    * identical to a full scan with the same filter, which is what
    * ZOrderSpec and the z3_pruned_scan oracle pin). `box` is
    * (column, lo, hi) per pruned dimension. */
  def readZPrunedK(spark: SparkSession, path: String,
      box: Seq[(String, Double, Double)]): DataFrame = {
    require(box.nonEmpty, "at least one pruning dimension")
    val kept = zoneMapK(spark, path, box.map(_._1)).collect {
      case (file, ranges)
          if ranges.zip(box).forall { case ((mn, mx), (_, lo, hi)) =>
            mx >= lo && mn <= hi } => file
    }
    if (kept.isEmpty)
      // preserve the schema without reading data: full listing, impossible filter
      read(spark, path).filter(lit(false))
    else {
      // pin the schema from the directory so a subset read can't drop
      // columns that happen to be all-null in the kept files
      val schema = spark.read.parquet(path).schema
      // residual typing shared with ManifestSnapshots.readWhere
      // (ZoneResidual): typed bound literals keep parquet pushdown,
      // saturating conversions are refused
      val types = schema.map(f => f.name -> f.dataType).toMap
      val residual = ZoneResidual.numeric(types, box).reduce(_ && _)
      spark.read.schema(schema).parquet(kept: _*).filter(residual)
    }
  }

  /** 2-d pruned read — delegates to the k-d core. */
  def readZPruned(spark: SparkSession, path: String,
      cx: String, xlo: Double, xhi: Double,
      cy: String, ylo: Double, yhi: Double): DataFrame =
    readZPrunedK(spark, path, Seq((cx, xlo, xhi), (cy, ylo, yhi)))
}
