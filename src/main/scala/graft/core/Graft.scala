package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session + table-loading helpers shared by every entry point.
  *
  * The engine targets a multi-executor cluster; locally it runs `local[N]`.
  * Scale-relevant defaults (AQE, shuffle partitions sized to cores, UTC) are
  * set here, in the only session builder, so every query sees the same
  * physical-planning environment.
  */
object Graft {

  /** Scale-portable settings (PORTABILITY, r19) — ship these to a
    * cluster as-is; only [[localSizing]] is local. Judgment call —
    * adaptive.coalescePartitions=false: at this SF coalescing packs
    * explode-amplifying stages onto 1-2 cores (comment below); at real
    * scale those shuffles exceed the advisory size and coalescing is a
    * no-op, but a cluster port handling MIXED sizes should re-enable it
    * and re-measure the explode paths.
    */
  val portableConf: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // Coalescing optimizes for shuffle BYTES and cannot see compute
    // amplification past the exchange: a 400x explode or a multi-M-group
    // aggregate downstream of a few-MB shuffle gets packed onto 1-2
    // cores (g_butterfly: 6.4s coalesced vs 2.6s not). At 100 TB every
    // such shuffle exceeds the target size and coalescing is a no-op,
    // so disabling it locally only removes a small-scale artifact.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // AQE SMJ->SHJ conversion by RUNTIME size (guide §3.1): the static
    // preferSortMergeJoin=false below only fires when Catalyst's
    // ESTIMATES satisfy the size conditions, and cached-relation
    // estimates are array-inflated (a cached |V|-row adjacency prints
    // as TiB), so the heavy iterative queries still planned sort-merge.
    // With this threshold AQE re-plans those joins from the MEASURED
    // per-partition map output instead — the scale-adaptive guard: a
    // partition over 128 MB keeps its sort legs. Local slots hold 24g/32
    // = 750 MB, a cluster sizes executor memory per core above it (or
    // lowers the threshold). r19 A/B, both run orders: g_modularity
    // 3.0->2.5 s, flagship_contract_map 2.9->1.7/1.9 s, g_bfs/g_lpa/
    // g_basket_lift ~1.1-1.2x, g_jaccard/d_source_overlap flat.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "134217728",
    "spark.sql.session.timeZone" -> "UTC",
    // collect_set/collect_list/map-agg run as ObjectHashAggregate; the
    // default sort-based fallback kicks in at 128 in-memory groups,
    // turning every wide-key collect into a per-task sort of the whole
    // input. Lift it to 128k groups (bounded: buffers are the collected
    // sets themselves, which these queries bound by construction).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read as long nanos and convert explicitly (the
    // DuckDB oracle truncates the same column to micros — parity is at
    // microsecond resolution via `ts div 1000`).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // 256-bucket hive partitions are 2-hex-char strings ("07", "0a"):
    // without this, an all-digit sample infers IntegerType and rewrites
    // partition values ("07" -> 7), breaking partition-dir stability.
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    // Subset co-partitioning for joins: the features/serving tables are
    // bucketed on the wallet key alone while their MERGEs join on
    // (wallet, contract) — with this ON (the default) such a join
    // re-shuffles BOTH wallet-bucketed sides on the full key set. The
    // skew caveat the default guards against is handled the reference's
    // way (whale-wallet exclusion) + AQE skew-join on the plain paths.
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // Let the planner pick shuffled-hash join where its size conditions
    // hold (the optimization guide's baseline, §3.1): one hash build
    // instead of two sort legs for the |V|-row superstep states and
    // rollup relations. r18 A/B on the 16 heaviest bench queries:
    // 39.5 s -> 35.3 s. Sort-merge still plans where a build side
    // might not fit its partition's memory.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false")

  /** Local-only sizing — REVISIT on a cluster: master local[N] (cluster:
    * spark-submit), shuffle.partitions = cores (cluster: size for
    * 100 MB-1 GB post-shuffle partitions, guide §2.2, and let AQE
    * coalesce) and the leaf-file listing's parallelism = cores (cluster:
    * the executor slot count). Spark lists a table with more than
    * `parallelPartitionDiscovery.threshold` (32) directories in a job of
    * one task per directory, capped by that parallelism (default 10,000),
    * so a 256-directory key-directed table cost a 256-task job per
    * write, registration and catalog read; capped at the slots it runs
    * one wave and stays distributed at any scale. The
    * 24g/-XX:+UseParallelGC JVM in build.sbt is local too (cluster:
    * spark.executor.memory / GC per executor). */
  def localSizing(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.sources.parallelPartitionDiscovery.parallelism" -> cpus.toString)

  /** The one session builder: every entry point, tool and test session
    * comes from here, so the verified, benched and spec-pinned plans are
    * planned under the same [[portableConf]] by construction. `overrides`
    * is for what a caller genuinely owns — a test's temp warehouse, the
    * persistent catalog's metastore, an A/B variant from
    * [[confFromEnv]] — and wins over the defaults key by key.
    */
  def session(cpus: Int = Runtime.getRuntime.availableProcessors(),
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder().appName("graft")
      .withExtensions(new graft.plans.GraftExtensions())
      .config((localSizing(cpus) ++ portableConf ++ overrides).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CONF` (semicolon-separated `k=v` pairs): an alternative
    * planning environment for an A/B, read only by the Explain and Probe
    * tools — Bench and Verify always run the plain [[session]]. */
  def confFromEnv: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        }
      }.toMap

  /** The driver-provided synthetic tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one synthetic table from an sf directory. Plain parquet scan —
    * column pruning + predicate pushdown happen in the consumer's plan —
    * plus width canonicalization for the id columns the engine reads back
    * as driver scalars (see [[canonicalize]]).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    canonicalize(spark.read.parquet(s"$sfDir/$name.parquet"), name)

  /** Id columns the engine consumes as 64-bit driver scalars (watermark
    * fetches like `agg(max("doc_id")).head.getLong(0)`) or as join keys
    * whose arithmetic assumes BIGINT. The fixture has drifted encodings
    * before (events.ts, round 7); if a regeneration narrows these to
    * int32, every getLong would throw mid-query. */
  private val canonicalLongCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id", "n_chars"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** Widen drifted integral id columns back to LongType. A no-op (no added
    * projection, the plan stays the bare scan) while the stored type
    * already IS int64 — the adaptive-loader discipline `events.ts`
    * established, applied to the id columns. Element-type drift on
    * `embeddings.embedding` (float32 vs float64) needs no loader help:
    * every consumer quantizes through an explicit `cast(x as double)`
    * (EmbeddingParity.quantExpr). */
  private def canonicalize(df: DataFrame, name: String): DataFrame =
    canonicalLongCols.get(name) match {
      case Some(cols) =>
        val drifted = cols.filter(c =>
          df.schema.fieldNames.contains(c) &&
            df.schema(c).dataType != LongType &&
            Seq[DataType](IntegerType, ShortType, ByteType).contains(df.schema(c).dataType))
        drifted.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(LongType)))
      case None => df
    }

  /** `events` with the canonical microsecond-epoch column `ts_us` appended.
    *
    * The fixture's `ts` encoding is NOT stable across regenerations — it has
    * shipped both as parquet TIMESTAMP(NANOS) (read as a nanosecond long via
    * `nanosAsLong`) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ). Every query keys its windows and watermarks on
    * microsecond epochs (the reference's event-order contract,
    * ethereum_wallet_features.sql:16-39), so the loader probes the stored
    * type and derives the same `ts_us` either way. The DuckDB oracle's
    * `epoch_us(ts)` is the fixed other half of this parity contract.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    withEpochUs(table(spark, sfDir, "events"), "ts", "ts_us", table = "events")

  /** Content-version fingerprint of a table directory for keying persisted
    * serving stores (AnnStore / DedupStore / TextIndexStore roots): md5
    * over the ORDERED (name, length, mtime) file tuples, metadata-only.
    * The previous scheme SUMMED length+mtime per file, which is additive —
    * two regenerations that swap sizes while preserving the sum collide,
    * and a collision silently serves a STALE index for the new data. A
    * hash of the ordered tuples cannot collide that way.
    */
  def dataFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
  }

  /** Table row count from parquet FOOTER metadata alone — the statistic
    * stride/width sizing needs WITHOUT a count job: no task launch, no
    * data pages read, one footer open per file on the driver (bounded by
    * file count — at 100 TB the same number lives in the table format's
    * manifests, e.g. [[ManifestSnapshots.rowCount]]). Works for a single
    * parquet file or a directory of part files. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
        .map(_.getPath)
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Append `asCol` = epoch-microseconds of `tsCol`, adapting to how the
    * writer stored it. Unknown types fail loudly with the table/column/type
    * named, so the NEXT regeneration break is diagnosable from the message
    * alone instead of a mid-plan DATATYPE_MISMATCH.
    */
  def withEpochUs(df: DataFrame, tsCol: String, asCol: String,
      table: String = "?"): DataFrame =
    df.withColumn(asCol, epochUs(df, tsCol, table))

  /** Epoch-microseconds column for `tsCol`, whatever its stored type. */
  def epochUs(df: DataFrame, tsCol: String, table: String = "?"): Column =
    df.schema(tsCol).dataType match {
      // legacy layout: TIMESTAMP(NANOS) surfaced as a nanosecond long
      case LongType => expr(s"$tsCol div 1000")
      // timestamp micros, UTC-adjusted: internal value IS epoch micros
      case _: TimestampType => unix_micros(col(tsCol))
      // timestamp micros, no zone: the session is pinned UTC (see session()),
      // so the NTZ→instant cast is an exact micros identity
      case _: TimestampNTZType => unix_micros(col(tsCol).cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"$table.$tsCol: unsupported stored type ${other.catalogString} — " +
        "expected INT64 (epoch nanos) or a parquet timestamp; the fixture " +
        "schema changed again and the adaptive loader needs a new case")
    }
}
