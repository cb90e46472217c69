package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipeline-embedded data-quality gate (SURVEY.md §5) —
  * the checks that run as the Airflow DAG's final task and fail the run:
  *
  *  - missing ids in a dense sequence (missing-blocks check,
  *    raw_data_ingestion_pipeline.py:715-756): generate the expected id
  *    range with `sequence`, anti-join against what arrived;
  *  - per-group completeness vs a declared count (missing-transactions
  *    check, :758-831);
  *  - feature-table constraints (data_quality_ethereum_wallet_features
  *    .sql:1-32): no negative counters, and the share of degenerate rows
  *    below a threshold.
  *
  * Each check returns a DataFrame of violations (empty = pass) so the
  * caller composes them with `union` exactly as the reference stacks its
  * constraint rows; [[gate]] throws on any violation, which is the DAG
  * semantics (alert + fail the run).
  */
object DataQuality {

  /** Missing-id check: ids expected in [lo, hi] but absent from `df.idCol`.
    * The expected side is `sequence`-generated and exploded — no driver
    * loop — and the probe is a broadcast-able anti-join. */
  def missingIds(spark: SparkSession, df: DataFrame, idCol: String,
      lo: Long, hi: Long): DataFrame = {
    // spark.range distributes the expected side across tasks; a sequence()
    // array would build the whole range in one row (2.1B element cap and a
    // single-task allocation — exactly what this check must not do at
    // block-range scale).
    val expected = spark.range(lo, hi + 1).select(col("id").as("expected_id"))
    expected.join(df.select(col(idCol).as("expected_id")).distinct(),
      Seq("expected_id"), "left_anti")
  }

  /** Per-group completeness: groups whose actual row count disagrees with
    * the declared count column (one declared value per group). */
  def incompleteGroups(df: DataFrame, groupCol: String, declaredCountCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("actual"), max(col(declaredCountCol)).as("declared"))
      .filter(col("actual") =!= col("declared"))

  /** Feature constraints: negative counters are corruption; a too-large
    * share of all-zero rows signals an upstream drop. Returns one row per
    * violated constraint (the reference's stacked-UNION shape). */
  def featureConstraints(features: DataFrame,
      counterCols: Seq[String],
      zeroCol: String,
      maxZeroRatio: Double): DataFrame = {
    val negatives = counterCols.map { c =>
      features.filter(col(c) < 0)
        .agg(count(lit(1)).as("n_bad"))
        .select(lit(s"negative_$c").as("constraint"), col("n_bad"))
        .filter(col("n_bad") > 0)
    }
    val zeroShare = features
      .agg((count(when(col(zeroCol) === 0, lit(1))) / count(lit(1))).as("ratio"))
      .select(lit(s"zero_ratio_$zeroCol").as("constraint"),
        (col("ratio") * 0).cast("long").as("n_bad"), col("ratio"))
      .filter(col("ratio") > maxZeroRatio)
      .drop("ratio")
    negatives.foldLeft(zeroShare)(_ unionByName _)
  }

  /** data_quality_ethereum_wallet_features.sql:1-32 — the reference's
    * three stacked constraint rows over the wallet-features table:
    * negative outgoing/incoming counters, and more than 20% of wallets
    * with wallet_min_eth_ever = 0. Always returns exactly three rows
    * (constraint_name, is_fail) — the reference's UNION ALL shape; feed
    * `.filter(col("is_fail"))` to [[gate]]. */
  def walletFeatureConstraints(features: DataFrame): DataFrame = {
    // ONE aggregate pass computes all three counters (the reference's
    // three CTEs each scan the table; at production scale one scan is the
    // same answer for a third of the I/O), then the counters unpivot into
    // the reference's stacked (constraint_name, is_fail) rows.
    val counters = features.agg(
      count(when(col("wallet_total_outgoing_tx") < 0, lit(1))).as("n_out_neg"),
      count(when(col("wallet_total_incoming_tx") < 0, lit(1))).as("n_in_neg"),
      count(when(col("wallet_min_eth_ever") === 0, lit(1))).as("n_zero_min"),
      count(lit(1)).as("n_rows"))
    counters.select(explode(array(
      struct(lit("outgoing_tx_negative_counts_check").as("constraint_name"),
        (col("n_out_neg") > 0).as("is_fail")),
      struct(lit("incoming_tx_negative_counts_check").as("constraint_name"),
        (col("n_in_neg") > 0).as("is_fail")),
      struct(lit("zero_min_eth_ever_for_20%_addresses_check").as("constraint_name"),
        (col("n_zero_min").cast("double") / col("n_rows") * 100 > 20).as("is_fail"))))
      .as("c"))
      .select(col("c.constraint_name"), col("c.is_fail"))
  }

  /** Referential-integrity audit: child-side foreign-key values with no
    * parent row — the orphan check (the dq_orphans query shape) promoted
    * into the PIPELINE gate, the way the reference runs its DQ as the
    * DAG's final task. Returns the stacked violation shape (one row when
    * the fk has orphans, empty = pass) so it composes into [[gate]] with
    * the other checks. Scale: the child side projects to the key column
    * before probing (the scan carries one column), the parent side is
    * key-distinct (map-side combinable), and the anti-join shuffles on
    * the key like any big-big equi join — broadcast when the parent key
    * set fits. NULL child keys are not orphans (the star's optional
    * relationships); missingIds covers required-dense identities. */
  def orphanedKeys(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, fkName: String): DataFrame =
    child.select(col(childKey).as("fk")).filter(col("fk").isNotNull)
      .join(parent.select(col(parentKey).as("fk")).distinct(),
        Seq("fk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(s"orphaned_$fkName").as("constraint"), col("n_orphans"))
      .filter(col("n_orphans") > 0)

  /** 10-bucket value histogram of a column — the dq_drift_tvd bucketing
    * (min(floor(x / width), buckets − 1), clamped at 0): one map-side-
    * combinable rollup, result bounded at `buckets` rows. */
  def valueHistogram(df: DataFrame, valueCol: String,
      width: Double = 20.0, buckets: Int = 10): Map[Long, Long] =
    df.groupBy(greatest(lit(0L),
        least(floor(col(valueCol) / width).cast("long"), lit(buckets - 1L)))
        .as("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Exact total-variation distance between two histograms — the
    * dq_drift_tvd math: integer cross products |r_b·t_cur − c_b·t_ref|
    * over a common denominator with ONE double division at the end
    * (never a divergence needing libm ln). Empty-vs-anything is 1.0 by
    * convention (maximal drift — a feed that went silent must trip the
    * gate, not pass it vacuously). */
  def tvd(ref: Map[Long, Long], cur: Map[Long, Long]): Double = {
    val tRef = ref.values.sum
    val tCur = cur.values.sum
    if (tRef == 0L || tCur == 0L) return 1.0
    val num = (ref.keySet ++ cur.keySet).toSeq.map { b =>
      math.abs(ref.getOrElse(b, 0L) * tCur - cur.getOrElse(b, 0L) * tRef)
    }.sum
    num.toDouble / (2.0 * tRef.toDouble * tCur.toDouble)
  }

  /** Population Stability Index between two histograms — the dq_psi /
    * driftPsi arithmetic, available to the gate layer now that the
    * pinned ln exists (this module's tvd doc used to rule divergences
    * out): add-one smoothing over the FIXED bucket universe, exact
    * BigInt cross products over [[graft.functions.PinnedLog.lnNanos]],
    * the identical two-IEEE-division tail — so a gate's PSI for a
    * window equals the dq_psi query / streaming twin bit for bit on the
    * same counts. Empty-vs-anything is +∞ by the tvd convention (a
    * silent feed trips the gate, never passes it vacuously). */
  def psi(ref: Map[Long, Long], cur: Map[Long, Long],
      buckets: Int = 10): Double = {
    if (ref.values.sum == 0L || cur.values.sum == 0L)
      return Double.PositiveInfinity
    import graft.functions.PinnedLog.lnNanos
    val refS = (0 until buckets).map(b => ref.getOrElse(b.toLong, 0L) + 1L)
    val curS = (0 until buckets).map(b => cur.getOrElse(b.toLong, 0L) + 1L)
    val tRef = refS.sum
    val tCur = curS.sum
    val lnT = lnNanos(tRef, 1L) - lnNanos(tCur, 1L)
    val num = (0 until buckets).iterator.map { b =>
      (BigInt(curS(b)) * tRef - BigInt(refS(b)) * tCur) *
        (lnNanos(curS(b), 1L) - lnNanos(refS(b), 1L) + lnT)
    }.sum
    // Denominator as ONE rounding of the exact product (the batch oracle's
    // CAST(t_ref*t_cur AS DOUBLE) tail) — tRef.toDouble * tCur.toDouble is
    // two roundings and can differ by an ulp once the product passes 2^53.
    num.doubleValue / (BigInt(tRef) * BigInt(tCur)).doubleValue / 1e9
  }

  /** Persisted drift gate — the pipeline-lifecycle wiring of the TVD
    * monitor (the way the reference embeds its DQ checks in the DAG run
    * rather than leaving them to an operator): compare this run's
    * histogram of `valueCol` against the REFERENCE stored under
    * `<root>/_dq/hist-<name>`, throw when TVD exceeds `maxTvd` (or, when
    * `maxPsi` is set, when the smoothed PSI exceeds it — the
    * industry-standard threshold language, 0.1 watch / 0.25 act), and
    * only AFTER passing advance the reference to the current histogram —
    * a failing run keeps the reference that exposed it, so re-runs keep
    * failing until someone looks. First run seeds the reference and
    * returns None (nothing to compare against); later runs return the
    * measured (tvd, psi). The stored artifact is a bucket-count text
    * marker (tmp+rename, crash-safe like every other marker). */
  def driftGate(spark: SparkSession, df: DataFrame, valueCol: String,
      root: String, name: String, maxTvd: Double,
      width: Double = 20.0,
      maxPsi: Option[Double] = None): Option[(Double, Double)] = {
    import org.apache.hadoop.fs.Path
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe drift-gate name '$name'")
    val cur = valueHistogram(df, valueCol, width)
    val path = new Path(s"${root.stripSuffix("/")}/_dq/hist-$name")
    val stored = graft.core.Markers.read(spark, path).map(
      _.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(b, n) = l.split('\t'); b.toLong -> n.toLong
      }.toMap)
    def persist(): Unit = graft.core.Markers.write(spark, path,
      cur.toSeq.sorted.map { case (b, n) => s"$b\t$n" }.mkString("\n") + "\n")
    stored match {
      case None =>
        persist(); None
      case Some(ref) =>
        val d = tvd(ref, cur)
        require(d <= maxTvd,
          f"data-quality drift gate '$name' failed: tvd=$d%.4f > $maxTvd " +
            "(reference kept — fix the feed or re-baseline by deleting " +
            s"$path)")
        val p = psi(ref, cur)
        maxPsi.foreach { mp =>
          require(p <= mp,
            f"data-quality drift gate '$name' failed: psi=$p%.4f > $mp " +
              "(reference kept — fix the feed or re-baseline by deleting " +
              s"$path)")
        }
        persist()
        Some((d, p))
    }
  }

  /** Mann–Kendall trend statistic over a value series — the
    * a45_mann_kendall arithmetic as a library call for the gate layer:
    * exact integer S (forward pair signs), exact tie-corrected variance
    * numerator n(n−1)(2n+5) − Σt(t−1)(2t+5), continuity-corrected z in
    * three IEEE steps. Intended for the BOUNDED series a gate watches
    * (daily rollups — a few thousand points), where the O(d²) pair loop
    * is trivial; returns (s, var18, z). */
  def mannKendall(series: Seq[Long]): (Long, Long, Double) = {
    val n = series.length.toLong
    var s = 0L
    for (i <- series.indices; j <- (i + 1) until series.length)
      s += java.lang.Long.signum(series(j) - series(i)).toLong
    val tieTerm = series.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
    val var18 = n * (n - 1) * (2 * n + 5) - tieTerm
    val z =
      if (var18 <= 0) 0.0
      else if (s > 0) (s - 1).toDouble / math.sqrt(var18.toDouble / 18)
      else if (s < 0) (s + 1).toDouble / math.sqrt(var18.toDouble / 18)
      else 0.0
    (s, var18, z)
  }

  /** Persisted trend gate — [[driftGate]]'s sibling for SECULAR drift
    * that per-window divergences never see (a metric can pass every
    * windowed PSI check while ratcheting monotonically; the Mann–Kendall
    * z on the accumulated daily series catches exactly that). Each run
    * appends the day's observation to the `<root>/_dq/trend-<name>`
    * marker (bounded: the series keeps the most recent `maxDays`),
    * then fails the run when |z| exceeds `maxAbsZ` over at least
    * `minDays` observations. A failing run KEEPS the series that
    * exposed it — the driftGate contract. Returns the measured z once
    * the series is long enough. */
  def trendGate(spark: SparkSession, day: Long, value: Long,
      root: String, name: String, maxAbsZ: Double,
      minDays: Int = 14, maxDays: Int = 3650): Option[Double] = {
    import org.apache.hadoop.fs.Path
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe trend-gate name '$name'")
    val path = new Path(s"${root.stripSuffix("/")}/_dq/trend-$name")
    val stored: Seq[(Long, Long)] = graft.core.Markers.read(spark, path)
      .map(_.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(d, v) = l.split('\t'); d.toLong -> v.toLong
      }.toSeq).getOrElse(Nil)
    // re-running the same day REPLACES its observation (idempotent DAG
    // retries must not duplicate a point and shift the statistic)
    val series = (stored.filterNot(_._1 == day) :+ (day -> value))
      .sortBy(_._1).takeRight(maxDays)
    val zOpt =
      if (series.length < minDays) None
      else Some(mannKendall(series.map(_._2))._3)
    zOpt.foreach { z =>
      require(math.abs(z) <= maxAbsZ,
        f"data-quality trend gate '$name' failed: |z|=${math.abs(z)}%.3f > " +
          f"$maxAbsZ%.3f over ${series.length} days (series kept — fix the " +
          s"feed or re-baseline by deleting $path)")
    }
    graft.core.Markers.write(spark, path,
      series.map { case (d, v) => s"$d\t$v" }.mkString("\n") + "\n")
    zOpt
  }

  /** Run checks, all at once ([[graft.core.Lakehouse.concurrently]]); throw
    * (failing the pipeline run, as the DAG does) if any violations surface,
    * naming every failed check in order. */
  def gate(checks: Seq[(String, DataFrame)]): Unit = {
    val failed = new Array[Boolean](checks.size)
    graft.core.Lakehouse.concurrently(checks.zipWithIndex.map { case ((_, df), i) =>
      () => failed(i) = df.limit(1).count() > 0
    })
    val bad = checks.zip(failed).collect { case ((name, _), true) => name }
    require(bad.isEmpty, s"data-quality gate failed: ${bad.mkString(", ")}")
  }
}
