package graft.pipeline

import graft.core.{Lakehouse, ManifestSnapshots}
import graft.core.Lakehouse.BucketedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED pair/degree rollups behind the basket-graph family —
  * `g_bipartite_proj` / `g_basket_lift` / `g_degree_gini` pay
  * Ω(|pairs|) / Ω(|E|-dedup) per query BY DESIGN when recomputed from
  * the fact table; this store maintains their rollups as materialized
  * views so a serving query never touches `lineitem` at all:
  *
  *  - pairs    (part_a, part_b, n_ab)  — the basket co-occurrence
  *    projection. Pair counts are ADDITIVE across whole-order batches
  *    (a pair lives inside one order; the orderkey watermark guarantees
  *    an order is never split across batches), so maintenance is
  *    aggregate(Δ-orders' pair explode) ⊎ stored partials — the
  *    [[MaterializedView]] identity, base read = the delta only.
  *  - items    (l_partkey, n_item) and meta (n_orders, watermark) —
  *    the lift denominators, additive the same way.
  *  - edges    (src, dst) bucketed on src — the DISTINCT
  *    customer↔supplier edge set. Distinctness is NOT additive, so a
  *    batch's candidate edges anti-join the stored set (bucketed: the
  *    stored side is pre-shuffled, only batch rows move — the
  *    [[DedupStore]] probe discipline) and only genuinely new edges
  *    append + bump degrees.
  *  - degrees  (node, d) — maintained as stored ⊎ new-edge increments.
  *
  * Replay safety: every rollup commit carries the batch watermark in
  * its hive partition spec (`_wm=<maxOrderkey>`, the
  * [[MaterializedView]] `_base_version` convention), so a redelivered
  * or crash-resumed batch skips every table that already incorporated
  * it instead of double-merging; the edge append is idempotent via the
  * anti-join. Rollup state commits are full restatements of O(|view|)
  * rows through [[ManifestSnapshots]] (data → manifest → pointer, a
  * torn refresh leaves the previous state serving); the O(delta) claim
  * is about the BASE read, which is the delta frame itself.
  *
  * Ingest schema (the pre-joined order line relation):
  *   (l_orderkey, l_partkey, o_custkey, l_suppkey).
  */
object BasketStore extends ServingStore {

  override def storeName: String = "basket"
  override def ingestKey: String = "l_orderkey"

  /** Rule-2 override — the ingest entity (an order) SPANS rows, so the
    * trait's default dropDuplicates(ingestKey) would collapse every
    * basket to one arbitrary line inside the canonical lifecycle. This
    * store needs NO intra-batch dedup at all: every rollup it maintains
    * is distinct-based (collect_set pairs, DISTINCT items/orders/edges),
    * so duplicated rows — same-line redelivery inside one batch — cannot
    * change any count, and cross-batch replay is the watermark's job. */
  override protected def dedupBatch(batch: DataFrame): DataFrame = batch

  val Buckets = 32

  def edgesPath(root: String): String = s"$root/basket/edges"
  /** The candidate edge set, bucketed on src. */
  def edgesLayout(root: String): BucketedTable =
    BucketedTable.rooted("basket_edges_", root, edgesPath(root), "src", Buckets)
  def edgesTable(root: String): String = edgesLayout(root).name
  def pairsDir(root: String): String = s"$root/basket/pairs"
  def itemsDir(root: String): String = s"$root/basket/items"
  def degreesDir(root: String): String = s"$root/basket/degrees"
  def metaDir(root: String): String = s"$root/basket/meta"

  private val WmCol = "_wm"

  final case class AdmitStats(
      mode: String, // "admitted" | "empty" (a full redelivery melts to empty)
      batchOrders: Long,
      batchRows: Long,
      newEdges: Long,
      // rows at-or-below the stored watermark, dropped by the replay
      // guard. all-rows-skipped = a clean redelivery; a MIXED batch
      // (0 < skipped < raw) means the whole-orders contract was grazed —
      // an overlapping redelivery is safe, a split order is not, and the
      // caller is the one who knows which its source can produce
      skippedRows: Long = 0L)

  /** Max distinct parts per order before the pair explode is guarded
    * (`spark.graft.basket.orderCap`): a basket of K parts emits C(K,2)
    * pair structs inside ONE aggregation task, so a single mega-basket
    * (a 100k-line order — the hot-entity shape the reference blocklists
    * mega-wallets for) is an executor OOM at 100 TB, not just a slow
    * task. 4096 matches the graph family's hub cap (g_butterfly /
    * g_jaccard): C(4096,2) ≈ 8.4M structs ≈ 134 MB, the worst bounded
    * task. TPC-H baskets are ≤ 7 lines, so the guard is pure insurance
    * at fixture scale — results are bit-identical with it active. */
  val DefaultOrderCap = 4096L

  /** The canonical basket pair explode — one exchange gathers each
    * order's part set (partial collect_set combines map-side), the i<j
    * pairs explode from the sorted array WITHOUT a join. Shared by the
    * from-scratch queries and this store so stored maintenance is
    * provably the same arithmetic.
    *
    * Basket-size guard (the d_embedding_dup census discipline, FUSED):
    * the census d_embedding_dup pays a separate count rollup for is here
    * a row-level predicate on the already-gathered set — zero extra
    * passes, zero extra exchanges. Over-cap baskets under the default
    * `spark.graft.basket.blockMode=fail` kill the query loudly NAMING
    * the order and its size before one pair is emitted; `exclude` drops
    * them from the pair space instead (the reference's mega-wallet
    * blocklist rationale, ethereum_wallet_features.sql:381-390) — the
    * caller opts in knowing the projection then ignores those baskets. */
  def pairCounts(orderLines: DataFrame): DataFrame = {
    val conf = orderLines.sparkSession.conf
    val cap = conf.get("spark.graft.basket.orderCap",
      DefaultOrderCap.toString).toLong
    val mode = conf.get("spark.graft.basket.blockMode", "fail")
    val gathered = orderLines
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val guarded = mode match {
      case "exclude" => gathered.filter(size(col("ps")) <= cap)
      case _ => gathered.withColumn("ps",
        when(size(col("ps")) <= cap, col("ps")).otherwise(raise_error(concat(
          lit("basket pair explode: order "), col("l_orderkey"),
          lit(" has "), size(col("ps")),
          lit(s" distinct parts > spark.graft.basket.orderCap=$cap — " +
            "C(K,2) pairs in one task is the unguarded-quadratic shape; " +
            "set spark.graft.basket.blockMode=exclude to drop mega-baskets " +
            "(under-counts them) or raise the cap deliberately")))))
    }
    guarded
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS part_a, y AS part_b))))""".stripMargin))
        .as("pr"))
      .groupBy(col("pr.part_a").as("part_a"), col("pr.part_b").as("part_b"))
      .agg(count(lit(1)).cast("long").as("n_ab"))
  }

  /** Per-part distinct-order counts + the distinct-order total. */
  private def itemCounts(orderLines: DataFrame): DataFrame =
    orderLines.select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_partkey").agg(count(lit(1)).cast("long").as("n_item"))

  /** The graph family's node numbering: 2·cust even / 2·supp+1 odd. */
  private def candidateEdges(orderLines: DataFrame): DataFrame =
    orderLines.select((col("o_custkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")).distinct()

  private def storedWm(spark: SparkSession, dir: String): Option[Long] =
    ManifestSnapshots.latestVersion(spark, dir).flatMap { v =>
      ManifestSnapshots.entriesOf(spark, dir, v)
        .flatMap(_.partition).flatMap(_.split('/'))
        .find(_.startsWith(WmCol + "="))
        .map(_.stripPrefix(WmCol + "=").toLong)
    }

  /** Merge-and-restate one rollup table at watermark `wm`, skipping when
    * the stored state already incorporates it (replay/crash-resume). */
  private def mergeRollup(spark: SparkSession, dir: String, wm: Long,
      delta: => DataFrame, keys: Seq[String], measure: String): Unit = {
    if (storedWm(spark, dir).exists(_ >= wm)) return
    val prior = ManifestSnapshots.readLatest(spark, dir).drop(WmCol)
    val merged = prior.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(measure).cast("long").as(measure))
    ManifestSnapshots.writeFull(merged.withColumn(WmCol, lit(wm)), dir,
      partitionCols = Seq(WmCol)): Unit
  }

  override def ensureBuilt(spark: SparkSession, root: String,
      corpus: => DataFrame): Boolean = {
    val haveEdges = Lakehouse.ensureBucketedTable(spark, edgesLayout(root))
    // already-built gate keys on metaDir — the LAST-written table — so a
    // crash after the edges CTAS but before the degrees/meta writes falls
    // through here and rebuilds (every write below restates: writeFull is
    // a full snapshot, the CTAS overwrites). Gating on an earlier-written
    // artifact left a half-built store permanently "built", with every
    // serving call then failing on the missing rollups.
    if (haveEdges && ManifestSnapshots.latestVersion(spark, metaDir(root)).isDefined)
      return false
    val c = corpus.persist()
    val wm = c.agg(max("l_orderkey")).head.getLong(0)
    ManifestSnapshots.writeFull(pairCounts(c).withColumn(WmCol, lit(wm)),
      pairsDir(root), partitionCols = Seq(WmCol))
    ManifestSnapshots.writeFull(itemCounts(c).withColumn(WmCol, lit(wm)),
      itemsDir(root), partitionCols = Seq(WmCol))
    val edges = candidateEdges(c)
    Lakehouse.ctasBucketed(edges, edgesLayout(root))
    val deg = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("node")).agg(count(lit(1)).cast("long").as("d"))
    ManifestSnapshots.writeFull(deg.withColumn(WmCol, lit(wm)),
      degreesDir(root), partitionCols = Seq(WmCol))
    val nOrders = c.select("l_orderkey").distinct().count()
    ManifestSnapshots.writeFull(
      spark.range(1).select(lit(nOrders).as("n_orders"), lit(wm).as("watermark"))
        .withColumn(WmCol, lit(wm)),
      metaDir(root), partitionCols = Seq(WmCol))
    c.unpersist()
    true
  }

  override def appendBatch(spark: SparkSession, root: String,
      batch: DataFrame): Unit = { admitBatch(spark, root, batch): Unit }

  /** Files per bucket that trigger edge-table compaction: every admission
    * with new edges appends one file per touched bucket, so K batches ⇒
    * up to K files/bucket and the anti-join probe reads all of them. */
  val MaintainFilesPerBucket = 4

  /** Metadata-cheap trigger (contract rule 3): average files/bucket of
    * the edges table past [[MaintainFilesPerBucket]]. */
  override def shouldMaintain(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(edgesPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .count(_.getPath.getName.startsWith("part-")) >
      MaintainFilesPerBucket * Buckets
  }

  /** S11 for the edge set: collapse each bucket back to one sorted file —
    * the stored side of every future admission anti-join reads one file
    * per bucket again. Rollup tables need no maintenance (each commit is
    * already a full restatement). */
  override def maintain(spark: SparkSession, root: String): Unit =
    Lakehouse.compactBucketed(spark, edgesLayout(root))

  /** O(delta) admission of one whole-orders batch: only rows above the
    * stored orderkey watermark are folded (replay guard #1); every
    * rollup commit is watermark-stamped (replay guard #2). The base
    * table is never read — the batch IS the base read.
    *
    * `strict`: the caller asserts its source NEVER redelivers, so ANY
    * row at-or-below the stored watermark can only be the remainder of
    * an order split across batches — corruption the pair rollup cannot
    * survive. The check runs BEFORE any rollup merge (both counts are
    * already needed for the watermark filter), so a strict violation
    * PREVENTS the bad commit rather than detecting it afterwards — and
    * it fires even when the batch carries no fresh rows at all (a
    * remainder-only batch), which the old post-hoc check silently
    * melted to mode=empty. */
  def admitBatch(spark: SparkSession, root: String,
      batch: DataFrame, strict: Boolean = false): AdmitStats = {
    val meta = ManifestSnapshots.readLatest(spark, metaDir(root))
      .select("n_orders", "watermark").head()
    val (nOrders0, wm0) = (meta.getLong(0), meta.getLong(1))
    val raw = batch.persist()
    val rawRows = raw.count()
    val fresh = raw.filter(col("l_orderkey") > wm0).persist()
    val batchRows = fresh.count()
    raw.unpersist()
    val skipped = rawRows - batchRows
    if (strict && skipped > 0) {
      fresh.unpersist()
      throw new IllegalStateException(
        s"basket admission: $skipped rows at/below the stored watermark " +
          s"$wm0 next to $batchRows fresh under strict whole-orders — the " +
          "source claims it never redelivers, so these can only be a split " +
          "order; nothing was committed, fix the source's batch boundaries")
    }
    if (batchRows == 0) {
      fresh.unpersist()
      return AdmitStats("empty", 0, 0, 0, skipped)
    }
    // batchRows > 0 ⇒ wm = max(fresh) > wm0 = the stored meta watermark,
    // so this admission is always genuinely new work from here on (a full
    // redelivery already melted to mode=empty above); the per-table _wm
    // guards below exist for CRASH-RESUME inside one admission, where an
    // earlier attempt merged some rollups but died before the meta write
    val wm = fresh.agg(max("l_orderkey")).head.getLong(0)

    mergeRollup(spark, pairsDir(root), wm, pairCounts(fresh),
      Seq("part_a", "part_b"), "n_ab")
    mergeRollup(spark, itemsDir(root), wm, itemCounts(fresh),
      Seq("l_partkey"), "n_item")

    // distinct-edge admission: anti-join the bucketed stored set — the
    // stored side never re-shuffles, only batch candidate rows move
    val stored = spark.table(edgesTable(root))
    val newEdges = candidateEdges(fresh)
      .join(stored, Seq("src", "dst"), "left_anti").persist()
    val nNew = newEdges.count()
    // idempotent under replay: a re-run's candidates anti-join to zero
    if (nNew > 0) {
      // degree merge BEFORE the edge append: the anti-join plan READS the
      // edges table, and InsertInto invalidates every cached plan over the
      // inserted table — merging after would re-evaluate newEdges against
      // the grown set and fold an EMPTY delta (found the hard way: -2·|new|
      // on the degree total). Crash between the two: the replay's
      // anti-join still finds the edges missing, re-appends them, and the
      // degree merge skips on its watermark — consistent either way.
      mergeRollup(spark, degreesDir(root), wm,
        newEdges.unionAll(newEdges.select(col("dst").as("src"), col("src").as("dst")))
          .groupBy(col("src").as("node")).agg(count(lit(1)).cast("long").as("d")),
        Seq("node"), "d")
      Lakehouse.appendBucketed(newEdges, edgesLayout(root))
    } else if (storedWm(spark, degreesDir(root)).forall(_ < wm)) {
      // no new edges but the watermark must still advance on degrees so a
      // later replay check sees one consistent frontier
      mergeRollup(spark, degreesDir(root), wm,
        ManifestSnapshots.readLatest(spark, degreesDir(root))
          .select(col("node"), lit(0L).as("d")).limit(0),
        Seq("node"), "d")
    }
    val batchOrders = fresh.select("l_orderkey").distinct().count()
    // meta commits LAST: its watermark is what melts a redelivery, so a
    // crash anywhere above leaves the old watermark and the replay
    // re-runs every step (each rollup skipping via its own _wm stamp)
    ManifestSnapshots.writeFull(
      spark.range(1).select(lit(nOrders0 + batchOrders).as("n_orders"),
        lit(wm).as("watermark")).withColumn(WmCol, lit(wm)),
      metaDir(root), partitionCols = Seq(WmCol))
    fresh.unpersist(); newEdges.unpersist()
    AdmitStats("admitted", batchOrders, batchRows, nNew, skipped)
  }

  /** Serving reads — views only, the fact table never appears in these
    * plans (BasketStoreSpec pins the scan list). */
  def servePairs(spark: SparkSession, root: String): DataFrame =
    ManifestSnapshots.readLatest(spark, pairsDir(root)).drop(WmCol)

  def serveItems(spark: SparkSession, root: String): DataFrame =
    ManifestSnapshots.readLatest(spark, itemsDir(root)).drop(WmCol)

  def serveDegrees(spark: SparkSession, root: String): DataFrame =
    ManifestSnapshots.readLatest(spark, degreesDir(root)).drop(WmCol)

  def serveNOrders(spark: SparkSession, root: String): Long =
    ManifestSnapshots.readLatest(spark, metaDir(root))
      .select("n_orders").head().getLong(0)

  /** The committed orderkey watermark — metadata-only (partition spec of
    * the meta table's latest version). Lets a serving caller skip the
    * whole admission path when the store is provably current instead of
    * paying two aggregation jobs over a batch the watermark guard would
    * melt anyway. */
  def watermark(spark: SparkSession, root: String): Option[Long] =
    storedWm(spark, metaDir(root))
}
