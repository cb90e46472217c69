package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed token-budget packing — greedy sequential fill of
  * fixed-size context chunks (`chunk_id = prefix_tokens div budget`,
  * each doc assigned to the chunk its first token lands in).
  *
  * The naive form is ONE unbounded cumulative-sum window per group
  * (`PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING`) —
  * which makes each group a single task. At training scale the dominant
  * language is most of the corpus, so packing would serialize on one
  * executor core: the canonical window scale-killer (same failure mode
  * the t_shards global rank avoids).
  *
  * Here the prefix sum is computed distributively and BIT-IDENTICALLY:
  * the order column (unique within a group, integral) is cut into range
  * buckets — bucket-major order equals order-column order by
  * construction — per-(group, bucket) token totals form a tiny offsets
  * dimension (|groups| x buckets rows; its cumulative window runs over
  * the dim, not the data), and each row's prefix total is its
  * bucket-local running sum plus the bucket's broadcast offset. One
  * (group, bucket)-window shuffle over the data, never a
  * single-partition-per-group sort; at 100 TB widen `buckets` to match
  * the cluster. Cost delta vs the naive window: one min/max aggregate
  * (bucket sizing) and one map-combinable groupBy (the offsets dim).
  *
  * Exactness: token counts are integral and addition is associative, so
  * bucket-local sums + offsets equal the global running sum exactly —
  * the oracle states the same result with the naive global window.
  */
object TokenPacking {

  /** Add `chunkCol` = the packed chunk id. `orderCol` must be integral
    * and unique within each `partCol` group (the doc_id contract); when it
    * is null on every row the chunk id is null. */
  def packChunks(df: DataFrame, partCol: String, orderCol: String,
      tokensCol: String, budget: Long, chunkCol: String = "chunk_id",
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, "packChunks needs at least one range bucket")
    // Bounds ride a 1-row broadcast instead of a blocking head() (r19):
    // the eager collect forced the ENTIRE upstream lineage to materialize
    // at call time — inside Curation.curate that was a whole extra
    // funnel pass in its own job before any output was asked for. As a
    // broadcast cross join the bounds compute inside the same job that
    // consumes the packing. Same arithmetic: span = mx-mn+1 >= 1
    // whenever rows exist, stride = ceil(span / buckets); on empty
    // input every branch is empty and the chunk column is still LONG.
    val bounds = df.agg(min(col(orderCol).cast("long")).as("_pk_mn"),
      max(col(orderCol).cast("long")).as("_pk_mx"))
    // integer-div bucketing: monotone in orderCol, so bucket-major order
    // is exactly orderCol order (floating division could still bucket
    // monotonically, but div keeps it provably exact at any id width)
    val b = df.crossJoin(broadcast(bounds))
      .withColumn("_pk_bkt",
        expr(s"(cast($orderCol as bigint) - _pk_mn) div " +
          s"((_pk_mx - _pk_mn + ${buckets}L) div ${buckets}L)"))
      .drop("_pk_mx")
    val offs = b.groupBy(col(partCol), col("_pk_bkt"))
      .agg(sum(col(tokensCol).cast("long")).as("_pk_sum"))
      .withColumn("_pk_off", coalesce(
        sum("_pk_sum").over(Window.partitionBy(partCol).orderBy("_pk_bkt")
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(partCol), col("_pk_bkt"), col("_pk_off"))
    val w = Window.partitionBy(partCol, "_pk_bkt").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE group join: Window.partitionBy treats NULL as its own
    // group (the semantics being replaced), but a plain usingColumns
    // join drops NULL-keyed rows (null == null is never true) — silent
    // row loss for a null-language doc. <=> keeps them.
    val offsA = offs
      .withColumnRenamed(partCol, "_pk_grp")
      .withColumnRenamed("_pk_bkt", "_pk_bkt2")
    // both join keys <=>: a null orderCol yields a null bucket, which a
    // plain === would silently drop like the null group case
    b.join(broadcast(offsA),
        col(partCol) <=> col("_pk_grp") && col("_pk_bkt") <=> col("_pk_bkt2"))
      // integer `div`, not double `/`: double division loses ULPs above
      // 2^53 total tokens (reachable at corpus scale) and could round a
      // prefix of k*budget-1 into chunk k — the promised
      // `prefix_tokens div budget` must stay exact at any magnitude
      .withColumn("_pk_prefix",
        col("_pk_off") + sum(col(tokensCol)).over(w) - col(tokensCol))
      // an all-null orderCol has no order to pack by (null bounds): the
      // within-bucket window order would be arbitrary, so the chunk id is
      // null rather than a nondeterministic packing
      .withColumn(chunkCol,
        when(col("_pk_mn").isNotNull, expr(s"_pk_prefix div ${budget}L")))
      .drop("_pk_mn", "_pk_bkt", "_pk_bkt2", "_pk_grp", "_pk_off", "_pk_prefix")
  }
}
