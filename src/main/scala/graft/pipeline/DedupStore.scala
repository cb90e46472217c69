package graft.pipeline

import graft.core.Lakehouse
import graft.core.Lakehouse.BucketedTable
import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED MinHash signature index that makes incremental dedup truly
  * O(delta): the corpus's band rows and hashed shingle sets are lake tables
  * written once per admitted batch, so admitting a new batch costs
  *
  *   |batch| signature computations
  *   + a bucket-join of the batch's bands against the stored band index
  *   + exact-Jaccard verification of the candidates only
  *
  * and NEVER a corpus re-scan — the property the d_incremental_dedup demo
  * documents but (computing both sides from raw text per run) does not
  * deliver. This is the reference's stored-watermark incremental idiom
  * (S6/S8, stage_data_ingestion_pipeline.py:50-57) applied to dedup state.
  *
  * Layout (both via [[Lakehouse.ctasBucketed]]):
  *  - bands    (doc_id, band, bh)  bucketed on `bh`     — the probe join's
  *    key, so the big stored side of every admission join is pre-shuffled:
  *    only the batch's band rows move.
  *  - shingles (doc_id, hs)        bucketed on `doc_id` — the verification
  *    join pulls stored shingle sets by candidate a_id in place.
  *
  * Id contract (the watermark ordering the demo also relies on): stored
  * doc_ids precede batch doc_ids, so `a_id < b_id` uniformly means
  * "stored partner or earlier batch doc".
  *
  * Lifecycle contract: [[ServingStore]]. The near-dup admission DECISION
  * ([[admit]]) stays an explicit call — the generic [[appendBatch]] folds
  * a batch in replay-safely without judging it.
  */
object DedupStore extends ServingStore {

  override def storeName: String = "dedup"

  override def ingestKey: String = "doc_id"

  /** [[ServingStore.appendBatch]]: identity-replay-safe fold of a batch
    * into the index — intra-batch `dropDuplicates` plus the stored-doc_id
    * anti join (contract rule 2), then the same bucket-appends
    * [[appendAdmitted]] performs. Near-dup POLICY (should this doc enter
    * the corpus at all?) is [[admit]]'s job and is deliberately not
    * applied here: a store fed through the generic surface indexes
    * everything it is given, once.
    *
    * `fresh` is PERSISTED before the append: [[appendAdmitted]] runs two
    * actions (bands write, then shingles write), and `dropDuplicates` is
    * nondeterministic under re-evaluation — unpinned, a doc_id duplicated
    * with DIFFERENT text could land copy A's bands and copy B's shingles
    * (a self-inconsistent index: candidates found from A verified against
    * B). Same hazard, same fix as [[TextIndexStore.appendDocuments]].
    *
    * Replay guard ordering (crash-consistency contract): the anti join
    * keys on the SHINGLES table, which [[appendAdmitted]] writes LAST. A
    * crash between the two writes leaves bands rows whose doc is absent
    * from shingles; the redelivered batch then passes the guard and
    * re-runs both appends — shingles lands exactly once (the verify-join
    * multiplier stays correct), and the only residue is duplicate BAND
    * rows, which [[admit]]'s candidate `.distinct()` absorbs (cost, not
    * correctness). Guarding on the first-written table would invert that:
    * the replay would skip the doc and leave it permanently invisible to
    * candidate generation. */
  override def appendBatch(spark: SparkSession, root: String,
      batch: DataFrame): Unit = {
    val fresh = batch.dropDuplicates("doc_id").join(
      spark.table(shinglesTable(root)).select("doc_id"), Seq("doc_id"), "left_anti")
      .persist()
    try appendAdmitted(spark, root, fresh)
    finally { fresh.unpersist(); () }
  }

  val Buckets = 32
  val JaccardThreshold = 0.1

  def bandsPath(root: String): String = s"$root/dedup/bands"
  def shinglesPath(root: String): String = s"$root/dedup/shingles"
  /** The LSH band index, bucketed on the band hash, and the per-doc
    * shingle arrays, bucketed on doc_id. */
  def bandsLayout(root: String): BucketedTable =
    BucketedTable.rooted("dedup_bands_", root, bandsPath(root), "bh", Buckets)
  def shinglesLayout(root: String): BucketedTable =
    BucketedTable.rooted("dedup_shingles_", root, shinglesPath(root), "doc_id", Buckets)
  def shinglesTable(root: String): String = shinglesLayout(root).name

  private def withShingleInput(documents: DataFrame): DataFrame =
    documents.withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)

  /** (bands, hashedShingles) of a document set — the same construction the
    * from-scratch queries use, so stored-index admission is provably
    * equivalent to a full recompute. */
  def signatures(documents: DataFrame): (DataFrame, DataFrame) = {
    val base = withShingleInput(documents)
    val bands = DedupQueries.minhashBands(
      base.select(col("doc_id"), explode(DedupQueries.shinglesExpr).as("s")))
    val hsh = base.select(col("doc_id"), DedupQueries.hashedShinglesExpr.as("hs"))
    (bands, hsh)
  }

  /** [[signatures]] from a PRECOMPUTED per-doc distinct-shingle frame
    * `(doc_id, sh: array<string>)` — the caller's shared shingle cache
    * (the curation funnel computes shingles once for its LSH, verify,
    * and decontamination stages; shingling is the dominant per-row CPU,
    * so admission must not re-derive it from raw text). Values are
    * identical to [[signatures]] by construction: same distinct-3-gram
    * sets, same band fold, same sorted-xxhash64 verification arrays. */
  def signaturesFromShingles(sh: DataFrame): (DataFrame, DataFrame) = {
    val bands = DedupQueries.minhashBands(
      sh.select(col("doc_id"), explode(col("sh")).as("s")))
    val hsh = sh.select(col("doc_id"),
      expr("array_sort(transform(sh, s -> xxhash64(s)))").as("hs"))
    (bands, hsh)
  }

  /** Idempotent store bootstrap: re-register an existing on-disk index on a
    * fresh session, build it from `corpus` only when absent. Returns true
    * when the store was (re)built, false when it already existed. */
  def ensureBuilt(spark: SparkSession, root: String, corpus: => DataFrame): Boolean = {
    val haveBands = Lakehouse.ensureBucketedTable(spark, bandsLayout(root))
    val haveShingles = Lakehouse.ensureBucketedTable(spark, shinglesLayout(root))
    if (haveBands && haveShingles) return false
    val (bands, hsh) = signatures(corpus)
    Lakehouse.ctasBucketed(bands, bandsLayout(root))
    Lakehouse.ctasBucketed(hsh, shinglesLayout(root))
    true
  }

  /** Fold an admitted batch's signatures into the index (call after
    * [[admit]], with the batch filtered to the rows actually kept) — the
    * next batch then dedups against them without any recompute. */
  def appendAdmitted(spark: SparkSession, root: String, admitted: DataFrame,
      preShingled: Option[DataFrame] = None): Unit = {
    val (bands, hsh) = preShingled
      .map(signaturesFromShingles).getOrElse(signatures(admitted))
    Lakehouse.appendBucketed(bands, bandsLayout(root))
    Lakehouse.appendBucketed(hsh, shinglesLayout(root))
  }

  /** O(delta) batch admission against the stored index. Output per batch
    * doc: (doc_id, n_dups_stored, n_dups_batch, admitted) — admitted iff
    * the doc has no verified (Jaccard ≥ threshold) partner among stored
    * docs or smaller-id batch docs. Only the batch is signed here; the
    * stored side is read from the index tables.
    *
    * The returned frame is MATERIALIZED AND CACHED (its batch-signature
    * cache is released before returning): call `.unpersist()` on it once
    * consumed — long-running admission loops would otherwise accumulate a
    * verdict cache per batch. */
  def admit(spark: SparkSession, root: String, batch: DataFrame,
      storedIdUpperBound: Long,
      threshold: Double = JaccardThreshold,
      preShingled: Option[DataFrame] = None): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val (bBands0, bHsh) = preShingled
      .map(signaturesFromShingles).getOrElse(signatures(batch))
    // both admission joins (vs stored, vs batch) consume the batch bands
    val bBands = bBands0.persist()

    val sBands = spark.table(bandsLayout(root).name)
    val sHsh = spark.table(shinglesTable(root))

    def pairs(aBands: DataFrame): DataFrame =
      aBands.select(col("doc_id").as("a_id"), col("band"), col("bh"))
        .join(bBands.select(col("doc_id").as("b_id"), col("band").as("band2"),
          col("bh").as("bh2")),
          col("band") === col("band2") && col("bh") === col("bh2") &&
            col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()

    val inter = expr("sorted_intersect_count(a_hs, b_hs)")
    def verified(cand: DataFrame, aHsh: DataFrame): DataFrame = cand
      .join(aHsh.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), "a_id")
      .join(bHsh.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), "b_id")
      .filter(inter / (size(col("a_hs")) + size(col("b_hs")) - inter)
        >= threshold)
      .select("a_id", "b_id")

    val ver = verified(pairs(sBands), sHsh)
      .unionByName(verified(pairs(bBands), bHsh))
    val agg = ver.groupBy(col("b_id").as("agg_id")).agg(
      count(when(col("a_id") < storedIdUpperBound, lit(1))).as("n_dups_stored"),
      count(when(col("a_id") >= storedIdUpperBound, lit(1))).as("n_dups_batch"))

    val out = batch.select(col("doc_id"))
      .join(agg, col("doc_id") === col("agg_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_dups_stored"), lit(0L)).as("n_dups_stored"),
        coalesce(col("n_dups_batch"), lit(0L)).as("n_dups_batch"),
        col("agg_id").isNull.as("admitted"))
    // Materialize the (batch-doc-sized) verdict NOW so bBands' cache can be
    // released inside this call: in a forever-running admission stream a
    // leaked per-batch cache grows executor storage unboundedly (the caller
    // can't release bBands — it never sees the handle). The verdict itself
    // is cached for the caller's fan-out (kept-join + index append) and
    // released by the caller when the batch is done.
    out.persist().count()
    bBands.unpersist()
    out
  }
}
