package graft.pipeline

import graft.core.Lakehouse
import graft.core.Lakehouse.BucketedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED inverted index that makes lexical (BM25) retrieval
  * O(probed terms) instead of O(corpus) per query — [[AnnStore]]'s stored-
  * serving idiom applied to text. `t_bm25` recomputes term statistics by
  * scanning every document per query batch; a serving deployment builds the
  * index ONCE and each query touches only its terms' posting lists:
  *
  *   - stats    (n_docs, total_len)            1-row parquet, broadcast —
  *     stamped with a postings-directory snapshot so a crash between the
  *     two admission writes is detected and repaired ([[currentStats]]).
  *   - postings (term, doc_id, tf, dl)         [[Lakehouse.ctasBucketed]]
  *     on `term`, sorted by term — a probe's `term IN (...)` filter prunes
  *     whole buckets at planning time (SelectedBucketsCount), so the scan
  *     reads the probed terms' files, never the corpus.
  *
  * Per-term document frequency is NOT a third table: the pruned postings
  * scan of a term is exactly its posting list, so `df = COUNT(*) OVER
  * (PARTITION BY term)` on the already-pruned rows — one window over
  * O(probed postings), and it can never drift from the list it counts.
  * Document length rides inside each posting (dl), so scoring needs no
  * document-table join.
  *
  * Scoring matches `t_bm25`'s arithmetic exactly (k1=1.2, b=0.75 in the
  * same fixed association), and a document's BM25 only receives
  * contributions from terms it contains — absent terms contribute 0 — so
  * the stored path stays under the same oracle restricted to documents
  * with at least one probe term.
  *
  * At 100 TB: postings is the one corpus-sized artifact (|tokens| rows
  * before aggregation, |distinct (term,doc)| after — built with one
  * explode + map-side-combinable count); stop-word-like mega-terms skew
  * their buckets, which is why the bucket count scales with the corpus
  * and the probe path never groups BY term across buckets (the window
  * stays inside the pruned scan's partitioning).
  *
  * Lifecycle contract: [[ServingStore]].
  */
object TextIndexStore extends ServingStore {

  override def storeName: String = "text-index"

  override def ingestKey: String = "doc_id"

  /** [[ServingStore.appendBatch]] = [[appendDocuments]] (already the
    * contract's replay-safe admission: intra-batch dropDuplicates + the
    * stored-doc_id anti join, stats folded crash-safely). */
  override def appendBatch(spark: SparkSession, root: String,
      batch: DataFrame): Unit = appendDocuments(spark, root, batch)

  val Buckets = 32

  def postingsPath(root: String): String = s"$root/text/postings"
  /** The postings, bucketed and sorted on term. */
  def postingsLayout(root: String): BucketedTable =
    BucketedTable.rooted("text_postings_", root, postingsPath(root), "term",
      Buckets, sortCols = Seq("term"))
  def postingsTable(root: String): String = postingsLayout(root).name
  def statsPath(root: String): String = s"$root/text/stats"

  /** documents(doc_id, text) → postings rows (term, doc_id, tf, dl). */
  def toPostings(documents: DataFrame): DataFrame = {
    val tk = documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))
    tk.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")
  }

  /** Snapshot of the postings directory (data-file count, total bytes) —
    * recorded INSIDE the stats row at write time. Postings and stats are
    * two non-atomic filesystem actions; the snapshot is what makes a crash
    * between them detectable: stale-snapshot stats are rebuilt from the
    * postings themselves ([[currentStats]]) instead of silently serving
    * undercounted n_docs/total_len (which would skew every probe's bden/
    * idf forever — the doc_id anti-join means replay never repairs it). */
  private def postingsDirState(spark: SparkSession, root: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(postingsPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      (files.length.toLong, files.map(_.getLen).sum)
    }
  }

  /** Stats write, stamped with the CURRENT postings dir snapshot — call
    * only after the postings the scalars describe are fully on disk. */
  private def writeStats(spark: SparkSession, root: String,
      nDocs: Long, totalLen: Long): Unit = {
    val (pf, pb) = postingsDirState(spark, root)
    val spark2 = spark
    import spark2.implicits._
    Lakehouse.ctas(
      Seq((nDocs, totalLen, pf, pb)).toDF("n_docs", "total_len", "p_files", "p_bytes"),
      statsPath(root))
  }

  /** (n_docs, total_len), crash-repairing: when the stored snapshot does
    * not match the postings directory (a crash landed between the postings
    * append and the stats fold — or the stats file itself is torn/absent),
    * the scalars are recomputed FROM the postings (dl is constant per doc,
    * so one row per doc via groupBy) and re-stamped. The recompute is a
    * corpus-sized pass, paid only on actual crash recovery; the steady
    * state is a 1-row read + a directory listing. */
  def currentStats(spark: SparkSession, root: String): (Long, Long) = {
    val (pf, pb) = postingsDirState(spark, root)
    val stored: Option[(Long, Long)] =
      try {
        Lakehouse.read(spark, statsPath(root))
          .select("n_docs", "total_len", "p_files", "p_bytes")
          .collect().headOption.collect {
            case r if r.getLong(2) == pf && r.getLong(3) == pb =>
              (r.getLong(0), r.getLong(1))
          }
      } catch { case _: Exception => None } // absent, torn, or pre-snapshot schema
    stored.getOrElse {
      val Seq(r) = spark.table(postingsTable(root))
        .groupBy("doc_id").agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_len"))
        .collect().toSeq
      val (n, l) = (r.getLong(0), r.getLong(1))
      writeStats(spark, root, n, l)
      (n, l)
    }
  }

  /** Idempotent bootstrap: re-register an existing on-disk index on a fresh
    * session; build from `documents` only when absent. Returns true when
    * (re)built. Postings land FIRST, stats (with their dir snapshot) last —
    * a crash in between leaves no stats, so the next call rebuilds. */
  def ensureBuilt(spark: SparkSession, root: String,
      documents: => DataFrame): Boolean = {
    val havePostings = Lakehouse.ensureBucketedTable(spark, postingsLayout(root))
    if (havePostings && Lakehouse.tableExists(spark, statsPath(root)))
      return false
    val docs = documents.select(col("doc_id"), col("text"))
    // coalesce: a stream bootstraps the store from an EMPTY frame (sum
    // over nothing is null, and a null total_len would poison the first
    // real stats merge)
    val Seq(t) = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("total_len"))
      .collect().toSeq
    Lakehouse.ctasBucketed(toPostings(docs), postingsLayout(root))
    writeStats(spark, root, t.getLong(0), t.getLong(1))
    true
  }

  /** O(delta) document admission: tokenize ONLY the new documents,
    * bucket-append their postings, and fold their counts into stats.
    * Replay-safe: a re-delivered doc_id must not double its postings (a
    * duplicated posting would double the doc's tf in every probe) —
    * neither across batches (the anti-join) nor WITHIN a batch (the
    * dropDuplicates: at-least-once sources can duplicate a doc inside one
    * micro-batch, and intra-batch dups all pass the store anti-join). */
  def appendDocuments(spark: SparkSession, root: String, newDocs: DataFrame): Unit = {
    // read stats through the repairing path FIRST, so a crash-torn store
    // heals before the fold instead of baking the divergence in
    val (n0, l0) = currentStats(spark, root)
    // PERSIST the admitted frame: it is consumed by TWO actions (the
    // stats collect, then the postings write), and dropDuplicates is
    // nondeterministic per evaluation — an intra-batch duplicate doc_id
    // with DIFFERENT text could contribute one copy's length to the
    // stats and the other's tokens to the postings, silently skewing
    // every later BM25 denominator. One materialization pins one choice
    // for both consumers. (The pre-insert collect below additionally
    // guards against the plan re-reading the postings table post-insert.)
    val fresh = newDocs.dropDuplicates("doc_id").join(
      spark.table(postingsTable(root)).select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
      .persist()
    try {
      val Seq(d) = fresh
        .select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("d_docs"), coalesce(sum("dl"), lit(0L)).as("d_len"))
        .collect().toSeq
      Lakehouse.appendBucketed(toPostings(fresh), postingsLayout(root))
      // the fold carries the POST-append snapshot: a crash before this line
      // leaves the old stats with a stale snapshot, which the next
      // currentStats detects and rebuilds from the postings — the batch is
      // never lost and never double-counted
      writeStats(spark, root, n0 + d.getLong(0), l0 + d.getLong(1))
    } finally { fresh.unpersist(): Unit }
  }

  /** BM25 top-k over the stored index for a literal term set: bucket-pruned
    * postings scan → per-term df window → per-doc score sum → top-k.
    * Exactly `t_bm25`'s arithmetic for every returned document. */
  def probe(spark: SparkSession, root: String, terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty,
      "TextIndexStore.probe needs at least one term (an empty probe has no " +
        "posting lists to score — and would otherwise fail opaquely in the " +
        "per-term score association)")
    val (nDocs, totalLen) = currentStats(spark, root)
    val spark2 = spark
    import spark2.implicits._
    val stats = Seq((nDocs, totalLen)).toDF("n_docs", "total_len")
    val posts = spark.table(postingsTable(root))
      .filter(col("term").isin(terms: _*))
    val withDf = posts
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .crossJoin(broadcast(stats))
    val scored = withDf
      .withColumn("bden",
        lit(0.25) + lit(0.75) * col("dl") * col("n_docs") / col("total_len"))
      .withColumn("contrib",
        col("tf") * lit(2.2) / (col("tf") + lit(1.2) * col("bden")) *
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    // per-doc sum: terms are scored left-to-right in the probe's term order
    // via a pivot-style conditional sum so the float association matches
    // the oracle's fixed t1 + (t2 + t3) exactly
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib")).otherwise(lit(0.0))).as(s"c$i")
    }
    val byDoc = scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
    val assoc = terms.indices.reverse
      .map(i => col(s"c$i"))
      .reduce((r, l) => l + r) // builds c0 + (c1 + (c2 ...))
    byDoc.select(col("doc_id"), assoc.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
