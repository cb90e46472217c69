package graft

import graft.pipeline.TextIndexStore
import org.apache.spark.sql.functions._

/** The persisted inverted index: a stored-index probe must reproduce the
  * full-corpus BM25 ranking, the postings scan must plan bucket-pruned to
  * the probed terms, and document admission must be O(delta) + replay-safe
  * (the AnnStore contract applied to text). */
class TextIndexStoreSpec extends SparkSpec {

  private val terms = Seq("join", "vector", "stream")
  private def documents = graft.core.Graft.table(spark, sf, "documents")

  test("stored probe == full-corpus t_bm25 top-20, and rebuild is a no-op") {
    val inline = SparkEntry.queries("t_bm25")(spark, sf)
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .collect().toSeq
    val root = tmpDir("text-store-eq")
    assert(TextIndexStore.ensureBuilt(spark, root, documents))
    val stored = TextIndexStore.probe(spark, root, terms, k = 20).collect().toSeq
    assert(stored == inline,
      "persisted inverted-index probe diverged from the full-corpus query")
    assert(!TextIndexStore.ensureBuilt(spark, root,
      { fail("corpus must not be re-tokenized when the store exists"); documents }))
  }

  test("probe scan is bucket-pruned to the probed terms") {
    val root = tmpDir("text-store-prune")
    TextIndexStore.ensureBuilt(spark, root, documents)
    val out = TextIndexStore.probe(spark, root, terms)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val m = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in probe plan:\n$plan")
    val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(sel < tot, s"probe scanned every bucket ($sel of $tot)")
  }

  test("appendDocuments is O(delta), stats-correct, and replay-safe") {
    val root = tmpDir("text-store-append")
    val maxId = documents.agg(max("doc_id")).head.getLong(0)
    val cut = maxId * 4 / 5
    TextIndexStore.ensureBuilt(spark, root, documents.filter(col("doc_id") <= cut))
    val before = spark.table(TextIndexStore.postingsTable(root)).count()
    val delta = documents.filter(col("doc_id") > cut)
    TextIndexStore.appendDocuments(spark, root, delta)
    val after = spark.table(TextIndexStore.postingsTable(root)).count()
    assert(after > before, "delta postings must land")
    // replayed delivery: postings must not duplicate (a duplicate would
    // double tf contributions in every probe of those terms)
    TextIndexStore.appendDocuments(spark, root, delta)
    assert(spark.table(TextIndexStore.postingsTable(root)).count() == after,
      "replayed append must be a no-op")
    // steady state ≡ fresh full build: same stats, same probe answer
    val fullRoot = tmpDir("text-store-full")
    TextIndexStore.ensureBuilt(spark, fullRoot, documents)
    val inc = TextIndexStore.probe(spark, root, terms, k = 20).collect().toSeq
    val full = TextIndexStore.probe(spark, fullRoot, terms, k = 20).collect().toSeq
    assert(inc == full, "incrementally-built index diverged from full rebuild")
  }

  test("stats self-heal after a crash between the postings append and the stats fold") {
    import spark.implicits._
    val root = tmpDir("text-store-crash")
    val cut = documents.agg(max("doc_id")).head.getLong(0) * 4 / 5
    TextIndexStore.ensureBuilt(spark, root, documents.filter(col("doc_id") <= cut))
    TextIndexStore.appendDocuments(spark, root, documents.filter(col("doc_id") > cut))
    val (nTrue, lTrue) = TextIndexStore.currentStats(spark, root)
    // simulate the crash state: postings hold the batch, stats still carry
    // the PRE-append values and snapshot (write a doctored stale row)
    Seq((nTrue - 7, lTrue - 999, 1L, 1L))
      .toDF("n_docs", "total_len", "p_files", "p_bytes")
      .write.mode("overwrite").parquet(TextIndexStore.statsPath(root))
    // the repairing read must rebuild the true scalars from the postings...
    assert(TextIndexStore.currentStats(spark, root) == (nTrue, lTrue),
      "stale-snapshot stats must be recomputed from postings")
    // ...and persist the healed row (the next read is steady-state again)
    val healed = spark.read.parquet(TextIndexStore.statsPath(root))
      .select("n_docs", "total_len").head
    assert((healed.getLong(0), healed.getLong(1)) == (nTrue, lTrue))
  }

  test("intra-batch duplicate doc_ids are admitted once (at-least-once micro-batch)") {
    import spark.implicits._
    val root = tmpDir("text-store-dup")
    TextIndexStore.ensureBuilt(spark, root,
      Seq((1L, "join the stream")).toDF("doc_id", "text"))
    // the same doc delivered TWICE within one delta batch — the store-level
    // anti-join alone would pass both copies, doubling tf and the stats
    val dupBatch = Seq((2L, "vector join"), (2L, "vector join"))
      .toDF("doc_id", "text")
    TextIndexStore.appendDocuments(spark, root, dupBatch)
    val tf = spark.table(TextIndexStore.postingsTable(root))
      .filter(col("doc_id") === 2 && col("term") === "vector")
      .agg(sum("tf")).head.getLong(0)
    assert(tf == 1, s"duplicated in-batch doc doubled its tf ($tf)")
    assert(TextIndexStore.currentStats(spark, root) == (2L, 5L),
      "stats must count the duplicated doc once")
  }

  test("probe refuses an empty term set with a clear message") {
    val root = tmpDir("text-store-empty")
    TextIndexStore.ensureBuilt(spark, root, documents.limit(5))
    val e = intercept[IllegalArgumentException] {
      TextIndexStore.probe(spark, root, Seq.empty)
    }
    assert(e.getMessage.contains("at least one term"))
  }

  test("streaming ingestion builds the same index as one batch build") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val root = tmpDir("text-store-stream")
    val ckpt = tmpDir("text-store-stream-ck")
    val rows = Seq(
      1L -> "join the vector stream now",
      2L -> "vector vector stream",
      3L -> "plain text with no probes",
      4L -> "join join join",
      5L -> "stream of words")
    val q = graft.streaming.Streams.servingStoreIngestion(TextIndexStore,
      docs.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      docs.addData(rows.take(2): _*); q.processAllAvailable()
      docs.addData(rows.drop(2): _*); q.processAllAvailable()
      // replayed delivery: index unchanged
      val before = spark.table(TextIndexStore.postingsTable(root)).count()
      docs.addData(rows.drop(2): _*); q.processAllAvailable()
      assert(spark.table(TextIndexStore.postingsTable(root)).count() == before)
    } finally q.stop()
    val batchRoot = tmpDir("text-store-batch")
    TextIndexStore.ensureBuilt(spark, batchRoot, rows.toDF("doc_id", "text"))
    val streamed = TextIndexStore.probe(spark, root, terms, k = 5).collect().toSeq
    val batch = TextIndexStore.probe(spark, batchRoot, terms, k = 5).collect().toSeq
    assert(streamed == batch, "streamed index diverged from one-shot build")
  }
}
