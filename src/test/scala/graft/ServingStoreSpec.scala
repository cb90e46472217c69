package graft

import graft.pipeline.{AnnStore, DedupStore, ServingStore, TextIndexStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[graft.pipeline.ServingStore]] contract, exercised through the
  * GENERIC surface for every store at once: bootstrap-on-first-contact,
  * O(delta) admission, and replay safety (an at-least-once redelivery of
  * an already-ingested batch must not change the index) — the rules each
  * store's own spec pins individually, proven here to hold behind the one
  * shared lifecycle a pipeline actually calls. */
class ServingStoreSpec extends SparkSpec {

  private def docs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"alpha beta gamma delta token$i tail${i % 3}"))
      .toDF("doc_id", "text")
  }
  private def vecs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 19).toFloat)))
      .toDF("vec_id", "embedding")
  }

  private case class Case(store: ServingStore, b1: DataFrame, b2: DataFrame,
      indexedRows: String => Long)

  private lazy val cases = Seq(
    Case(DedupStore, docs(0 until 20), docs(20 until 30),
      root => spark.table(DedupStore.shinglesTable(root)).count()),
    Case(TextIndexStore, docs(0 until 20), docs(20 until 30),
      root => spark.table(TextIndexStore.postingsTable(root))
        .select("doc_id").distinct().count()),
    Case(AnnStore, vecs(0 until 40), vecs(40 until 60),
      root => spark.table(
        AnnStore.assignTableCurrent(spark, root)).count()))

  test("generic lifecycle: bootstrap, delta admission, replay safety") {
    for (c <- cases) {
      val root = tmpDir(s"svstore_${c.store.storeName}_")
      val r1 = c.store.ingestBatch(spark, root, c.b1)
      assert(r1.bootstrapped, s"${c.store.storeName}: first contact must build")
      val afterBuild = c.indexedRows(root)
      assert(afterBuild > 0, c.store.storeName)

      // REPLAY of the same batch: admission must be a no-op
      val r2 = c.store.ingestBatch(spark, root, c.b1)
      assert(!r2.bootstrapped, c.store.storeName)
      assert(c.indexedRows(root) == afterBuild,
        s"${c.store.storeName}: replayed batch changed the index")

      // a genuinely new batch folds in (and only it — intra-batch dup
      // included once)
      c.store.ingestBatch(spark, root, c.b2.union(c.b2.limit(1)))
      val afterDelta = c.indexedRows(root)
      assert(afterDelta > afterBuild, c.store.storeName)

      // and replaying the SECOND batch is again a no-op
      c.store.ingestBatch(spark, root, c.b2)
      assert(c.indexedRows(root) == afterDelta,
        s"${c.store.storeName}: replayed delta changed the index")
    }
  }

  test("bootstrap batch with a duplicated key builds the same index as its dedup (rule 2 on FIRST contact)") {
    // an at-least-once source can duplicate a key inside the stream's
    // FIRST micro-batch — before the store exists, so no store-side guard
    // can catch it; ingestBatch must dedup the build corpus itself, or
    // the doubled entity is indexed twice permanently (every later batch
    // anti-joins against the corrupt store)
    for (c <- cases) {
      val dupRoot = tmpDir(s"svboot_dup_${c.store.storeName}_")
      val cleanRoot = tmpDir(s"svboot_clean_${c.store.storeName}_")
      val r = c.store.ingestBatch(spark, dupRoot, c.b1.union(c.b1.limit(3)))
      assert(r.bootstrapped)
      c.store.ingestBatch(spark, cleanRoot, c.b1)
      assert(c.indexedRows(dupRoot) == c.indexedRows(cleanRoot),
        s"${c.store.storeName}: duplicated bootstrap key changed the index")
    }
    // the sharpest corruption is the text index: a doubled doc doubles tf
    // in every posting — pin the posting VALUES, not just the row count
    val dupRoot = tmpDir("svboot_tf_dup_")
    val cleanRoot = tmpDir("svboot_tf_clean_")
    TextIndexStore.ingestBatch(spark, dupRoot, docs(0 until 20).union(docs(0 until 3)))
    TextIndexStore.ingestBatch(spark, cleanRoot, docs(0 until 20))
    val d = spark.table(TextIndexStore.postingsTable(dupRoot))
      .select("term", "doc_id", "tf", "dl")
    val cl = spark.table(TextIndexStore.postingsTable(cleanRoot))
      .select("term", "doc_id", "tf", "dl")
    assert(d.except(cl).isEmpty && cl.except(d).isEmpty,
      "bootstrap dup skewed posting tf values")
  }

  test("VectorPipeline.ingest rides the shared lifecycle: dup-key bootstrap == clean build") {
    // the parameterized wrapper used to carry its own copy of the
    // lifecycle and missed the bootstrap-dedup fix — it now delegates to
    // ingestBatchWith, so a duplicated vec_id in the first batch builds
    // the same index a clean batch does
    val dupRoot = tmpDir("vp_dup_")
    val cleanRoot = tmpDir("vp_clean_")
    val b = vecs(0 until 40)
    val r1 = graft.pipeline.VectorPipeline.ingest(spark, dupRoot, b.union(b.limit(2)))
    assert(r1.bootstrapped && !r1.refreshed)
    graft.pipeline.VectorPipeline.ingest(spark, cleanRoot, b)
    assert(spark.table(AnnStore.assignTableCurrent(spark, dupRoot)).count() ==
      spark.table(AnnStore.assignTableCurrent(spark, cleanRoot)).count(),
      "duplicated bootstrap vec_id changed the inverted file")
  }

  test("DedupStore crash window between the two appends heals on replay (guard keys on the last-written table)") {
    import graft.pipeline.DedupStore._
    val root = tmpDir("svcrash_")
    val healthyRoot = tmpDir("svcrash_ref_")
    val b1 = docs(0 until 20)
    val b2 = docs(20 until 30)
    DedupStore.ingestBatch(spark, root, b1)
    DedupStore.ingestBatch(spark, healthyRoot, b1)
    // simulate the crash: batch 2's BANDS land, its shingles never do
    val (bands2, _) = DedupStore.signatures(b2)
    graft.core.Lakehouse.appendBucketed(bands2, bandsLayout(root))
    // the redelivered batch passes the shingles-keyed guard and re-runs
    // both appends
    DedupStore.appendBatch(spark, root, b2)
    DedupStore.appendBatch(spark, healthyRoot, b2)
    // shingles (the verify-join multiplier) land EXACTLY once per doc
    val shingleDups = spark.table(shinglesTable(root))
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(shingleDups == 0, "crash replay duplicated shingle rows")
    // residue is duplicate BAND rows only — and admission verdicts are
    // unchanged vs a store that never crashed (candidate .distinct()
    // absorbs them)
    val probe = docs(25 until 35) // overlaps stored docs -> real dups found
    val vCrash = DedupStore.admit(spark, root, probe, storedIdUpperBound = 30L)
    val vRef = DedupStore.admit(spark, healthyRoot, probe, storedIdUpperBound = 30L)
    val diff = vCrash.except(vRef).count() + vRef.except(vCrash).count()
    vCrash.unpersist(); vRef.unpersist()
    assert(diff == 0, "crash-window replay changed admission verdicts")
  }

  test("maintenance trigger is store policy: only the ANN store decays") {
    // dedup + text indexes do not degrade under appends — their trigger
    // never fires through the generic surface; the ANN store's trigger is
    // live (AnnStoreSpec pins when it fires; here: it ANSWERS, and a fresh
    // just-built store must not demand a retrain)
    val root = tmpDir("svstore_maint_")
    DedupStore.ingestBatch(spark, root, docs(0 until 10))
    TextIndexStore.ingestBatch(spark, root, docs(0 until 10))
    AnnStore.ingestBatch(spark, root, vecs(0 until 40))
    assert(!DedupStore.shouldMaintain(spark, root))
    assert(!TextIndexStore.shouldMaintain(spark, root))
    assert(!AnnStore.shouldMaintain(spark, root),
      "a freshly built ANN store reports no drift")
    assert(ServingStore.all.map(_.storeName).toSet ==
      Set("dedup", "text-index", "ann", "basket"))
    // the basket store's edge-compaction trigger is also live but keyed on
    // files-per-bucket, not drift — BasketStoreSpec pins when it fires and
    // that a fresh build (one file per bucket) stays quiet
  }

  test("one generic streaming sink serves every store: ANN stream == batch build") {
    // servingStoreIngestion is the lifecycle as a foreachBatch sink — the
    // at-least-once delivery Structured Streaming guarantees is exactly
    // the replay the admission discipline absorbs. Proven on the store
    // with the most moving parts (generations + drift trigger): a vector
    // stream with a redelivered batch must end bit-identical to a
    // one-shot batch build of the same vectors.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val root = tmpDir("svstore_stream_")
    val ckpt = tmpDir("svstore_stream_ck_")
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 19).toFloat)))
    val q = graft.streaming.Streams.servingStoreIngestion(
      AnnStore, mem.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      mem.addData(rows.take(40): _*); q.processAllAvailable()
      mem.addData(rows.drop(40): _*); q.processAllAvailable()
      val before = spark.table(AnnStore.assignTableCurrent(spark, root)).count()
      mem.addData(rows.drop(40): _*); q.processAllAvailable() // redelivery
      assert(spark.table(AnnStore.assignTableCurrent(spark, root)).count() == before,
        "replayed micro-batch changed the inverted file")
    } finally q.stop()

    // equivalence target: the SAME lifecycle run as batch calls (build on
    // batch 1, append batch 2) — the codebook is seeded from the first
    // batch in both paths, so probes must match bit-identically. (A
    // one-shot build over all 60 would train a different codebook and
    // legitimately probe different cells.)
    val batchRoot = tmpDir("svstore_batch_")
    AnnStore.ensureBuilt(spark, batchRoot, vecs(0 until 40))
    AnnStore.appendVectors(spark, batchRoot, vecs(40 until 60))
    val queries = vecs(0 until 5)
    val streamed = AnnStore.probe(spark, root, queries, nprobe = 2, k = 3)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1)))
    val batch = AnnStore.probe(spark, batchRoot, queries, nprobe = 2, k = 3)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1)))
    assert(streamed == batch, "streamed store diverged from the batch lifecycle")
  }
}
