package graft

import graft.pipeline.AnnStore
import org.apache.spark.sql.functions._

/** The persisted IVF serving index: a stored-index probe must be
  * indistinguishable from the from-scratch ann_ivf query, the probe scan
  * must plan with bucket pruning (the point of the cell-bucketed layout),
  * and vector admission must be O(delta) and replay-safe. */
class AnnStoreSpec extends SparkSpec {
  import spark.implicits._

  test("stored-index probe == from-scratch ann_ivf, and rebuild is a no-op") {
    val inline = SparkEntry.queries("ann_ivf")(spark, sf)
      .orderBy("q_id", "rank").collect().toSeq
    val root = tmpDir("ann-store-eq")
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    assert(AnnStore.ensureBuilt(spark, root, emb))
    val stored = AnnStore.probe(spark, root, emb.filter(col("vec_id") < 8))
      .orderBy("q_id", "rank").collect().toSeq
    assert(stored == inline,
      "persisted-index probe diverged from the from-scratch query")
    assert(!AnnStore.ensureBuilt(spark, root,
      { fail("corpus must not be re-assigned when the store exists"); emb }))
  }

  test("probe scan is bucket-pruned to the probed cells") {
    val root = tmpDir("ann-store-prune")
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    AnnStore.ensureBuilt(spark, root, emb)
    val out = AnnStore.probe(spark, root, emb.filter(col("vec_id") < 2))
    val plan = out.queryExecution.executedPlan.toString
    val m = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in probe plan:\n$plan")
    val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(sel < tot, s"probe scanned every bucket ($sel of $tot)")
    // and the pruned probe still answers: top-5 per query
    assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("appendVectors is O(delta), visible to probes, and replay-safe") {
    val root = tmpDir("ann-store-append")
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val cut = maxId * 4 / 5
    AnnStore.ensureBuilt(spark, root, emb.filter(col("vec_id") <= cut))
    val before = spark.table(AnnStore.assignTable(root)).count()
    val delta = emb.filter(col("vec_id") > cut)
    AnnStore.appendVectors(spark, root, delta)
    val after = spark.table(AnnStore.assignTable(root)).count()
    assert(after == before + delta.count(), "delta rows must all land")
    // replayed delivery: no duplicate inverted-file rows
    AnnStore.appendVectors(spark, root, delta)
    assert(spark.table(AnnStore.assignTable(root)).count() == after,
      "replayed append must be a no-op")
    // INTRA-batch duplicate: both copies are absent from the store, so
    // the stored-table anti join alone cannot catch them
    val root2 = tmpDir("ann-store-intra")
    AnnStore.ensureBuilt(spark, root2, emb.filter(col("vec_id") <= cut))
    val before2 = spark.table(AnnStore.assignTable(root2)).count()
    AnnStore.appendVectors(spark, root2, delta.unionByName(delta.limit(3)))
    assert(spark.table(AnnStore.assignTable(root2)).count() == before2 + delta.count(),
      "an intra-batch duplicate vec_id landed twice in the inverted file")
    // restart shape: a fresh session re-registers the on-disk layout
    // (including the sort spec — a mismatch would fail the next append)
    spark.sql(s"DROP TABLE ${AnnStore.assignTable(root)}")
    assert(!AnnStore.ensureBuilt(spark, root,
      { fail("restart must re-register, not rebuild"); emb }))
    AnnStore.appendVectors(spark, root, delta) // replay after restart: no-op
    assert(spark.table(AnnStore.assignTable(root)).count() == after)
    // appended vectors are probe candidates: probing an appended vector
    // against itself-excluded corpus returns its cell-mates, and the
    // appended ids can appear as neighbors
    val probeOut = AnnStore.probe(spark, root, emb.filter(col("vec_id") > cut))
    assert(probeOut.filter(col("n_id") > cut).count() > 0,
      "appended vectors never surface as neighbors")
  }

  // ---------------------------------------------------------------- DRIFT

  /** Synthetic drift corpus. Base: 200 vectors in 4 tight axis clusters
    * (ids 0-199, 50 per axis — block layout so the √N stride codebook
    * samples every axis). Shifted batch: 200 vectors (ids 1000-1199) in
    * 10 tight sub-clusters of 20, each centered BETWEEN two axes
    * (cosine-equidistant), members tipped ±toward either axis — so under
    * the FROZEN base codebook every sub-cluster straddles a Voronoi
    * boundary and splits across cells, while a codebook retrained on the
    * full corpus gives each sub-cluster its own cell. */
  private val dim = 8
  private def vecs(ids: Range, mk: Int => Array[Float]) =
    ids.map(i => (i.toLong, mk(i)))
  private def noise(rng: scala.util.Random, amp: Float): Float =
    (rng.nextFloat() * 2 - 1) * amp
  private def baseCorpus(rng: scala.util.Random) =
    vecs(0 until 200, { i =>
      val a = Array.fill(dim)(noise(rng, 0.03f))
      a(i / 50) += 1f; a
    })
  // ten DISTINCT between-axes directions (e_p + w·e_q): intra-sub-cluster
  // cosine ~0.997 dominates the closest inter-sub-cluster cosine ~0.976,
  // so each query's true top-5 stays within its own sub-cluster
  private val pairs = Seq((0, 1, 1f), (0, 2, 1f), (0, 3, 1f), (1, 2, 1f),
    (1, 3, 1f), (2, 3, 1f), (0, 1, 0.6f), (0, 2, 0.6f), (1, 3, 0.6f), (2, 3, 0.6f))
  private def shiftedBatch(rng: scala.util.Random) =
    vecs(1000 until 1200, { i =>
      val j = (i - 1000) / 20; val m = (i - 1000) % 20
      val (p, q, w) = pairs(j)
      val t = if (m % 2 == 0) 0.08f else -0.08f
      val a = Array.fill(dim)(noise(rng, 0.03f))
      a(p) += 1f + t; a(q) += w * (1f - t); a
    })
  private def queryBatch(rng: scala.util.Random) =
    vecs(2000 until 2010, { i =>
      val (p, q, w) = pairs(i - 2000)
      val a = Array.fill(dim)(noise(rng, 0.01f))
      a(p) += 1f; a(q) += w; a
    })

  /** Exact top-5 per query over `corpus` by the store's own quantized
    * cosine — the ground truth a probe's recall is measured against. */
  private def bruteTop5(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
    val c = AnnStore.quantized(corpus)
      .select(col("vec_id").as("n_id"), col("qv").as("c_qv2"), col("nq").as("c_nq2"))
    val q = AnnStore.quantized(queries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nq").as("q_nq"))
    val cos = expr("long_dot(q_qv, c_qv2)").cast("double") /
      (sqrt(col("q_nq").cast("double")) * sqrt(col("c_nq2").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
    q.crossJoin(c).withColumn("cos_sim", cos)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
  }

  private def recallOf(res: org.apache.spark.sql.DataFrame,
      truth: Map[Long, Set[Long]]): Double = {
    val got = res.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      .sum / truth.size
  }

  test("drift: refresh retrains the codebook, restoring recall and clearing the triggers") {
    val rng = new scala.util.Random(42)
    val root = tmpDir("ann-store-drift")
    val base = baseCorpus(rng).toDF("vec_id", "embedding")
    val shifted = shiftedBatch(rng).toDF("vec_id", "embedding")
    val queries = queryBatch(rng).toDF("vec_id", "embedding")
    AnnStore.ensureBuilt(spark, root, base)
    assert(!AnnStore.shouldRefresh(spark, root),
      "a freshly built store must not demand a refresh")
    AnnStore.appendVectors(spark, root, shifted)
    // the appended fraction (footer metadata vs the BASE_ROWS marker)
    // fires: 100% of the codebook's training size arrived since build
    assert(AnnStore.appendedFraction(spark, root) >= 0.9,
      s"appended fraction: ${AnnStore.appendedFraction(spark, root)}")
    assert(AnnStore.shouldRefresh(spark, root), "drift undetected")

    val truth = bruteTop5(base.unionByName(shifted), queries)
    val frozenRecall = recallOf(
      AnnStore.probe(spark, root, queries, nprobe = 1, k = 5), truth)
    val gen = AnnStore.refresh(spark, root)
    assert(gen >= 1, "refresh must publish a new generation")
    assert(AnnStore.currentGen(spark, root) == gen)
    val refreshedRecall = recallOf(
      AnnStore.probe(spark, root, queries, nprobe = 1, k = 5), truth)
    // boundary-straddling sub-clusters split across frozen cells; the
    // retrained codebook owns them whole
    assert(frozenRecall <= 0.8,
      f"frozen codebook unexpectedly good (recall $frozenRecall%.2f) — drift scenario lost its teeth")
    assert(refreshedRecall >= 0.9,
      f"refresh did not restore recall: $refreshedRecall%.2f (frozen was $frozenRecall%.2f)")
    assert(refreshedRecall > frozenRecall,
      f"refresh did not improve recall: $refreshedRecall%.2f vs $frozenRecall%.2f")
    // triggers cleared: the new codebook was trained on everything stored
    assert(AnnStore.appendedFraction(spark, root) == 0.0)
    assert(!AnnStore.shouldRefresh(spark, root),
      "refresh did not clear its own trigger")
    // no lost vectors across the swap
    assert(spark.table(AnnStore.assignTableCurrent(spark, root)).count() == 400)

    // append + probe keep working against the refreshed generation
    // draws continue from the test's single seeded rng — one generator,
    // one deterministic draw order
    val more = vecs(3000 until 3020, { _ =>
      val a = Array.fill(dim)(noise(rng, 0.03f)); a(0) += 1f; a
    }).toDF("vec_id", "embedding")
    AnnStore.appendVectors(spark, root, more)
    assert(spark.table(AnnStore.assignTableCurrent(spark, root)).count() == 420)

    // restart shape: a dropped registration re-resolves from disk
    spark.sql(s"DROP TABLE ${AnnStore.assignTable(root, gen)}")
    assert(AnnStore.probe(spark, root, queries, nprobe = 1, k = 5)
      .groupBy("q_id").count().filter(col("count") =!= 5).count() == 0,
      "post-restart probe against the refreshed generation failed")

    // crash-safety of the publish: a half-built next generation (no READY
    // marker) is invisible — the live generation keeps serving
    val fsPath = new org.apache.hadoop.fs.Path(s"$root/ann/gen-${gen + 1}")
    val hfs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(fsPath)
    assert(AnnStore.currentGen(spark, root) == gen,
      "a torn refresh dir must not become the live generation")
  }

  test("pipeline ingestion runs the maintenance step: drift causes exactly one refresh") {
    import graft.pipeline.VectorPipeline
    val rng = new scala.util.Random(19)
    val root = tmpDir("ann-pipeline-drift")
    val base = baseCorpus(rng).toDF("vec_id", "embedding")
    val shifted = shiftedBatch(rng).toDF("vec_id", "embedding")
    val queries = queryBatch(rng).toDF("vec_id", "embedding")

    // run 1: first contact bootstraps, never refreshes
    val r1 = VectorPipeline.ingest(spark, root, base)
    assert(r1.bootstrapped && !r1.refreshed && r1.generation == 0L)

    // run 2: the drifted batch lands under a LENIENT maintenance policy
    // (the run where drift accumulates but the gate hasn't fired) — the
    // pipeline admits it and leaves the frozen codebook serving
    val r2 = VectorPipeline.ingest(spark, root, shifted,
      maxAppendedFraction = Double.PositiveInfinity, maxSkew = Double.PositiveInfinity)
    assert(!r2.bootstrapped && !r2.refreshed && r2.generation == 0L)
    val truth = bruteTop5(base.unionByName(shifted), queries)
    val frozenRecall = recallOf(
      AnnStore.probe(spark, root, queries, nprobe = 1, k = 5), truth)
    assert(frozenRecall <= 0.8,
      f"frozen recall $frozenRecall%.2f — drift scenario lost its teeth")

    // run 3: the next batch under DEFAULT policy — the appended fraction
    // is now past the gate, so THIS run's maintenance step retrains
    val more = vecs(3000 until 3020, { _ =>
      val a = Array.fill(dim)(noise(rng, 0.03f)); a(0) += 1f; a
    }).toDF("vec_id", "embedding")
    val r3 = VectorPipeline.ingest(spark, root, more)
    assert(r3.refreshed, "the drifted run must refresh inline")
    assert(r3.generation == 1L && AnnStore.currentGen(spark, root) == 1L)
    val refreshedRecall = recallOf(
      AnnStore.probe(spark, root, queries, nprobe = 1, k = 5), truth)
    assert(refreshedRecall >= 0.9 && refreshedRecall > frozenRecall,
      f"pipeline refresh did not restore recall: $refreshedRecall%.2f vs $frozenRecall%.2f")

    // run 4: trigger cleared — the next routine batch must NOT refresh
    // again (exactly one refresh across the drift episode)
    val routine = vecs(4000 until 4020, { _ =>
      val a = Array.fill(dim)(noise(rng, 0.03f)); a(1) += 1f; a
    }).toDF("vec_id", "embedding")
    val r4 = VectorPipeline.ingest(spark, root, routine)
    assert(!r4.refreshed && r4.generation == 1L,
      "a cleared trigger must not refresh again on the next run")
    assert(spark.table(AnnStore.assignTableCurrent(spark, root)).count() == 440L)
  }

  test("a vector stranded in the old generation survives the next refresh's sweep") {
    val rng = new scala.util.Random(7)
    val root = tmpDir("ann-store-strand")
    val base = baseCorpus(rng).toDF("vec_id", "embedding")
    AnnStore.ensureBuilt(spark, root, base)
    val gen1 = AnnStore.refresh(spark, root)
    assert(gen1 == 1)
    // simulate an appendVectors that resolved generation 0 and landed
    // AFTER refresh #1's carry pass (or a crash between publish and
    // carry): a row present ONLY in the swept-next generation's file
    graft.core.Lakehouse.ensureBucketedTable(spark, AnnStore.assignLayout(root))
    val stranded = spark.table(AnnStore.assignTable(root)).limit(1)
      .withColumn("vec_id", lit(999999L))
    graft.core.Lakehouse.appendBucketed(stranded, AnnStore.assignLayout(root))
    assert(spark.table(AnnStore.assignTable(root, gen1))
      .filter(col("vec_id") === 999999L).isEmpty,
      "precondition: the stranded row must be absent from the live generation")
    // the next refresh must PRE-CARRY from generation 0 before sweeping it
    val gen2 = AnnStore.refresh(spark, root)
    assert(gen2 == 2)
    assert(!spark.table(AnnStore.assignTable(root, gen2))
      .filter(col("vec_id") === 999999L).isEmpty,
      "the stranded vector vanished across the refresh that swept its generation")
    val g0 = new org.apache.hadoop.fs.Path(AnnStore.assignPath(root))
    val hfs = g0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!hfs.exists(g0), "generation 0 should be swept once carried from")
  }

  test("repairing a refreshed generation republishes instead of writing in place") {
    val rng = new scala.util.Random(11)
    val root = tmpDir("ann-store-repair")
    val base = baseCorpus(rng).toDF("vec_id", "embedding")
    val queries = queryBatch(rng).toDF("vec_id", "embedding")
    AnnStore.ensureBuilt(spark, root, base)
    val gen1 = AnnStore.refresh(spark, root)
    assert(gen1 == 1)
    // artifact loss inside the published generation (a partial vacuum, a
    // corrupted object): the centroids dir vanishes but gen-1 stays READY
    val centP = new org.apache.hadoop.fs.Path(s"$root/ann/gen-1/centroids")
    val hfs = centP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(centP, true)
    assert(AnnStore.ensureBuilt(spark, root, base), "repair must rebuild")
    // the repair must have gone through a FRESH generation's private-build/
    // rename-publish — never into the READY gen-1 dir a reader may hold
    assert(AnnStore.currentGen(spark, root) == 2,
      "repair must publish a new generation, not patch the broken one")
    assert(!hfs.exists(centP),
      "repair wrote centroids into the already-published gen-1 dir")
    val out = AnnStore.probe(spark, root, queries, nprobe = 1, k = 5)
    assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0,
      "post-repair probe failed")
  }
}
