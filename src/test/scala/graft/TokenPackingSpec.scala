package graft

import graft.functions.TokenPacking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed token-packing construction (functions/TokenPacking)
  * against its own oracle: the naive per-group unbounded cumulative-sum
  * window. The two must agree BIT-IDENTICALLY on every input shape —
  * sparse ids, huge id gaps, zero-token docs, single-row groups, one
  * group dominating the corpus — because the whole point is replacing
  * the naive form without a semantic diff (t_token_pack's DuckDB oracle
  * states the naive form; this spec covers the shapes the fixture
  * doesn't reach).
  */
class TokenPackingSpec extends SparkSpec {

  import spark.implicits._

  private def naive(df: org.apache.spark.sql.DataFrame, budget: Long) = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("chunk_id",
      ((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(budget)).cast("long"))
  }

  private def check(rows: Seq[(Long, String, Long)], budget: Long,
      buckets: Int): Unit = {
    val df = rows.toDF("doc_id", "lang", "n_tokens")
    val got = TokenPacking.packChunks(df, "lang", "doc_id", "n_tokens",
      budget, buckets = buckets)
      .select("doc_id", "lang", "n_tokens", "chunk_id")
    val want = naive(df, budget).select("doc_id", "lang", "n_tokens", "chunk_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"distributed packing diverged from the naive window " +
        s"(budget=$budget, buckets=$buckets, rows=${rows.take(5)}...)")
  }

  test("bucketed prefix sums ≡ naive window across adversarial shapes") {
    // deterministic pseudo-random corpus: 3 langs, skewed toward one
    val rnd = new scala.util.Random(42)
    val skewed = (0 until 2000).map { i =>
      val lang = if (rnd.nextInt(10) < 8) "en" else if (rnd.nextBoolean()) "de" else "fr"
      (i.toLong * (1 + rnd.nextInt(5)), lang, rnd.nextInt(2000).toLong)
    }.distinct.groupBy(_._1).map(_._2.head).toSeq // unique doc ids
    check(skewed, budget = 4096, buckets = 64)
    check(skewed, budget = 1, buckets = 7)       // every doc its own chunk+
    check(skewed, budget = Long.MaxValue / 4, buckets = 3) // all chunk 0

    // huge id gaps (range bucketing must not overflow or collapse)
    val gappy = Seq(
      (0L, "en", 10L), (1L, "en", 20L), (1000000000L, "en", 30L),
      (1000000001L, "en", 4090L), (9000000000L, "en", 7L),
      (5L, "xx", 100L))
    check(gappy, budget = 50, buckets = 64)

    // zero-token docs and single-row groups
    val zeros = Seq((1L, "a", 0L), (2L, "a", 0L), (3L, "a", 5L),
      (9L, "b", 4096L), (10L, "b", 1L), (42L, "solo", 7L))
    check(zeros, budget = 4096, buckets = 8)

    // more buckets than rows
    check(Seq((1L, "a", 3L), (2L, "a", 4L)), budget = 5, buckets = 64)
  }

  test("NULL group keys survive: packChunks keeps null-lang docs as their own group") {
    // Window.partitionBy treats NULL as a group; the bucketed join must
    // not silently drop those rows (null-unsafe equality would)
    val rows = Seq[(java.lang.Long, String, java.lang.Long)](
      (1L, null, 10L), (2L, null, 4090L), (3L, null, 20L),
      (10L, "en", 5L), (11L, "en", 6L))
      .toDF("doc_id", "lang", "n_tokens")
    val got = TokenPacking.packChunks(rows, "lang", "doc_id", "n_tokens", 4096L)
    assert(got.count() == 5, "a NULL-group row was dropped")
    val nulls = got.filter(col("lang").isNull)
      .orderBy("doc_id").select("chunk_id").as[Long].collect().toSeq
    assert(nulls == Seq(0L, 0L, 1L), s"null-group chunk ids wrong: $nulls")
    // a null ORDER column yields a null bucket — it must survive the
    // bucket join too (null-safe on both keys), not silently vanish
    val withNullOrd = Seq[(java.lang.Long, String, java.lang.Long)](
      (null, "en", 7L), (1L, "en", 5L))
      .toDF("doc_id", "lang", "n_tokens")
    assert(TokenPacking.packChunks(withNullOrd, "lang", "doc_id", "n_tokens", 10L)
      .count() == 2, "null-orderCol row dropped by the bucket join")
  }

  test("an all-null order column gives null chunk ids, not an arbitrary packing") {
    // no order to pack by: the within-bucket window order would be
    // nondeterministic, so every chunk id is null (never a guessed packing)
    val rows = Seq[(java.lang.Long, String, java.lang.Long)](
      (null, "en", 7L), (null, "en", 5L), (null, "en", 9L), (null, "de", 3L))
      .toDF("doc_id", "lang", "n_tokens")
    val got = TokenPacking.packChunks(rows, "lang", "doc_id", "n_tokens", 10L)
    assert(got.count() == 4, "an all-null-order row was dropped")
    val ids = got.select("chunk_id").collect().map(r => Option(r.get(0))).toSeq
    assert(ids.forall(_.isEmpty), s"chunk ids from an arbitrary order: $ids")
  }

  test("empty input yields the shape, not a crash") {
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "n_tokens")
    val out = TokenPacking.packChunks(empty, "lang", "doc_id", "n_tokens", 10)
    assert(out.columns.contains("chunk_id") && out.count() == 0)
  }
}
