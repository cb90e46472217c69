package graft

import graft.core.Lakehouse
import org.apache.spark.sql.functions._

/** Z-order clustering + zone-map pruning (Lakehouse.writeZOrdered /
  * zoneMap / readZPruned): the 2-d data-skipping layout. Pins
  *  (1) semantic transparency — a pruned read returns EXACTLY the full
  *      scan + filter result,
  *  (2) pruning power — a 2-d box predicate touches a small fraction of
  *      z-ordered files, and
  *  (3) the control — the same predicate over a hash-partitioned layout
  *      prunes (almost) nothing, which is WHY the layout primitive exists.
  */
class ZOrderSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def events = spark.read.parquet(s"$sf001/events.parquet")
    .select(col("event_id"), col("user_id"), col("value"))

  // event_id and user_id are near-uniform; `value` is heavily right-skewed
  // (p30 = 18 of max 490) — exactly the shape equi-depth binning exists
  // for: the compaction test runs on the skewed pair at a COARSE file
  // count, where equi-width binning measurably failed (outliers blew
  // every file's box to the full domain)

  test("z-ordered files are rectangles: pruned read ≡ full filter, few files touched") {
    val zpath = tmpDir("zorder") + "/ev_z"
    Lakehouse.writeZOrdered(events, zpath, "user_id", "value", numFiles = 16)

    val zm = Lakehouse.zoneMap(spark, zpath, "user_id", "value")
    assert(zm.size == 16)
    // footer stats present for every file (both columns numeric, non-null)
    assert(zm.forall { case (_, (a, b), (c, d)) =>
      a.isFinite && b.isFinite && c.isFinite && d.isFinite })

    // a ~1/4 x 1/4 box in the middle of both domains
    val s = events.agg(
      expr("percentile(user_id, 0.4)"), expr("percentile(user_id, 0.65)"),
      expr("percentile(value, 0.4)"), expr("percentile(value, 0.65)")).head()
    val (xlo, xhi, ylo, yhi) = (s.getDouble(0), s.getDouble(1), s.getDouble(2), s.getDouble(3))

    val pruned = Lakehouse.readZPruned(spark, zpath, "user_id", xlo, xhi, "value", ylo, yhi)
    val full = spark.read.parquet(zpath)
      .filter(col("user_id").cast("double").between(xlo, xhi) &&
        col("value").cast("double").between(ylo, yhi))
    // identical results (same rows, same schema)
    assert(pruned.columns.toSeq == full.columns.toSeq)
    assert(pruned.count() == full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(full.count() > 0, "empty test box proves nothing")

    // pruning power: the box intersects few of the 16 rectangles
    val kept = zm.count { case (_, (xmin, xmax), (ymin, ymax)) =>
      xmax >= xlo && xmin <= xhi && ymax >= ylo && ymin <= yhi }
    assert(kept <= 8, s"z-order kept $kept of 16 files for a quarter-box")

    // control: hash-partitioned layout — every file spans ~the full domain,
    // so the same box prunes (almost) nothing
    val ppath = tmpDir("zorder") + "/ev_plain"
    events.repartition(16).write.parquet(ppath)
    val pkept = Lakehouse.zoneMap(spark, ppath, "user_id", "value").count {
      case (_, (xmin, xmax), (ymin, ymax)) =>
        xmax >= xlo && xmin <= xhi && ymax >= ylo && ymin <= yhi }
    assert(pkept >= 15, s"hash layout unexpectedly prunable ($pkept/16)")
    assert(kept < pkept)
  }

  test("an empty box yields an empty frame with the table schema, reading no files") {
    val zpath = tmpDir("zorder") + "/ev_z2"
    Lakehouse.writeZOrdered(events.limit(1000), zpath, "user_id", "value", numFiles = 4)
    val out = Lakehouse.readZPruned(spark, zpath,
      "user_id", 1e12, 2e12, "value", 1e12, 2e12)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("event_id", "user_id", "value"))
  }

  test("compactZOrdered: in-place OPTIMIZE ZORDER preserves rows and gains pruning power") {
    val path = tmpDir("zorder") + "/ev_opt"
    // start from a hash-partitioned (unprunable) layout, inflated so the
    // byte-sized rewrite (targetFileMB floor = 1) yields multiple files
    val big = Seq.fill(64)(events).reduce(_ unionAll _)
    big.repartition(8).write.parquet(path)
    val before = spark.read.parquet(path).count()
    Lakehouse.compactZOrdered(spark, path, "user_id", "value", targetFileMB = 1)
    val after = spark.read.parquet(path)
    assert(after.count() == before)
    val zm = Lakehouse.zoneMap(spark, path, "user_id", "value")
    assert(zm.size > 1, "targetFileMB=1 must yield multiple files on this fixture")
    // the rewrite produced rectangles: a low-low CORNER box is a Morton
    // PREFIX range (contiguous in z-order even at this coarse file count,
    // unlike a center box which straddles quadrant boundaries), so it
    // must exclude at least one file; a fresh hash layout essentially
    // never could
    val s = events.agg(
      expr("percentile(user_id, 0.05)"), expr("percentile(user_id, 0.3)"),
      expr("percentile(value, 0.05)"), expr("percentile(value, 0.3)")).head()
    val kept = zm.count { case (_, (xmin, xmax), (ymin, ymax)) =>
      xmax >= s.getDouble(0) && xmin <= s.getDouble(1) &&
        ymax >= s.getDouble(2) && ymin <= s.getDouble(3) }
    assert(kept < zm.size, s"no pruning after z-order compaction ($kept/${zm.size})")
    // refuses a bucketed layout (same contract as plain compact)
    val bt = "zopt_bucketed_t"
    val bpath = tmpDir("zorder") + "/ev_bucketed"
    Lakehouse.ctasBucketed(events.limit(100),
      Lakehouse.BucketedTable(bt, bpath, "user_id", 4))
    intercept[IllegalArgumentException] {
      Lakehouse.compactZOrdered(spark, bpath, "user_id", "value")
    }
  }

  test("3-d z-order: pruned box read ≡ full filter, and all three dims prune") {
    val zpath = tmpDir("zorder") + "/ev_z3d"
    val ev = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Lakehouse.writeZOrderedK(ev, zpath,
      Seq("user_id", "value", "event_id"), numFiles = 27)
    val s = ev.agg(
      expr("percentile(user_id, 0.35)"), expr("percentile(user_id, 0.65)"),
      expr("percentile(value, 0.35)"), expr("percentile(value, 0.65)"),
      expr("percentile(event_id, 0.35)"), expr("percentile(event_id, 0.65)")).head()
    val box = Seq(
      ("user_id", s.getDouble(0), s.getDouble(1)),
      ("value", s.getDouble(2), s.getDouble(3)),
      ("event_id", s.getDouble(4), s.getDouble(5)))
    val pruned = Lakehouse.readZPrunedK(spark, zpath, box)
    val full = spark.read.parquet(zpath).filter(box.map { case (c, lo, hi) =>
      col(c).cast("double").between(lo, hi) }.reduce(_ && _))
    assert(full.count() > 0, "empty test box proves nothing")
    assert(pruned.count() == full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // pruning power: a ~(1/3)^3 box must skip files in the 3-d layout;
    // the same box over a hash layout keeps (almost) everything
    val kept = Lakehouse.zoneMapK(spark, zpath, box.map(_._1)).count {
      case (_, ranges) => ranges.zip(box).forall { case ((mn, mx), (_, lo, hi)) =>
        mx >= lo && mn <= hi }
    }
    assert(kept < 27, s"3-d z-order kept every file ($kept/27)")
    val ppath = tmpDir("zorder") + "/ev_plain3d"
    ev.repartition(27).write.parquet(ppath)
    val pkept = Lakehouse.zoneMapK(spark, ppath, box.map(_._1)).count {
      case (_, ranges) => ranges.zip(box).forall { case ((mn, mx), (_, lo, hi)) =>
        mx >= lo && mn <= hi }
    }
    assert(kept < pkept, s"z-ordered ($kept) must out-prune hash layout ($pkept)")
  }

  test("degenerate dimension (constant column) still writes and reads correctly") {
    val zpath = tmpDir("zorder") + "/ev_z3"
    Lakehouse.writeZOrdered(events.limit(1000).withColumn("k", lit(7L)),
      zpath, "k", "value", numFiles = 4)
    val all = Lakehouse.readZPruned(spark, zpath, "k", 0, 10, "value", -1e18, 1e18)
    assert(all.count() == 1000)
  }
}
