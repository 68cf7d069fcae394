package graft

import org.apache.spark.sql.functions._
import graft.ops.{AtomicPublish, MergeInto}
import graft.engine.GraftConf

/** Incremental OPTIMIZE semantics: new segments fold into the existing
  * range layout, untouched ranges keep their directories (cost ∝ new
  * data), merge claims and tombstones reconcile during the fold, and
  * the result is always identical to a from-scratch view. */
class OptimizeIncrementalSpec extends SparkSpec {

  private def keyed(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi).select($"id".as("k"),
      concat(lit("v"), $"id").as("v"))
  }

  private def contents(table: String): Seq[(Long, String)] =
    AtomicPublish.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  test("append fold touches only the affected range; unaffected dirs survive") {
    val table = graft.engine.Scratch.dir("spec_opt_inc")
    AtomicPublish.publish(spark, table)(p => keyed(0, 1000).write.parquet(p))
    val full = AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 5)
    assert(full.isInstanceOf[AtomicPublish.CompactOutcome.Compacted])
    val base = AtomicPublish.currentSegments(spark, table)
    assert(base.size >= 4, s"expected a multi-segment layout: $base")
    assert(AtomicPublish.clusterMeta(spark, table).map(_._2) === Some(base))
    // new data lands entirely inside the LOWEST range
    AtomicPublish.appendSegment(spark, table)(p =>
      keyed(1000, 1050).withColumn("k", col("k") - 1000)
        .withColumn("v", concat(lit("new"), col("k"))).write.parquet(p))
    val out = AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 5, onlyNew = true)
    assert(out.isInstanceOf[AtomicPublish.CompactOutcome.Compacted], s"$out")
    val after = AtomicPublish.currentSegments(spark, table)
    // the un-touched ranges kept their EXACT directories — the ∝-new
    // cost evidence; only the lowest range (+ the new seg) was rewritten
    val kept = base.filter(after.contains)
    assert(kept.size >= base.size - 2,
      s"incremental optimize rewrote unaffected ranges: base=$base after=$after")
    assert(kept.size < after.size, "the fold must add rewritten segments")
    // content: base rows with keys 0..49 overridden? NO — appends
    // accumulate; both copies must survive the fold
    val rows = contents(table)
    assert(rows.length === 1050)
    // sidecar tracks the new layout and no merge sidecars remain
    assert(AtomicPublish.clusterMeta(spark, table).map(_._2.sorted) ===
      Some(after.sorted))
    assert(AtomicPublish.upsertSidecarsFor(spark, table, after).isEmpty)
    // the fold is declared content-preserving (change feed survives it)
    val v = AtomicPublish.currentVersion(spark, table).get
    assert(AtomicPublish.isFoldVersion(spark, table, v))
  }

  test("merge claims and tombstones reconcile during the incremental fold") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_opt_inc_merge")
    AtomicPublish.publish(spark, table)(p => keyed(0, 1000).write.parquet(p))
    AtomicPublish.optimizeTable(spark, table, clusterBy = Seq("k"), segments = 5)
    val base = AtomicPublish.currentSegments(spark, table)
    // an upsert claiming keys in ONE range, a delete in the same range
    MergeInto.upsertInto(spark, table,
      Seq((10L, "upd10"), (11L, "upd11")).toDF("k", "v"), Seq("k"))
    MergeInto.deleteFrom(spark, table, Seq(12L).toDF("k"), Seq("k"))
    val out = AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 5, onlyNew = true)
    assert(out.isInstanceOf[AtomicPublish.CompactOutcome.Compacted], s"$out")
    val after = AtomicPublish.currentSegments(spark, table)
    assert(base.count(after.contains) >= base.size - 2,
      s"a 3-key merge must not rewrite the corpus: base=$base after=$after")
    val rows = contents(table).toMap
    assert(rows(10L) === "upd10" && rows(11L) === "upd11")
    assert(!rows.contains(12L), "the tombstone must fold away the row")
    assert(rows.size === 999)
    assert(AtomicPublish.upsertSidecarsFor(spark, table, after).isEmpty,
      "the incremental fold must leave no pending merge segments")
    // zonemap pruning stays selective on the refreshed layout
    val probe = spark.read.format("graft").load(table)
      .filter(col("k") === 900L)
    assert(probe.count() === 1L)
  }

  test("auto-fold on a clustered table preserves the layout (∝ new data)") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_opt_autofold")
    AtomicPublish.publish(spark, table)(p => keyed(0, 1000).write.parquet(p))
    AtomicPublish.optimizeTable(spark, table, clusterBy = Seq("k"), segments = 5)
    val base = AtomicPublish.currentSegments(spark, table)
    spark.conf.set(GraftConf.MergeCompactAfter.key, "2")
    try {
      // two pending merges hit the threshold; the in-line fold must go
      // THROUGH the recorded layout, not flatten to one segment
      MergeInto.upsertInto(spark, table, Seq((5L, "a")).toDF("k", "v"), Seq("k"))
      MergeInto.upsertInto(spark, table, Seq((6L, "b")).toDF("k", "v"), Seq("k"))
      val after = AtomicPublish.currentSegments(spark, table)
      assert(AtomicPublish.upsertSidecarsFor(spark, table, after).isEmpty,
        "the auto-fold must have reconciled the pending merges")
      assert(after.size > 1, s"auto-fold flattened the clustered layout: $after")
      assert(base.count(after.contains) >= base.size - 2,
        s"auto-fold must keep unaffected ranges: base=$base after=$after")
      val rows = contents(table).toMap
      assert(rows(5L) === "a" && rows(6L) === "b" && rows.size === 1000)
    } finally spark.conf.unset(GraftConf.MergeCompactAfter.key)
  }

  test("no valid layout → degrades to a full clustering rewrite") {
    val table = graft.engine.Scratch.dir("spec_opt_inc_fallback")
    AtomicPublish.publish(spark, table)(p => keyed(0, 300).write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p =>
      keyed(300, 600).write.parquet(p))
    // never optimized: onlyNew must still produce a clustered layout
    val out = AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 4, onlyNew = true)
    assert(out.isInstanceOf[AtomicPublish.CompactOutcome.Compacted], s"$out")
    assert(AtomicPublish.currentSegments(spark, table).size >= 3)
    assert(contents(table).length === 600)
    assert(AtomicPublish.clusterMeta(spark, table).isDefined)
    // a second onlyNew with nothing new is a no-op
    assert(AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 4, onlyNew = true) ===
      AtomicPublish.CompactOutcome.AlreadyCompact)
  }
}
