package graft

import org.apache.spark.sql.functions._
import graft.ops.{AtomicPublish, MergeInto, MaterializedView}
import graft.ops.MaterializedView.AggSpec

/** Incremental-MV maintenance semantics: partial recompute equals a
  * from-scratch aggregate across every change kind, vanished groups
  * are deleted, no-op refreshes cost nothing, and feed discontinuities
  * (restore) are loud with fullRefresh as the recovery. */
class MaterializedViewSpec extends SparkSpec {

  private def aggs = Seq(
    AggSpec("n", "COUNT(*)"),
    AggSpec("total", "CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)"))

  private def mvRows(mv: String): Map[String, (Long, Double)] =
    MaterializedView.read(spark, mv).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("total")))
      .toMap

  test("refresh: keeps, moves, inserts, deletes, vanishes — all converge") {
    import spark.implicits._
    val src = graft.engine.Scratch.dir("spec_mv_src")
    val mv = graft.engine.Scratch.dir("spec_mv_view")
    AtomicPublish.publish(spark, src)(p =>
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
        .toDF("k", "g", "x").write.parquet(p))
    MaterializedView.create(spark, mv, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    assert(mvRows(mv) === Map("a" -> (2L, 30.0), "b" -> (1L, 30.0),
      "c" -> (1L, 40.0)))
    // in-group update, group MOVE (b→a), insert new key into new group,
    // delete the only 'c' row (group vanishes)
    MergeInto.upsertInto(spark, src,
      Seq((1L, "a", 11.0), (3L, "a", 30.0), (9L, "d", 90.0))
        .toDF("k", "g", "x"), Seq("k"))
    MergeInto.deleteFrom(spark, src, Seq(Tuple1(4L)).toDF("k"), Seq("k"))
    val st = MaterializedView.refresh(spark, mv)
    // affected: a (update+arrival), b (departure), c (vanish), d (new)
    assert(st.affectedGroups === 4L, st.toString)
    assert(st.deletedGroups >= 1L, s"group c must vanish: $st")
    assert(mvRows(mv) === Map("a" -> (3L, 61.0), "d" -> (1L, 90.0)),
      "b emptied by the move, c deleted — neither may linger")
    // incremental result == from-scratch result
    val scratch2 = graft.engine.Scratch.dir("spec_mv_full")
    MaterializedView.create(spark, scratch2, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    assert(mvRows(scratch2) === mvRows(mv))
    // no-op refresh: zero work, version advances nowhere
    val st2 = MaterializedView.refresh(spark, mv)
    assert(st2 === MaterializedView.RefreshStats(
      st.toVersion, st.toVersion, 0L, 0L, 0L))
  }

  test("refresh ACROSS a source fold stays incremental and converges") {
    import spark.implicits._
    val src = graft.engine.Scratch.dir("spec_mv_src_fold")
    val mv = graft.engine.Scratch.dir("spec_mv_view_fold")
    AtomicPublish.publish(spark, src)(p =>
      Seq((1L, "a", 10.0), (2L, "b", 20.0))
        .toDF("k", "g", "x").write.parquet(p))
    MaterializedView.create(spark, mv, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    // the view now LAGS: merge, COMPACT (auto-fold surrogate), merge
    // again — round-15 behavior forced a full-corpus fullRefresh here
    MergeInto.upsertInto(spark, src,
      Seq((1L, "a", 11.0), (3L, "c", 30.0)).toDF("k", "g", "x"), Seq("k"))
    assert(MergeInto.compactMerged(spark, src)
      .isInstanceOf[AtomicPublish.CompactOutcome.Compacted])
    MergeInto.upsertInto(spark, src,
      Seq((2L, "d", 21.0)).toDF("k", "g", "x"), Seq("k"))
    val st = MaterializedView.refresh(spark, mv)
    // affected: a (update), c (insert), b (departure), d (arrival)
    assert(st.affectedGroups === 4L, st.toString)
    assert(mvRows(mv) === Map("a" -> (1L, 11.0), "c" -> (1L, 30.0),
      "d" -> (1L, 21.0)), "b moved to d entirely; a updated in place")
    // incremental across the fold == from-scratch
    val scratch = graft.engine.Scratch.dir("spec_mv_full_fold")
    MaterializedView.create(spark, scratch, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    assert(mvRows(scratch) === mvRows(mv))
  }

  test("restore behind the view is loud; fullRefresh re-bases") {
    import spark.implicits._
    val src = graft.engine.Scratch.dir("spec_mv_src2")
    val mv = graft.engine.Scratch.dir("spec_mv_view2")
    AtomicPublish.publish(spark, src)(p =>
      Seq((1L, "a", 1.0)).toDF("k", "g", "x").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, src).get
    MaterializedView.create(spark, mv, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    MergeInto.upsertInto(spark, src,
      Seq((2L, "b", 2.0)).toDF("k", "g", "x"), Seq("k"))
    MaterializedView.refresh(spark, mv)
    AtomicPublish.restoreTable(spark, src, v1)
    MergeInto.upsertInto(spark, src,
      Seq((3L, "z", 9.0)).toDF("k", "g", "x"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mv)
    }
    assert(e.getMessage.contains("restore or republish"), e.getMessage)
    MaterializedView.fullRefresh(spark, mv)
    assert(mvRows(mv) === Map("a" -> (1L, 1.0), "z" -> (1L, 9.0)))
    // and the view is incrementally maintainable again from the new base
    MergeInto.upsertInto(spark, src,
      Seq((4L, "z", 1.0)).toDF("k", "g", "x"), Seq("k"))
    MaterializedView.refresh(spark, mv)
    assert(mvRows(mv) === Map("a" -> (1L, 1.0), "z" -> (2L, 10.0)))
  }

  test("star-schema view: dim-derived groups refresh incrementally") {
    import spark.implicits._
    import graft.ops.MaterializedView.JoinSpec
    val fact = graft.engine.Scratch.dir("spec_mv_fact")
    val dim = graft.engine.Scratch.dir("spec_mv_dim")
    val mv = graft.engine.Scratch.dir("spec_mv_star")
    AtomicPublish.publish(spark, dim)(p =>
      Seq((1L, "red"), (2L, "blue"), (3L, "green"))
        .toDF("fk", "color").write.parquet(p))
    AtomicPublish.publish(spark, fact)(p =>
      Seq((10L, 1L, 5.0), (11L, 1L, 7.0), (12L, 2L, 9.0), (13L, 3L, 2.0))
        .toDF("k", "fk", "x").write.parquet(p))
    MaterializedView.create(spark, mv, fact,
      keys = Seq("k"), groupCols = Seq("color"),
      aggs = aggs, joins = Seq(JoinSpec(dim, Seq("fk"))))
    assert(mvRows(mv) === Map("red" -> (2L, 12.0), "blue" -> (1L, 9.0),
      "green" -> (1L, 2.0)))
    // fact changes: in-group update, GROUP MOVE via FK change (red →
    // blue), insert, and a delete that VANISHES green entirely
    MergeInto.upsertInto(spark, fact,
      Seq((10L, 1L, 6.0), (11L, 2L, 7.0), (14L, 2L, 1.0))
        .toDF("k", "fk", "x"), Seq("k"))
    MergeInto.deleteFrom(spark, fact, Seq(Tuple1(13L)).toDF("k"), Seq("k"))
    val st = MaterializedView.refresh(spark, mv)
    assert(st.affectedGroups === 3L, st.toString)
    assert(mvRows(mv) === Map("red" -> (1L, 6.0), "blue" -> (3L, 17.0)),
      "green must vanish; the FK move must land in blue")
    // incremental == from-scratch over the joined state
    val scratch = graft.engine.Scratch.dir("spec_mv_star_full")
    MaterializedView.create(spark, scratch, fact,
      keys = Seq("k"), groupCols = Seq("color"),
      aggs = aggs, joins = Seq(JoinSpec(dim, Seq("fk"))))
    assert(mvRows(scratch) === mvRows(mv))
    // meta round-trips the join spec
    assert(MaterializedView.readMeta(spark, mv).joins ===
      Seq(JoinSpec(dim, Seq("fk"))))
  }

  test("null group values refused at create; meta round-trips") {
    import spark.implicits._
    val src = graft.engine.Scratch.dir("spec_mv_src3")
    val mv = graft.engine.Scratch.dir("spec_mv_view3")
    AtomicPublish.publish(spark, src)(p =>
      Seq((1L, null.asInstanceOf[String], 1.0), (2L, "a", 2.0))
        .toDF("k", "g", "x").write.parquet(p))
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, mv, src,
        keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    }
    assert(e.getMessage.contains("NULL key values"), e.getMessage)
    // meta round-trip on a valid view
    val src2 = graft.engine.Scratch.dir("spec_mv_src4")
    val mv2 = graft.engine.Scratch.dir("spec_mv_view4")
    AtomicPublish.publish(spark, src2)(p =>
      Seq((1L, "a", 1.0)).toDF("k", "g", "x").write.parquet(p))
    MaterializedView.create(spark, mv2, src2,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    val meta = MaterializedView.readMeta(spark, mv2)
    assert(meta.sourceTable === src2 && meta.keys === Seq("k") &&
      meta.groupCols === Seq("g") && meta.aggs === aggs &&
      meta.sourceVersion === AtomicPublish.currentVersion(spark, src2).get)
  }

  test("a struct group key with a null field is a group; a null struct is refused") {
    import spark.implicits._
    // parquet keeps per-LEAF null counts: the leaf under a non-null
    // struct counts the null field, which says nothing about the key
    def publishSource(tag: String, rows: Seq[(Long, String, Double)],
                      nullStructAt: Long): String = {
      val src = graft.engine.Scratch.dir(tag)
      AtomicPublish.publish(spark, src)(p =>
        rows.toDF("k", "name", "x")
          .select(col("k"),
            when(col("k") =!= nullStructAt,
              struct(lit("s").as("src"), col("name").as("name"))).as("g"),
            col("x"))
          .write.parquet(p))
      src
    }
    val rows = Seq((1L, "a", 10.0), (2L, null, 20.0), (3L, null, 5.0))
    val src = publishSource("spec_mv_struct_src", rows, nullStructAt = -1L)
    val mv = graft.engine.Scratch.dir("spec_mv_struct_view")
    MaterializedView.create(spark, mv, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    val got = MaterializedView.read(spark, mv).collect()
      .map(r => Option(r.getStruct(0).getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    assert(got === Map(Some("a") -> (1L, 10.0), None -> (2L, 25.0)))
    val src2 = publishSource("spec_mv_struct_src2", rows, nullStructAt = 2L)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, graft.engine.Scratch.dir("spec_mv_struct_view2"),
        src2, keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    }
    assert(e.getMessage.contains("NULL key values"), e.getMessage)
  }

  test("refresh over watermark-stamped upsert segments matches a " +
      "from-scratch view") {
    import spark.implicits._
    val src = graft.engine.Scratch.dir("spec_mv_wm_src")
    val mv = graft.engine.Scratch.dir("spec_mv_wm_view")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    AtomicPublish.publish(spark, src)(p =>
      Seq((1L, "a", 10.0, t0), (2L, "a", 20.0, t0), (3L, "b", 30.0, t0))
        .toDF("k", "g", "x", "ts").write.parquet(p))
    MaterializedView.create(spark, mv, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    // what withWatermark stamps on the event-time column of every
    // foreachBatch frame; the segments it lands in differ from the base
    // in that metadata alone
    val wm = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("spark.watermarkDelayMs", 600000L).build()
    def stamped(rows: Seq[(Long, String, Double, java.sql.Timestamp)]) =
      rows.toDF("k", "g", "x", "ts").select(col("k"), col("g"), col("x"),
        col("ts").as("ts", wm))
    MergeInto.upsertInto(spark, src,
      stamped(Seq((2L, "b", 21.0, t0), (4L, "c", 40.0, t0))), Seq("k"))
    MergeInto.upsertInto(spark, src,
      stamped(Seq((1L, "a", 11.0, t0))), Seq("k"))
    MergeInto.upsertInto(spark, src,
      Seq((5L, "c", 50.0, t0)).toDF("k", "g", "x", "ts"), Seq("k"))
    val st = MaterializedView.refresh(spark, mv)
    assert(st.affectedGroups === 3L, st.toString)
    assert(mvRows(mv) === Map("a" -> (1L, 11.0), "b" -> (2L, 51.0),
      "c" -> (2L, 90.0)))
    val full = graft.engine.Scratch.dir("spec_mv_wm_full")
    MaterializedView.create(spark, full, src,
      keys = Seq("k"), groupCols = Seq("g"), aggs = aggs)
    assert(mvRows(full) === mvRows(mv))
  }
}
