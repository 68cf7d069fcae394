package graft

import org.apache.spark.sql.functions._
import graft.ops.{AtomicPublish, Compact, MergeInto}

/** Table-maintenance semantics: MERGE upsert row accounting and plan
  * shape, compaction file-count collapse with exact content round-trip.
  */
class MaintenanceSpec extends SparkSpec {

  test("merge upsert: updates win, inserts land, untouched rows pass through") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val source = Seq((2L, "b2", 99.0), (9L, "new", 1.0))
      .toDF("k", "name", "bal")
    val out = MergeInto.upsert(target, source, Seq("k"))
      .orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (9L, "new", 1.0)))
  }

  test("merge upsert plans an anti join, never a full-outer") {
    import spark.implicits._
    val target = graft.engine.Tables(spark, sfDir, "customer")
    val source = target.filter($"c_custkey" % 10 === 3)
    val p = MergeInto.upsert(target, source, Seq("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
    assert(!p.contains("FullOuter"), s"full-outer join crept in:\n$p")
  }

  test("compaction collapses the fragment count, content exact") {
    import spark.implicits._
    val base = graft.engine.Tables(spark, sfDir, "lineitem")
    val frag = graft.engine.Scratch.dir("spec_lineitem_frag")
    val out = graft.engine.Scratch.dir("spec_lineitem_compact")
    base.repartition(64).write.mode("overwrite").parquet(frag)
    val nFrag = Compact.parquetFileCount(spark, frag)
    assert(nFrag >= 32, s"fragmentation failed: $nFrag files")
    val compacted = Compact.rewrite(spark, frag, out, targetBytes = 64L * 1024 * 1024)
    val n = Compact.parquetFileCount(spark, out)
    assert(n >= 1 && n <= 2, s"expected ~1 compacted file, got $n")
    // exact content round trip (multiset compare — no unique sort key
    // at this sf: (l_orderkey, l_linenumber) has ties in sf0.001)
    assert(compacted.collect().map(_.toString).sorted.toSeq ===
      base.collect().map(_.toString).sorted.toSeq)
  }

  test("compaction chains: a published table is a valid compaction input") {
    import spark.implicits._
    // Compacting the output of a previous compaction (or of
    // MergeInto.upsertInto) means the INPUT root holds only MANIFEST +
    // data-* directories; rewrite must resolve the manifest, not read
    // the root as raw parquet.
    val base = graft.engine.Tables(spark, sfDir, "nation")
    val frag = graft.engine.Scratch.dir("spec_chain_frag")
    val mid = graft.engine.Scratch.dir("spec_chain_mid")
    val out = graft.engine.Scratch.dir("spec_chain_out")
    base.repartition(8).write.mode("overwrite").parquet(frag)
    Compact.rewrite(spark, frag, mid, targetBytes = 64L * 1024 * 1024)
    val rechained = Compact.rewrite(spark, mid, out,
      targetBytes = 64L * 1024 * 1024)
    assert(rechained.collect().map(_.toString).sorted.toSeq ===
      base.collect().map(_.toString).sorted.toSeq)
  }

  test("segment append: manifest grows, readers see the union, publish collapses") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_segments")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(p))
    assert(AtomicPublish.currentSegments(spark, table).size === 1)
    // append a day: only the new rows are written, the base is untouched
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((3L, "c")).toDF("id", "v").write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((4L, "d")).toDF("id", "v").write.parquet(p))
    assert(AtomicPublish.currentSegments(spark, table).size === 3)
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L))
    // a plan built BEFORE an append binds segment paths literally —
    // appends cannot contaminate it
    val before = AtomicPublish.read(spark, table)
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((5L, "e")).toDF("id", "v").write.parquet(p))
    assert(before.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
    assert(AtomicPublish.read(spark, table).count() === 5L)
    // compaction collapses the segment list back to one, content exact
    val out = graft.engine.Scratch.dir("spec_segments_compact")
    val compacted = Compact.rewrite(spark, table, out, 64L * 1024 * 1024)
    assert(AtomicPublish.currentSegments(spark, out).size === 1)
    assert(compacted.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 5L))
    // a full publish over the segmented table also collapses it
    AtomicPublish.publish(spark, table)(p =>
      Seq((9L, "z")).toDF("id", "v").write.parquet(p))
    assert(AtomicPublish.currentSegments(spark, table).size === 1)
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).toSeq
      === Seq(9L))
    // appending to an unpublished table refuses
    val empty = graft.engine.Scratch.dir("spec_segments_empty")
    intercept[IllegalArgumentException] {
      AtomicPublish.appendSegment(spark, empty)(p =>
        Seq((1L, "x")).toDF("id", "v").write.parquet(p))
    }
  }

  test("same-name TYPE-evolved segment list falls back to per-segment " +
      "resolution (round 17: uniformity compares types, not names)") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_type_evolved")
    // base: v is DOUBLE; appended day: v is FLOAT — identical names.
    // A names-only uniformity check pinned the base's double schema
    // over the float files (vectorized-reader type error or misread);
    // the typed signature must route this list through the per-segment
    // union, which casts float -> double like inference's merge would.
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 1.5d), (2L, 2.5d)).toDF("id", "v").write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((3L, 3.5f)).toDF("id", "v").write.parquet(p))
    val got = AtomicPublish.read(spark, table)
      .select(col("id"), col("v").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got === Array((1L, 1.5d), (2L, 2.5d), (3L, 3.5d)))
    // the DSv2 path door must fall back to inference the same way: the
    // bind must not pin the base footer's double type onto the floats
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW spec_type_evolved_v
                  USING graft OPTIONS (path '$table')""")
    val sqlGot = spark.sql(
      """SELECT id, CAST(v AS DOUBLE) AS v FROM spec_type_evolved_v
         ORDER BY id""").collect()
    assert(sqlGot.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("publish is atomic: a reader mid-rewrite sees old or new, never a mix") {
    import spark.implicits._
    import graft.ops.AtomicPublish
    val table = graft.engine.Scratch.dir("spec_atomic_pub")
    val v1 = Seq((1L, "one"), (2L, "two")).toDF("k", "v")
    AtomicPublish.publish(spark, table)(p => v1.write.parquet(p))
    def snapshot(): Set[(Long, String)] =
      AtomicPublish.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val oldSet = snapshot()
    assert(oldSet === Set((1L, "one"), (2L, "two")))
    // Second publish with the new data FULLY WRITTEN but the manifest
    // not yet swapped: a reader in that window must still see v1
    // completely (the window where mode("overwrite") on a live path
    // shows a partial or empty directory).
    val newSet = Set((10L, "ten"), (20L, "twenty"), (30L, "thirty"))
    val wrote = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    val publisher = new Thread(() =>
      AtomicPublish.publish(spark, table) { p =>
        newSet.toSeq.toDF("k", "v").write.parquet(p)
        wrote.countDown()
        proceed.await()
      })
    publisher.start()
    wrote.await()
    // mid-rewrite: new data on disk, commit not yet — reader sees OLD,
    // and the table root really does hold both versioned directories
    val mid = snapshot()
    assert(mid === oldSet, s"mid-rewrite reader saw a mix: $mid")
    proceed.countDown()
    publisher.join()
    assert(snapshot() === newSet, "post-commit reader must see the new version")
    // with retention DISABLED, a publish GCs every directory the new
    // manifest doesn't reference: only the live version remains
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      AtomicPublish.publish(spark, table)(p =>
        Seq((99L, "x")).toDF("k", "v").write.parquet(p))
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(table))
        .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("data-"))
      assert(dataDirs.length <= 1, s"GC left ${dataDirs.mkString(",")}")
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
  }

  test("retention GC: a reader two commits behind still completes its scan") {
    import spark.implicits._
    // THE round-13 weak mark: publish N+1 deleted version N−1's data, so
    // a reader lagging two commits got FileNotFound mid-scan — at the
    // streaming MERGE sink's per-micro-batch commit cadence that broke
    // any nontrivial concurrent read. Under the (default-on) retention
    // window, supersession starts a CLOCK, not a countdown of commits.
    val table = graft.engine.Scratch.dir("spec_retention")
    val v1 = Set((1L, "v1a"), (2L, "v1b"))
    AtomicPublish.publish(spark, table)(p => v1.toSeq.toDF("k", "v").write.parquet(p))
    val lagging = AtomicPublish.read(spark, table) // binds v1's paths
    AtomicPublish.publish(spark, table)(p =>
      Seq((10L, "v2")).toDF("k", "v").write.parquet(p))
    AtomicPublish.publish(spark, table)(p =>
      Seq((20L, "v3")).toDF("k", "v").write.parquet(p))
    assert(lagging.collect().map(r => (r.getLong(0), r.getString(1))).toSet === v1,
      "a reader two commits behind lost its data inside the retention window")
    // and with retention 0 (delete-at-commit escape hatch) the same
    // lag collapses to one live directory
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      AtomicPublish.publish(spark, table)(p =>
        Seq((30L, "v4")).toDF("k", "v").write.parquet(p))
      AtomicPublish.publish(spark, table)(p =>
        Seq((40L, "v5")).toDF("k", "v").write.parquet(p))
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(table))
        .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("data-"))
      assert(dataDirs.length === 1, s"retention=0 left ${dataDirs.mkString(",")}")
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
  }

  test("vacuum reaps superseded versions past retention without a commit") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_vacuum")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "v1")).toDF("k", "v").write.parquet(p))
    AtomicPublish.publish(spark, table)(p =>
      Seq((2L, "v2")).toDF("k", "v").write.parquet(p))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(_.isDirectory).map(_.getPath.getName).count(_.startsWith("data-"))
    // v1 superseded but inside the (default) retention window: a vacuum
    // must NOT delete what a lagging reader is still entitled to
    AtomicPublish.vacuum(spark, table)
    assert(dataDirs() === 2, "vacuum deleted data inside the retention window")
    // past the window (retention 0 here), the vacuum reaps WITHOUT any
    // further commit — the case commit-time GC can never reach on a
    // table whose writes stopped
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      AtomicPublish.vacuum(spark, table)
      assert(dataDirs() === 1, "vacuum did not reap a superseded version")
      assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).toSeq
        === Seq(2L), "vacuum touched the live version")
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
  }

  test("fenced swap: a zombie holder's late commit fails loudly, manifest intact") {
    import spark.implicits._
    // A holder paused past the stale threshold loses its lease; before
    // round 14 its swapManifest still ran unconditionally on waking —
    // last-write-wins returned in exactly the pathological case. The
    // fence re-reads the lock token immediately before the rename and
    // refuses when the lock is no longer its own.
    val table = graft.engine.Scratch.dir("spec_fence")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "base")).toDF("id", "v").write.parquet(p))
    val lock = java.nio.file.Paths.get(table, "_graft_commit_lock")
    // since round 15 the data write stages OUTSIDE the lock, so the
    // theft is injected through the commit-window fault seam — the
    // only code that runs between lock acquisition and the swap
    AtomicPublish.commitWindowFault = () => {
      // simulate the theft mid-commit: GC-pause past staleMs, lock
      // broken by a waiter, NEW holder acquires
      java.nio.file.Files.delete(lock)
      java.nio.file.Files.writeString(lock, "new-holder-token pid=0 t=0")
      ()
    }
    val e =
      try intercept[IllegalStateException] {
        AtomicPublish.appendSegmentCrossProcess(spark, table) { p =>
          Seq((2L, "zombie")).toDF("id", "v").write.parquet(p)
        }
      } finally AtomicPublish.commitWindowFault = () => ()
    assert(e.getMessage.contains("fenced"), e.getMessage)
    assert(AtomicPublish.currentSegments(spark, table).size === 1,
      "the zombie's manifest swap must not land")
    // the zombie must also not delete the new holder's lock on release
    assert(java.nio.file.Files.readString(lock).startsWith("new-holder-token"),
      "zombie release clobbered the new holder's lock")
    java.nio.file.Files.deleteIfExists(lock); ()
  }

  test("concurrent stale-lock breakers: every appender lands, no segment lost") {
    import spark.implicits._
    // Multiple waiters observing the same orphaned lock used to race a
    // DELETE-based break: breaker B, acting on a pre-race mtime read,
    // could delete the fresh lock breaker C had just re-created — two
    // live holders, the manifest read-modify-write race re-admitted.
    // The rename-to-tombstone break admits exactly one displacement.
    val table = graft.engine.Scratch.dir("spec_breaker_race")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, "base")).toDF("id", "v").write.parquet(p))
    val lock = java.nio.file.Paths.get(table, "_graft_commit_lock")
    java.nio.file.Files.writeString(lock, "crashed-holder")
    // stale threshold must leave the heartbeat (staleMs/3 cadence)
    // real slack under full-suite load: at 100 ms a LIVE holder's beat
    // thread scheduled 100 ms late looked dead and its commit got
    // fenced — an availability flake, not the race this test pins.
    // 500 ms still flaked under the 40-suite parallel run (round 16:
    // one fenced commit when the suite JVM ran 32-wide); 2 s leaves a
    // ~670 ms beat cadence that survives full-suite GC/scheduling
    // stalls while the orphan still ages out in one sleep
    spark.conf.set(AtomicPublish.LockStaleMsKey, "2000")
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "30000")
    try {
      Thread.sleep(2200) // age the orphan past the stale threshold
      val writers = 4
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to writers).map { i =>
        new Thread(() =>
          try {
            AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
              Seq((i.toLong, s"w$i")).toDF("id", "v").write.parquet(p))
            ()
          } catch { case t: Throwable => errs.add(t); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"appender failed: ${errs.peek()}")
      assert(AtomicPublish.currentSegments(spark, table).size === 1 + writers,
        "a segment was lost to a breaker race")
      assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
        === (0L to writers.toLong).toArray)
    } finally {
      spark.conf.unset(AtomicPublish.LockStaleMsKey)
      spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
    }
  }

  test("compaction CAS: a segment appended mid-rewrite survives; rewrite retries") {
    import spark.implicits._
    // The ADVICE race: compaction read the segment list OUTSIDE the
    // commit lock, then swapped the manifest to only the compacted dir —
    // a segment committed between the read and the swap was silently
    // dropped and GC'd. compactSegments re-verifies the observed list
    // inside the commit window and retries the rewrite when it changed.
    val table = graft.engine.Scratch.dir("spec_compact_cas")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, "base")).toDF("id", "v").write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((1L, "day1")).toDF("id", "v").write.parquet(p))
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val outcome = AtomicPublish.compactSegments(spark, table) { (segs, staging) =>
      if (!raced.getAndSet(true)) {
        // a racing appender lands AFTER this attempt read its list
        AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
          Seq((99L, "raced")).toDF("id", "v").write.parquet(p))
        ()
      }
      spark.read.parquet(segs: _*).write.parquet(staging)
    }
    assert(outcome.isInstanceOf[AtomicPublish.CompactOutcome.Compacted],
      s"expected a committed compaction, got $outcome")
    assert(AtomicPublish.currentSegments(spark, table).size === 1)
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 99L),
      "the mid-rewrite segment was dropped by the compaction")
    // and when every attempt loses the race, NOTHING is modified
    val before = AtomicPublish.appendSegment(spark, table)(p =>
      Seq((2L, "day2")).toDF("id", "v").write.parquet(p))
    val lost = AtomicPublish.compactSegments(spark, table, maxAttempts = 1) {
      (segs, staging) =>
        AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
          Seq((98L, "raced2")).toDF("id", "v").write.parquet(p))
        spark.read.parquet(segs: _*).write.parquet(staging)
    }
    assert(lost === AtomicPublish.CompactOutcome.LostRace)
    assert(AtomicPublish.currentSegments(spark, table).size === 3,
      "a lost-race compaction must leave the table untouched")
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 2L, 98L, 99L))
    assert(before.nonEmpty)
  }

  test("upsertInto commits through the manifest; concurrent reader unaffected") {
    import spark.implicits._
    import graft.ops.{AtomicPublish, MergeInto}
    val table = graft.engine.Scratch.dir("spec_atomic_merge")
    val init = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
    AtomicPublish.publish(spark, table)(p => init.write.parquet(p))
    val merged = MergeInto.upsertInto(spark, table,
      Seq((2L, 99.0), (3L, 30.0)).toDF("k", "bal"), Seq("k"))
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(merged.toSeq === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    assert(AtomicPublish.read(spark, table).count() === 3)
  }

  test("racing MERGEs: every upsert survives (read binds inside the commit window)") {
    import spark.implicits._
    // the MERGE twin of the lost-segment race: pre-round-14,
    // upsertInto bound its read of the current version BEFORE the
    // commit lock — two racing merges both read version N and the
    // later swap erased the earlier merge's rows. Round 15: merges
    // land as UPSERT SEGMENTS through the append CAS, so racing
    // merges are commutative appends — each batch survives by
    // construction and the reconciled read folds them in commit order.
    val table = graft.engine.Scratch.dir("spec_merge_race")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, 0.0)).toDF("k", "bal").write.parquet(p))
    val writers = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { i =>
      new Thread(() =>
        try {
          MergeInto.upsertInto(spark, table,
            Seq((i.toLong, i * 10.0)).toDF("k", "bal"), Seq("k"))
          ()
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"merge failed: ${errs.peek()}")
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
      === (0L to writers.toLong).toArray,
      "a racing MERGE's rows were erased by a later commit")
  }

  test("racing publishers: last commit wins, readers always see ONE full version") {
    import spark.implicits._
    import graft.ops.AtomicPublish
    val table = graft.engine.Scratch.dir("spec_atomic_race")
    val sets = (0 until 4).map(i =>
      (0 until 3).map(j => (i * 10L + j, s"v$i-$j")).toSet)
    val threads = sets.map { data =>
      new Thread(() => AtomicPublish.publish(spark, table) { p =>
        data.toSeq.toDF("k", "v").write.parquet(p)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val got = AtomicPublish.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sets.contains(got),
      s"reader saw a version no single publisher wrote: $got")
  }

  test("racing cross-process appenders: BOTH segments survive the manifest CAS") {
    import spark.implicits._
    // Two appenders in DIFFERENT driver processes share no JVM lock —
    // simulated here by driving appendSegmentCrossProcess directly
    // (bypassing the tableLocks fast path). Before round 13 this race
    // silently lost a segment: both read prev=[base], both swapped a
    // two-entry manifest, last rename won. The cross-process commit
    // lock + in-window re-read must keep every committed segment.
    val table = graft.engine.Scratch.dir("spec_cas_race")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, "base")).toDF("id", "v").write.parquet(p))
    val writers = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { i =>
      new Thread(() =>
        try {
          AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
            Seq((i.toLong, s"w$i")).toDF("id", "v").write.parquet(p))
          ()
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"appender failed loudly (allowed is retry-able " +
      s"timeout, got): ${errs.peek()}")
    assert(AtomicPublish.currentSegments(spark, table).size === 1 + writers,
      "a racing appender's segment was silently lost")
    assert(AtomicPublish.read(spark, table).collect().map(_.getLong(0)).sorted
      === (0L to writers.toLong).toArray)
  }

  test("held commit lock: a second committer fails loudly after the timeout") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_lock_held")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("id", "v").write.parquet(p))
    // plant a fresh foreign lock (another live process mid-commit)
    val lock = java.nio.file.Paths.get(table, "_graft_commit_lock")
    java.nio.file.Files.writeString(lock, "foreign-holder")
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "300")
    try {
      val e = intercept[IllegalStateException] {
        AtomicPublish.appendSegment(spark, table)(p =>
          Seq((2L, "b")).toDF("id", "v").write.parquet(p))
      }
      assert(e.getMessage.contains("commit lock"), e.getMessage)
      assert(AtomicPublish.currentSegments(spark, table).size === 1,
        "a blocked committer must not mutate the manifest")
    } finally {
      spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
      java.nio.file.Files.deleteIfExists(lock); ()
    }
  }

  test("stale commit lock: a dead holder's lock is broken and the append lands") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_lock_stale")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("id", "v").write.parquet(p))
    val lock = java.nio.file.Paths.get(table, "_graft_commit_lock")
    java.nio.file.Files.writeString(lock, "crashed-holder")
    spark.conf.set(AtomicPublish.LockStaleMsKey, "100")
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "10000")
    try {
      Thread.sleep(150) // age the orphan past the stale threshold
      AtomicPublish.appendSegment(spark, table)(p =>
        Seq((2L, "b")).toDF("id", "v").write.parquet(p))
      assert(AtomicPublish.currentSegments(spark, table).size === 2)
      assert(!java.nio.file.Files.exists(lock), "lock not released")
    } finally {
      spark.conf.unset(AtomicPublish.LockStaleMsKey)
      spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
    }
  }

  test("slow data write never starves a concurrent appender (staged outside the lock)") {
    import spark.implicits._
    // Round 15: the data write stages with NO lock held, so a commit
    // whose write outlives any timeout cannot push concurrent
    // appenders into lock-timeout failures — the starvation the
    // pre-round-15 write-under-lock shape had. Hold one appender's
    // WRITE open well past the lock timeout while a second appender
    // commits; both must land, neither may time out or lose a segment.
    val table = graft.engine.Scratch.dir("spec_lock_nostarve")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "base")).toDF("id", "v").write.parquet(p))
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "400")
    try {
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val slowErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val slow = new Thread(() => {
        try AtomicPublish.appendSegmentCrossProcess(spark, table) { p =>
          entered.countDown()
          release.await() // write held open FAR past the lock timeout
          Seq((2L, "slow")).toDF("id", "v").write.parquet(p)
        } catch { case t: Throwable => slowErr.set(t) }
        ()
      })
      slow.start(); entered.await()
      Thread.sleep(600) // past the 400 ms lock timeout, mid-slow-write
      // the concurrent appender sails through: no lock is held
      AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
        Seq((3L, "fast")).toDF("id", "v").write.parquet(p))
      release.countDown(); slow.join()
      assert(slowErr.get() == null,
        s"slow appender must not fail: ${slowErr.get()}")
      assert(AtomicPublish.currentSegments(spark, table).size === 3,
        "both appends plus the base must be in the manifest")
      assert(AtomicPublish.read(spark, table).collect().map(_.getString(1)).sorted
        === Array("base", "fast", "slow"))
    } finally spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
  }

  test("live holder's heartbeat keeps the lease: a slow commit WINDOW is not stolen") {
    import spark.implicits._
    // Only the metadata window holds the lock now, but a holder paused
    // there (GC pause, slow fs) past staleMs must STILL not have its
    // lock broken while its heartbeat refreshes — only a DEAD holder
    // ages out. Hold the commit WINDOW open via the fault seam and
    // assert a second committer times out loudly instead of taking over.
    val table = graft.engine.Scratch.dir("spec_lock_beat")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "base")).toDF("id", "v").write.parquet(p))
    spark.conf.set(AtomicPublish.LockStaleMsKey, "200")
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "700")
    val release = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    try {
      AtomicPublish.commitWindowFault = () => {
        entered.countDown()
        release.await()
      }
      val slow = new Thread(() => {
        AtomicPublish.appendSegmentCrossProcess(spark, table) { p =>
          Seq((2L, "slow")).toDF("id", "v").write.parquet(p)
        }
        ()
      })
      slow.start(); entered.await()
      // the slow holder is INSIDE the lock window now; disarm the seam
      // so the second committer (and the slow holder's own completion)
      // don't trip it
      AtomicPublish.commitWindowFault = () => ()
      Thread.sleep(400) // well past staleMs since lock CREATION
      val e = intercept[IllegalStateException] {
        AtomicPublish.appendSegmentCrossProcess(spark, table)(p =>
          Seq((3L, "thief")).toDF("id", "v").write.parquet(p))
      }
      assert(e.getMessage.contains("commit lock"), e.getMessage)
      release.countDown(); slow.join()
      assert(AtomicPublish.currentSegments(spark, table).size === 2,
        "slow holder's commit must land intact")
      assert(AtomicPublish.read(spark, table).collect().map(_.getString(1)).sorted
        === Array("base", "slow"))
    } finally {
      AtomicPublish.commitWindowFault = () => ()
      release.countDown()
      spark.conf.unset(AtomicPublish.LockStaleMsKey)
      spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
    }
  }

  test("compaction partition count scales with real input bytes") {
    val base = graft.engine.Tables(spark, sfDir, "lineitem")
    val frag = graft.engine.Scratch.dir("spec_lineitem_frag2")
    val out = graft.engine.Scratch.dir("spec_lineitem_compact2")
    base.repartition(16).write.mode("overwrite").parquet(frag)
    // a tiny target forces multiple output files: ceil(bytes/target) > 1
    val tiny = 16L * 1024
    Compact.rewrite(spark, frag, out, targetBytes = tiny)
    assert(Compact.parquetFileCount(spark, out) > 1,
      "tiny target must yield multiple output files")
  }

  // -----------------------------------------------------------------
  // Round 15: merge-on-read, time travel, schema evolution
  // -----------------------------------------------------------------

  test("merge-on-read: upsert segments accumulate, reads reconcile, fold collapses") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_mor")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(p))
    MergeInto.upsertInto(spark, table,
      Seq((2L, "b2"), (10L, "j")).toDF("k", "v"), Seq("k"))
    MergeInto.upsertInto(spark, table,
      Seq((2L, "b3"), (11L, "k")).toDF("k", "v"), Seq("k"))
    // below the auto-fold threshold: THREE segments, two marked upsert
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size === 3, s"expected base + 2 upsert segments: $segs")
    assert(AtomicPublish.upsertSidecarsFor(spark, table, segs).size === 2)
    def state() = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val reconciled = state()
    assert(reconciled === Seq(1L -> "a", 2L -> "b3", 3L -> "c",
      10L -> "j", 11L -> "k"), s"latest upsert segment must win: $reconciled")
    // fold: one base segment, no sidecars, identical content
    MergeInto.compactMerged(spark, table) match {
      case AtomicPublish.CompactOutcome.Compacted(_) => ()
      case other => fail(s"fold did not commit: $other")
    }
    val after = AtomicPublish.currentSegments(spark, table)
    assert(after.size === 1)
    assert(AtomicPublish.upsertSidecarsFor(spark, table, after).isEmpty)
    assert(state() === reconciled, "fold changed the reconciled content")
  }

  test("merge-on-read auto-fold fires at the configured PENDING count") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_mor_autofold")
    spark.conf.set(MergeInto.CompactAfterKey, "3")
    try {
      AtomicPublish.publish(spark, table)(p =>
        Seq((1L, 1.0)).toDF("k", "x").write.parquet(p))
      MergeInto.upsertInto(spark, table, Seq((2L, 2.0)).toDF("k", "x"), Seq("k"))
      assert(AtomicPublish.currentSegments(spark, table).size === 2)
      // the threshold counts PENDING merge segments, never total
      // segments: a multi-segment base (appends, a clustered layout)
      // must not force a corpus fold on its first merge
      MergeInto.upsertInto(spark, table, Seq((1L, 5.0)).toDF("k", "x"), Seq("k"))
      assert(AtomicPublish.currentSegments(spark, table).size === 3,
        "2 pending merges < 3 must NOT fold, whatever the segment total")
      // the third PENDING merge reaches the threshold: folds in-line
      MergeInto.upsertInto(spark, table, Seq((1L, 9.0)).toDF("k", "x"), Seq("k"))
      assert(AtomicPublish.currentSegments(spark, table).size === 1,
        "auto-fold must collapse the table at the pending threshold")
      assert(AtomicPublish.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
        === Seq(1L -> 9.0, 2L -> 2.0))
    } finally spark.conf.unset(MergeInto.CompactAfterKey)
  }

  test("copy-on-write merge mode: CAS rewrite, same semantics, one segment") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_cow")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    spark.conf.set(MergeInto.ModeKey, "cow")
    try {
      MergeInto.upsertInto(spark, table,
        Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"))
      assert(AtomicPublish.currentSegments(spark, table).size === 1,
        "cow merge must leave a single rewritten segment")
      assert(AtomicPublish.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
        === Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
    } finally spark.conf.unset(MergeInto.ModeKey)
  }

  test("casRewrite: an append landing mid-rewrite aborts the swap and the retry wins") {
    import spark.implicits._
    // the optimistic-concurrency engine under compactMerged and
    // cow-mode upsertInto: attempt 1's rewrite races an append (here
    // self-inflicted from the rewrite callback), the CAS sees the
    // changed segment list and DISCARDS the staging, attempt 2
    // rewrites against the full list — nothing lost, no lock held
    // during either rewrite
    val table = graft.engine.Scratch.dir("spec_cas_retry")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val outcome = AtomicPublish.casRewrite(spark, table,
      maxAttempts = 3, minSegments = 1) { (paths, staging) =>
      attempts.incrementAndGet()
      if (raced.compareAndSet(false, true))
        AtomicPublish.appendSegment(spark, table)(p =>
          Seq((3L, "landed-mid-rewrite")).toDF("k", "v").write.parquet(p))
      spark.read.parquet(paths: _*).write.parquet(staging)
    }
    assert(outcome.isInstanceOf[AtomicPublish.CompactOutcome.Compacted],
      s"retry must commit: $outcome")
    assert(attempts.get === 2, "first attempt must lose the CAS and retry")
    assert(AtomicPublish.read(spark, table).collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L, 3L),
      "the mid-rewrite append must survive the compaction")
    assert(AtomicPublish.currentSegments(spark, table).size === 1)
  }

  test("slow MERGE staging and a concurrent append both commit, neither times out") {
    import spark.implicits._
    // the round-14 ADVICE starvation case, closed: the upsert
    // segment's data write holds NO lock, so a merge staging far past
    // the lock timeout cannot push a concurrent appender into
    // lock-timeout failure — and the append CAS keeps both commits
    val table = graft.engine.Scratch.dir("spec_merge_nostarve")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "base")).toDF("k", "v").write.parquet(p))
    spark.conf.set(AtomicPublish.LockTimeoutMsKey, "400")
    try {
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val mergeErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val merge = new Thread(() => {
        try AtomicPublish.appendUpsertSegment(spark, table, Seq("k")) { p =>
          entered.countDown()
          release.await() // staging held open far past the lock timeout
          Seq((1L, "merged")).toDF("k", "v").write.parquet(p)
        } catch { case t: Throwable => mergeErr.set(t) }
        ()
      })
      merge.start(); entered.await()
      Thread.sleep(600)
      AtomicPublish.appendSegment(spark, table)(p =>
        Seq((2L, "appended")).toDF("k", "v").write.parquet(p))
      release.countDown(); merge.join()
      assert(mergeErr.get() == null, s"merge must not fail: ${mergeErr.get()}")
      val rows = AtomicPublish.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      // the upsert segment committed AFTER the append, so k=1 is merged
      assert(rows === Seq(1L -> "merged", 2L -> "appended"), rows.toString)
    } finally spark.conf.unset(AtomicPublish.LockTimeoutMsKey)
  }

  test("upsert schema contract: dropped refused, added conf-gated, keys must agree") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_mor_schema")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a", 1.0)).toDF("k", "v", "w").write.parquet(p))
    // dropped column: always loud
    val eDrop = intercept[IllegalArgumentException] {
      MergeInto.upsertInto(spark, table, Seq((1L, "x")).toDF("k", "v"), Seq("k"))
    }
    assert(eDrop.getMessage.contains("MISSING existing column"), eDrop.getMessage)
    // added column without the conf: loud, names the conf
    val eAdd = intercept[IllegalArgumentException] {
      MergeInto.upsertInto(spark, table,
        Seq((1L, "x", 1.0, 7L)).toDF("k", "v", "w", "extra"), Seq("k"))
    }
    assert(eAdd.getMessage.contains(MergeInto.AllowEvolutionKey), eAdd.getMessage)
    // with the conf: accepted; old rows read back NULL in the new column
    spark.conf.set(MergeInto.AllowEvolutionKey, "true")
    try MergeInto.upsertInto(spark, table,
      Seq((2L, "b", 2.0, 7L)).toDF("k", "v", "w", "extra"), Seq("k"))
    finally spark.conf.unset(MergeInto.AllowEvolutionKey)
    val rows = AtomicPublish.read(spark, table)
      .select(col("k"), col("extra")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(rows === Seq(1L -> -1L, 2L -> 7L), rows.toString)
    // merge keys must agree with pending upsert segments
    val eKeys = intercept[IllegalArgumentException] {
      AtomicPublish.appendUpsertSegment(spark, table, Seq("v"))(p =>
        Seq((9L, "z", 9.0, 9L)).toDF("k", "v", "w", "extra").write.parquet(p))
    }
    assert(eKeys.getMessage.contains("fold the table first"), eKeys.getMessage)
  }

  test("time travel: readAt serves any retained version, loud outside the window") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_timetravel")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    MergeInto.upsertInto(spark, table,
      Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    val v3 = AtomicPublish.currentVersion(spark, table).get
    assert(v3 === v1 + 2)
    def at(v: Long) = AtomicPublish.readAt(spark, table, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(at(v1) === Seq(1L -> "a"))
    assert(at(v1 + 1) === Seq(1L -> "a", 2L -> "b"))
    // a version captured mid-merge-on-read reconciles its upserts
    assert(at(v3) === Seq(1L -> "a2", 2L -> "b"))
    val eMissing = intercept[IllegalStateException] {
      AtomicPublish.readAt(spark, table, v3 + 50)
    }
    assert(eMissing.getMessage.contains("version log"), eMissing.getMessage)
    // outside the retention window: versions (and their bytes) age out
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      MergeInto.compactMerged(spark, table)
      AtomicPublish.vacuum(spark, table)
      val eGone = intercept[IllegalStateException] {
        AtomicPublish.readAt(spark, table, v1)
      }
      assert(eGone.getMessage.contains("time travel"), eGone.getMessage)
      // the CURRENT version always stays readable
      val vNow = AtomicPublish.currentVersion(spark, table).get
      assert(at(vNow) === Seq(1L -> "a2", 2L -> "b"))
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
  }

  test("txn appends: replays skipped, folds carry marks, merge sink idempotent") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_txn")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, "base")).toDF("k", "v").write.parquet(p))
    def batch(k: Long, v: String) = Seq((k, v)).toDF("k", "v")
    // version ladder: land, skip replay, land next, skip below-mark
    assert(AtomicPublish.appendSegmentTxn(spark, table, "app", 1L)(p =>
      batch(1L, "b1").write.parquet(p)).isDefined)
    assert(AtomicPublish.appendSegmentTxn(spark, table, "app", 1L)(p =>
      batch(1L, "DUP").write.parquet(p)).isEmpty, "replay must skip")
    assert(AtomicPublish.txnVersionFor(spark, table, "app").contains(1L))
    assert(AtomicPublish.appendSegmentTxn(spark, table, "app", 2L)(p =>
      batch(2L, "b2").write.parquet(p)).isDefined)
    // an UNRELATED app has its own ladder
    assert(AtomicPublish.appendSegmentTxn(spark, table, "other", 1L)(p =>
      batch(3L, "o1").write.parquet(p)).isDefined)
    assert(AtomicPublish.read(spark, table).count() === 4L)
    // compaction folds segments but must NOT forget applied marks
    val out = AtomicPublish.compactSegments(spark, table) { (paths, staging) =>
      spark.read.parquet(paths: _*).write.parquet(staging)
    }
    assert(out.isInstanceOf[AtomicPublish.CompactOutcome.Compacted], out.toString)
    assert(AtomicPublish.currentSegments(spark, table).size === 1)
    assert(AtomicPublish.txnVersionFor(spark, table, "app").contains(2L),
      "fold must carry the high-water mark forward")
    assert(AtomicPublish.appendSegmentTxn(spark, table, "app", 2L)(p =>
      batch(2L, "DUP").write.parquet(p)).isEmpty,
      "post-fold replay must still be recognized")
    assert(AtomicPublish.read(spark, table).count() === 4L)
    // exactly-once MERGE sink: replayed micro-batch swallowed
    assert(MergeInto.upsertIntoTxn(spark, table,
      batch(1L, "merged"), Seq("k"), "sink", 1L))
    assert(!MergeInto.upsertIntoTxn(spark, table,
      batch(1L, "REPLAY"), Seq("k"), "sink", 1L))
    val rows = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) === "merged" && rows.size === 4, rows.toString)
  }

  test("optimizeTable: reconciles pending merges into range-disjoint segments") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_optimize_mor")
    AtomicPublish.publish(spark, table)(p =>
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(p))
    MergeInto.upsertInto(spark, table,
      Seq((7L, "MERGED")).toDF("k", "v"), Seq("k"))
    MergeInto.deleteFrom(spark, table, Seq(Tuple1(9L)).toDF("k"), Seq("k"))
    val out = AtomicPublish.optimizeTable(spark, table,
      clusterBy = Seq("k"), segments = 4)
    assert(out.isInstanceOf[AtomicPublish.CompactOutcome.Compacted], out.toString)
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size >= 3, s"expected several range segments: $segs")
    // merge markers folded away: the optimized table is plain segments
    assert(AtomicPublish.mergeSidecarsFor(spark, table, segs).isEmpty,
      "optimize must fold merge-on-read markers")
    val rows = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size === 99 && rows(7L) === "MERGED" && !rows.contains(9L),
      "optimize must preserve the reconciled content")
    // range disjointness: per-segment key ranges must not overlap
    val ranges = segs.map { d =>
      val s = spark.read.parquet(s"$table/$d")
        .agg(min($"k"), max($"k")).head()
      (s.getLong(0), s.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"segments overlap: $ranges")
      case _ => ()
    }
  }

  test("timestampAsOf: wall-clock travel resolves by commit time, loud before history") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_ts_travel")
    val t0 = System.currentTimeMillis()
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    Thread.sleep(1200) // outlast coarse filesystem mtime granularity
    val between = System.currentTimeMillis()
    Thread.sleep(1200)
    MergeInto.upsertInto(spark, table, Seq((1L, "b")).toDF("k", "v"), Seq("k"))
    // an instant between the commits resolves to the FIRST
    assert(AtomicPublish.versionAt(spark, table, between) === v1)
    assert(AtomicPublish.readAsOfTimestamp(spark, table, between)
      .head.getString(1) === "a")
    // an instant after the newest commit: loud for reads (Delta
    // semantics — a typo'd future instant must not silently serve
    // current state); the lenient past-the-end resolution lives only
    // in versionSince, where it is a stream position
    val now = System.currentTimeMillis() + 5000
    val eNew = intercept[IllegalArgumentException] {
      AtomicPublish.versionAt(spark, table, now)
    }
    assert(eNew.getMessage.contains("after the newest commit"), eNew.getMessage)
    assert(AtomicPublish.versionSince(spark, table, now) === v1 + 2)
    // SQL surface (epoch millis form)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ts_travel
                  USING graft OPTIONS (path '$table', timestampAsOf '$between')""")
    assert(spark.sql("SELECT v FROM ts_travel").head.getString(0) === "a")
    // both options together: refused
    val eBoth = intercept[Exception] {
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ts_travel_bad
                    USING graft OPTIONS (path '$table',
                      timestampAsOf '$between', versionAsOf '$v1')""")
      spark.sql("SELECT * FROM ts_travel_bad").collect()
    }
    def msgs(t: Throwable): String =
      Option(t).map(x => x.getMessage + msgs(x.getCause)).getOrElse("")
    assert(msgs(eBoth).contains("mutually exclusive"), msgs(eBoth))
    // an instant before all retained history: loud, never a clamp
    val eOld = intercept[IllegalArgumentException] {
      AtomicPublish.versionAt(spark, table, t0 - 3600000L)
    }
    assert(eOld.getMessage.contains("predates"), eOld.getMessage)
  }

  test("restore: metadata-only rollback, history intact, table keeps working") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_restore")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    MergeInto.upsertInto(spark, table,
      Seq((1L, "bad")).toDF("k", "v"), Seq("k"))
    val vMerged = AtomicPublish.currentVersion(spark, table).get
    val vRestored = AtomicPublish.restoreTable(spark, table, v1)
    assert(vRestored === vMerged + 1, "restore commits as a NEW version")
    assert(AtomicPublish.currentVersion(spark, table).contains(vRestored))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    // current state IS the restored version
    assert(rows(AtomicPublish.read(spark, table)) === Seq(1L -> "a"))
    // history is NOT rewritten: the undone merge stays travel-readable
    assert(rows(AtomicPublish.readAt(spark, table, vMerged)) ===
      Seq(1L -> "bad", 2L -> "b"))
    // the restored table keeps committing normally
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((3L, "c")).toDF("k", "v").write.parquet(p))
    assert(rows(AtomicPublish.read(spark, table)) ===
      Seq(1L -> "a", 3L -> "c"))
    // the change feed refuses to diff across the restore discontinuity
    // (a restore CHANGES content — unlike a fold, it is not declared
    // content-preserving, so the feed must not guess)
    val eCdf = intercept[IllegalArgumentException] {
      AtomicPublish.changesBetween(spark, table, vMerged, vRestored).collect()
    }
    assert(eCdf.getMessage.contains("restore or republish"), eCdf.getMessage)
    assert(!AtomicPublish.isFoldVersion(spark, table, vRestored),
      "a restore commit must NOT carry a fold marker")
  }

  test("restore revives a tombstoned directory with a fresh retention clock") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_restore_revive")
    val d1 = AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "old")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    val d2 = AtomicPublish.publish(spark, table)(p =>
      Seq((2L, "new")).toDF("k", "v").write.parquet(p))
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tombed(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(root, s"_graft_tomb_$d"))
    assert(tombed(d1), "the replaced directory must be ticking toward GC")
    AtomicPublish.restoreTable(spark, table, v1)
    // revived dir's supersession clock is CLEARED; the undone dir ticks
    assert(!tombed(d1), "restore must clear the revived dir's tombstone")
    assert(tombed(d2), "the superseded post-restore dir must start ticking")
    assert(AtomicPublish.read(spark, table).collect()
      .map(_.getString(1)).toSeq === Seq("old"))
    // a version whose bytes aged out refuses the restore LOUDLY
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      val vGoneTarget = AtomicPublish.currentVersion(spark, table).get
      AtomicPublish.publish(spark, table)(p =>
        Seq((3L, "z")).toDF("k", "v").write.parquet(p))
      AtomicPublish.vacuum(spark, table)
      val eGone = intercept[IllegalStateException] {
        AtomicPublish.restoreTable(spark, table, vGoneTarget)
      }
      assert(eGone.getMessage.contains("time travel"), eGone.getMessage)
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
  }

  test("graft source refuses pending upsert segments; fold reopens the path door") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_graft_refuse_mor")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 1.0)).toDF("k", "x").write.parquet(p))
    MergeInto.upsertInto(spark, table, Seq((1L, 2.0)).toDF("k", "x"), Seq("k"))
    val e = intercept[Exception] {
      spark.read.format("graft").load(table).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("merge-on-read segment")),
      s"path source must refuse reconciliation-needing tables: ${msgs(e)}")
    // the reconciling view is the sanctioned SQL door while unfolded
    AtomicPublish.registerView(spark, table, "spec_refuse_mor_v")
    assert(spark.sql("SELECT x FROM spec_refuse_mor_v WHERE k = 1")
      .collect().head.getDouble(0) === 2.0)
    MergeInto.compactMerged(spark, table)
    assert(spark.read.format("graft").load(table).collect()
      .map(_.getDouble(1)).toSeq === Seq(2.0))
  }

  // ------------------------------------------------------------------
  // Row-level DELETE (merge-on-read tombstones)
  // ------------------------------------------------------------------

  test("deleteFrom: tombstone drops claimed keys, later upsert re-inserts, fold erases") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_del_mor")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
        .write.parquet(p))
    def state() = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    // tombstone two keys: write ∝ the key set, not the table
    MergeInto.deleteFrom(spark, table, Seq(2L, 3L).toDF("k"), Seq("k"))
    assert(state() === Seq(1L -> "a", 4L -> "d"))
    // a LATER upsert re-inserts one deleted key (ordinal is the clock)
    MergeInto.upsertInto(spark, table, Seq((3L, "c2")).toDF("k", "v"), Seq("k"))
    assert(state() === Seq(1L -> "a", 3L -> "c2", 4L -> "d"))
    // and an EARLIER-keyed delete never touches the re-insert; deleting
    // a dead key (2) is a no-op
    MergeInto.deleteFrom(spark, table, Seq(2L, 4L).toDF("k"), Seq("k"))
    val reconciled = state()
    assert(reconciled === Seq(1L -> "a", 3L -> "c2"))
    // fold: tombstones erased, one base segment, identical content
    MergeInto.compactMerged(spark, table) match {
      case AtomicPublish.CompactOutcome.Compacted(_) => ()
      case other => fail(s"fold did not commit: $other")
    }
    val after = AtomicPublish.currentSegments(spark, table)
    assert(after.size === 1)
    assert(AtomicPublish.upsertSidecarsFor(spark, table, after).isEmpty)
    assert(state() === reconciled, "fold changed the reconciled content")
  }

  test("deleteWhere: predicate delete binds to the observed snapshot; cow parity") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_del_where")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x").write.parquet(p))
    MergeInto.deleteWhere(spark, table, col("x") >= 20.0, Seq("k"))
    assert(AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0)).sorted.toSeq === Seq(1L))
    // cow mode: same semantics, single rewritten segment, no sidecars
    val cow = graft.engine.Scratch.dir("spec_del_cow")
    AtomicPublish.publish(spark, cow)(p =>
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(p))
    spark.conf.set(MergeInto.ModeKey, "cow")
    try MergeInto.deleteFrom(spark, cow, Seq(2L).toDF("k"), Seq("k"))
    finally spark.conf.unset(MergeInto.ModeKey)
    val segs = AtomicPublish.currentSegments(spark, cow)
    assert(segs.size === 1 &&
      AtomicPublish.upsertSidecarsFor(spark, cow, segs).isEmpty)
    assert(AtomicPublish.read(spark, cow).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("updateWhere: SET applies to matched rows, CDF sees update_postimage, zero-match commits nothing") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_upd_where")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 10.0, "x"), (2L, 20.0, "y"), (3L, 30.0, "z"))
        .toDF("k", "bal", "tag").write.parquet(p))
    val v0 = AtomicPublish.currentVersion(spark, table).get
    MergeInto.updateWhere(spark, table, col("bal") >= 20.0,
      Map("bal" -> (col("bal") + 1.0), "tag" -> lit("hit")), Seq("k"))
    assert(AtomicPublish.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
      .toSeq === Seq((1L, 10.0, "x"), (2L, 21.0, "hit"), (3L, 31.0, "hit")))
    // the change feed classifies the commit as postimages of live keys
    val v1 = AtomicPublish.currentVersion(spark, table).get
    val cdf = AtomicPublish.changesBetween(spark, table, v0, v1)
      .select($"k", $"_change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(cdf === Seq(2L -> "update_postimage", 3L -> "update_postimage"))
    // zero matches: no commit, no empty segment
    MergeInto.updateWhere(spark, table, col("bal") < 0.0,
      Map("tag" -> lit("never")), Seq("k"))
    assert(AtomicPublish.currentVersion(spark, table).contains(v1))
  }

  test("syncInto: one commit, CDF classifies update/insert/delete, null keys pass through") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_sync")
    AtomicPublish.publish(spark, table)(p =>
      Seq((Some(1L), "a", 10.0), (Some(2L), "b", 20.0),
          (Some(3L), "c", 30.0), (None, "nullk", 0.0))
        .toDF("k", "name", "bal").write.parquet(p))
    val v0 = AtomicPublish.currentVersion(spark, table).get
    // source: updates k=1, keeps k=2 (same row), inserts k=9; k=3 is
    // NOT matched by source → delete. The null-key row passes through.
    val source = Seq((Some(1L), "a2", 11.0), (Some(2L), "b", 20.0),
        (Some(9L), "new", 90.0)).toDF("k", "name", "bal")
    MergeInto.syncInto(spark, table, source, Seq("k"))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    assert(v1 === v0 + 1, "sync must be ONE commit (one manifest swap)")
    assert(AtomicPublish.read(spark, table).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1), r.getDouble(2)))
      .sortBy(_._1.getOrElse(-1L)).toSeq === Seq(
      (None, "nullk", 0.0), (Some(1L), "a2", 11.0), (Some(2L), "b", 20.0),
      (Some(9L), "new", 90.0)))
    // the change feed reads the multi-segment commit: postimages for
    // live matched keys, insert for the new key, delete for the stale
    val cdf = AtomicPublish.changesBetween(spark, table, v0, v1)
      .select($"k", $"_change_type", $"_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(cdf === Seq((1L, "update_postimage", v1),
      (2L, "update_postimage", v1), (3L, "delete", v1),
      (9L, "insert", v1)))
    // cow parity: same semantics, single rewritten segment
    val cow = graft.engine.Scratch.dir("spec_sync_cow")
    AtomicPublish.publish(spark, cow)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    spark.conf.set(MergeInto.ModeKey, "cow")
    try MergeInto.syncInto(spark, cow,
      Seq((2L, "b2"), (5L, "e")).toDF("k", "v"), Seq("k"))
    finally spark.conf.unset(MergeInto.ModeKey)
    val segs = AtomicPublish.currentSegments(spark, cow)
    assert(segs.size === 1 &&
      AtomicPublish.upsertSidecarsFor(spark, cow, segs).isEmpty)
    assert(AtomicPublish.read(spark, cow).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq ===
      Seq(2L -> "b2", 5L -> "e"))
  }

  test("cow-mode MERGE is not a fold: the change feed refuses across it, never silently empty") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_cow_cdf")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x").write.parquet(p))
    val v0 = AtomicPublish.currentVersion(spark, table).get
    spark.conf.set(MergeInto.ModeKey, "cow")
    try MergeInto.upsertInto(spark, table,
      Seq((2L, 99.0)).toDF("k", "x"), Seq("k"))
    finally spark.conf.unset(MergeInto.ModeKey)
    val v1 = AtomicPublish.currentVersion(spark, table).get
    // pre-round-16: the cow rewrite stamped a FOLD marker, so this
    // window diffed "through" the merge and emitted ZERO change rows
    // for a row that changed 20.0 → 99.0 — silent CDF corruption
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.changesBetween(spark, table, v0, v1).collect()
    }
    assert(e.getMessage.contains("rewrote history"))
    // a genuine fold (compaction) still diffs through: mor table
    val mor = graft.engine.Scratch.dir("spec_mor_fold_cdf")
    AtomicPublish.publish(spark, mor)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val w0 = AtomicPublish.currentVersion(spark, mor).get
    MergeInto.upsertInto(spark, mor, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    MergeInto.compactMerged(spark, mor)
    val w1 = AtomicPublish.currentVersion(spark, mor).get
    val rows = AtomicPublish.changesBetween(spark, mor, w0, w1)
      .select($"k", $"_change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows === Seq(2L -> "insert"))
  }

  test("replaceWhere: zone-disjoint segments stay in place, contract refusals, CDF refuses across") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_replace_where")
    // two range-disjoint clustered segments over k
    AtomicPublish.publish(spark, table)(p =>
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(p))
    AtomicPublish.optimizeTable(spark, table, Seq("k"), segments = 2)
    val before = AtomicPublish.currentSegments(spark, table)
    assert(before.size >= 2)
    val vPre = AtomicPublish.currentVersion(spark, table).get
    // replace the low range only: the high segment must stay in place
    val batch = Seq((10L, "r10"), (20L, "r20")).toDF("k", "v")
    MergeInto.replaceWhere(spark, table, col("k") <= 25L, batch)
    val after = AtomicPublish.currentSegments(spark, table)
    val kept = before.toSet.intersect(after.toSet)
    assert(kept.nonEmpty,
      s"no segment kept in place: before=$before after=$after")
    val got = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(got === (Seq(10L -> "r10", 20L -> "r20") ++
      (26L to 100L).map(k => k -> s"v$k")))
    // content changed: the change feed must refuse across the commit
    val vPost = AtomicPublish.currentVersion(spark, table).get
    val e0 = intercept[IllegalArgumentException] {
      AtomicPublish.changesBetween(spark, table, vPre, vPost).collect()
    }
    assert(e0.getMessage.contains("rewrote history"))
    // a batch row OUTSIDE the predicate is refused loudly
    val e1 = intercept[IllegalArgumentException] {
      MergeInto.replaceWhere(spark, table, col("k") <= 5L,
        Seq((99L, "stray")).toDF("k", "v"))
    }
    assert(e1.getMessage.contains("do NOT satisfy the predicate"))
    // schema drift refused
    val e2 = intercept[IllegalArgumentException] {
      MergeInto.replaceWhere(spark, table, col("k") <= 5L,
        Seq((1L, "x", 0.0)).toDF("k", "v", "extra"))
    }
    assert(e2.getMessage.contains("must match the table"))
  }

  test("replaceWhere: zones prove nothing matches → batch appends without a rewrite") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_replace_append")
    AtomicPublish.publish(spark, table)(p =>
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(p))
    // the base segment's zones cover k ∈ [1,50]; replacing k > 1000
    // deletes nothing — the batch must land as a plain append (the
    // base segment dir survives verbatim)
    val before = AtomicPublish.currentSegments(spark, table)
    MergeInto.replaceWhere(spark, table, col("k") > 1000L,
      Seq((2000L, "new")).toDF("k", "v"))
    val after = AtomicPublish.currentSegments(spark, table)
    assert(after.take(before.length) === before,
      s"disjoint replace rewrote the base: before=$before after=$after")
    assert(AtomicPublish.read(spark, table).count() === 51L)
  }

  test("syncInto: a failed staging write publishes nothing and leaves no debris") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_sync_fail")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val v0 = AtomicPublish.currentVersion(spark, table).get
    // a source whose write blows up mid-staging: the delete part never
    // stages, the upsert part's staging dir must be reclaimed
    val bad = Seq((2L, "b")).toDF("k", "v")
      .withColumn("v", org.apache.spark.sql.functions.raise_error(lit("boom")))
    intercept[Exception] {
      MergeInto.syncInto(spark, table, bad, Seq("k"))
    }
    assert(AtomicPublish.currentVersion(spark, table).contains(v0))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName).filter(_.startsWith(".seg-"))
    assert(debris.isEmpty, s"staging debris left behind: ${debris.toSeq}")
    assert(AtomicPublish.read(spark, table).collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("updateWhere contract: unknown column, merge key, empty SET all refused") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_upd_contract")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, 1.0)).toDF("k", "bal").write.parquet(p))
    val e1 = intercept[IllegalArgumentException] {
      MergeInto.updateWhere(spark, table, lit(true),
        Map("nope" -> lit(0.0)), Seq("k"))
    }
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[IllegalArgumentException] {
      MergeInto.updateWhere(spark, table, lit(true),
        Map("k" -> lit(9L)), Seq("k"))
    }
    assert(e2.getMessage.contains("merge key"))
    val e3 = intercept[IllegalArgumentException] {
      MergeInto.updateWhere(spark, table, lit(true), Map.empty, Seq("k"))
    }
    assert(e3.getMessage.contains("empty SET"))
  }

  test("delete contract: non-key columns refused, key agreement enforced, tail refuses") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_del_contract")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    // a tombstone carrying data columns is a mis-projected source
    val e1 = intercept[IllegalArgumentException] {
      AtomicPublish.appendDeleteSegment(spark, table, Seq("k")) { p =>
        Seq((1L, "a")).toDF("k", "v").write.parquet(p)
      }
    }
    assert(e1.getMessage.contains("non-key column"), e1.getMessage)
    // key agreement across PENDING upsert and delete segments
    MergeInto.upsertInto(spark, table, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    val e2 = intercept[IllegalArgumentException] {
      MergeInto.deleteFrom(spark, table, Seq("a").toDF("v"), Seq("v"))
    }
    assert(e2.getMessage.contains("fold the table first"), e2.getMessage)
    // the streaming tail refuses tombstones in the tailed range like
    // upserts: a delete is a retraction, not an append
    MergeInto.deleteFrom(spark, table, Seq(1L).toDF("k"), Seq("k"))
    val tail = spark.readStream.format("graft-stream").load(table)
    val q = tail.writeStream.format("memory")
      .queryName("spec_del_tail").option("checkpointLocation",
        graft.engine.Scratch.dir("spec_del_tail_ckpt")).start()
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e3).exists(_.contains("appends only")), msgs(e3).mkString("|"))
  }

  // ------------------------------------------------------------------
  // Bloom sidecars (point-lookup segment pruning)
  // ------------------------------------------------------------------

  test("bloom sidecars: harvest/probe round-trip, conservative keeps, results exact") {
    import spark.implicits._
    import graft.ops.BloomMaps
    val table = graft.engine.Scratch.dir("spec_bloom")
    spark.conf.set(BloomMaps.BloomColsKey, "k,name")
    try {
      AtomicPublish.publish(spark, table)(p =>
        (1L to 100L).map(i => (i, s"n$i")).toDF("k", "name").write.parquet(p))
      AtomicPublish.appendSegment(spark, table)(p =>
        (1000L to 1100L).map(i => (i, s"n$i")).toDF("k", "name").write.parquet(p))
    } finally spark.conf.unset(BloomMaps.BloomColsKey)
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size === 2)
    // round-trip: both columns stamped with the right domains, and the
    // LONG and STRING probes agree with ground truth (no false
    // negatives by construction; these keys happen to not false-posit)
    val b0 = BloomMaps.read(fs, root, segs.head)
    val b1 = BloomMaps.read(fs, root, segs(1))
    assert(b0.keySet === Set("k", "name") && b1.keySet === Set("k", "name"))
    assert(b0("k").filter.mightContainLong(42L))
    assert(b1("k").filter.mightContainLong(1042L))
    assert(!b1("k").filter.mightContainLong(42L),
      "42 must be provably absent from the 1000-1100 segment")
    assert(b0("name").filter.mightContainString("n42"))
    assert(!b0("name").filter.mightContainString("n1042"))
    // the SQL door prunes the non-matching segment but results stay
    // exact (hash-graded at key level too — scan_bloom_pruned)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW spec_bloom_v
                  USING graft OPTIONS (path '$table')""")
    assert(spark.sql("SELECT name FROM spec_bloom_v WHERE k = 1042")
      .collect().map(_.getString(0)).toSeq === Seq("n1042"))
    assert(spark.sql("SELECT name FROM spec_bloom_v WHERE k IN (2, 1041)")
      .collect().map(_.getString(0)).sorted.toSeq === Seq("n1041", "n2"))
    // conservative: a segment committed WITHOUT bloom conf has no
    // sidecar and is always kept
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((5000L, "n5000")).toDF("k", "name").write.parquet(p))
    val segs3 = AtomicPublish.currentSegments(spark, table)
    assert(BloomMaps.read(fs, root, segs3.last).isEmpty)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW spec_bloom_v
                  USING graft OPTIONS (path '$table')""")
    assert(spark.sql("SELECT name FROM spec_bloom_v WHERE k = 5000")
      .collect().map(_.getString(0)).toSeq === Seq("n5000"))
  }

  // ------------------------------------------------------------------
  // Change data feed
  // ------------------------------------------------------------------

  test("changesBetween: insert/update/delete classified along the liveness chain") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_cdf")
    // v1 base
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    // v2 plain append (k=3 new, k=2 duplicate — appends are ALWAYS inserts)
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((3L, "c"), (2L, "b_dup")).toDF("k", "v").write.parquet(p))
    // v3 upsert: k=2 update (live at v1), k=9 insert (never seen)
    MergeInto.upsertInto(spark, table,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "v"), Seq("k"))
    // v4 delete: k=1 live → delete record; k=77 dead → nothing
    MergeInto.deleteFrom(spark, table, Seq(1L, 77L).toDF("k"), Seq("k"))
    // v5 upsert of a key deleted IN the window: insert, not update
    MergeInto.upsertInto(spark, table, Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    val v5 = AtomicPublish.currentVersion(spark, table).get
    assert(v5 === v1 + 4)
    val feed = AtomicPublish.changesBetween(spark, table, v1, v5)
      .collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("v")),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .sortBy(t => (t._4, t._1, t._2.getOrElse("")))
      .toSeq
    assert(feed === Seq(
      (2L, Some("b_dup"), "insert", v1 + 1),
      (3L, Some("c"), "insert", v1 + 1),
      (2L, Some("b2"), "update_postimage", v1 + 2),
      (9L, Some("i"), "insert", v1 + 2),
      (1L, None, "delete", v1 + 3),
      (1L, Some("a2"), "insert", v1 + 4)), s"got: $feed")
    // applying the feed to the v1 snapshot reproduces the v5 snapshot
    // (the consumer contract): upserts/deletes keyed, inserts appended
    val replayed = feed.foldLeft(
      AtomicPublish.readAt(spark, table, v1).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toVector) {
      case (acc, (k, v, "insert", _)) => acc :+ (k -> v)
      case (acc, (k, v, "update_postimage", _)) =>
        acc.filterNot(_._1 == k) :+ (k -> v)
      case (acc, (k, _, "delete", _)) => acc.filterNot(_._1 == k)
      case (acc, _) => acc
    }.sortBy(t => (t._1, t._2.getOrElse("")))
    val now = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toVector
      .sortBy(t => (t._1, t._2.getOrElse("")))
    assert(replayed === now, s"feed replay diverged: $replayed vs $now")
  }

  test("changesBetween: append-only windows skip the snapshot scan; compaction is loud") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_cdf_bounds")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    val v2 = AtomicPublish.currentVersion(spark, table).get
    val feed = AtomicPublish.changesBetween(spark, table, v1, v2)
    // pure-append fast path: no join, no window exchange in the plan
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"append-only feed must not scan/join the snapshot:\n$plan")
    assert(feed.collect().map(r => (r.getLong(0),
      r.getAs[String]("_change_type"))).toSeq === Seq((2L, "insert")))
    // compaction inside the window is a FOLD — content-preserving,
    // declared in the version log — and the feed diffs THROUGH it:
    // the fold itself emits zero rows, the real commits around it keep
    // their classifications and versions
    MergeInto.upsertInto(spark, table, Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    val vUp = AtomicPublish.currentVersion(spark, table).get
    MergeInto.compactMerged(spark, table)
    val vFold = AtomicPublish.currentVersion(spark, table).get
    assert(vFold === vUp + 1)
    assert(AtomicPublish.isFoldVersion(spark, table, vFold),
      "compactMerged must declare its commit a fold")
    def typed(from: Long, to: Long) =
      AtomicPublish.changesBetween(spark, table, from, to).collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("v")),
          r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
        .sortBy(t => (t._4, t._1)).toSeq
    assert(typed(v1, vFold) === Seq(
      (2L, Some("b"), "insert", v2),
      (1L, Some("a2"), "update_postimage", vUp)), s"got ${typed(v1, vFold)}")
    // a window holding ONLY the fold: zero changes, correctly typed
    val onlyFold = AtomicPublish.changesBetween(spark, table, vUp, vFold)
    assert(onlyFold.count() === 0L)
    assert(onlyFold.schema.fieldNames.toSeq ===
      Seq("k", "v", "_change_type", "_commit_version"))
    // commits AFTER the fold join the same feed (pre-fold + fold +
    // post-fold in one window) and replaying it converges on the
    // current snapshot — the lagging-consumer contract
    MergeInto.deleteFrom(spark, table, Seq(2L).toDF("k"), Seq("k"))
    val vDel = AtomicPublish.currentVersion(spark, table).get
    assert(typed(v1, vDel) === Seq(
      (2L, Some("b"), "insert", v2),
      (1L, Some("a2"), "update_postimage", vUp),
      (2L, None, "delete", vDel)), s"got ${typed(v1, vDel)}")
    val replayed = typed(v1, vDel).foldLeft(
      AtomicPublish.readAt(spark, table, v1).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toVector) {
      case (acc, (k, v, "insert", _)) => acc :+ (k -> v)
      case (acc, (k, v, "update_postimage", _)) =>
        acc.filterNot(_._1 == k) :+ (k -> v)
      case (acc, (k, _, "delete", _)) => acc.filterNot(_._1 == k)
      case (acc, _) => acc
    }.sortBy(_._1)
    val now = AtomicPublish.read(spark, table).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toVector.sortBy(_._1)
    assert(replayed === now, s"through-fold replay diverged: $replayed vs $now")
  }

  // -----------------------------------------------------------------
  // Segment descriptors and the uniform-schema read path
  // -----------------------------------------------------------------

  /** File indexes of every parquet relation in `df`'s analyzed plan. */
  private def fileIndexes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.location
    }

  /** Does `df` scan `n` segments through ONE zone-pruning file index? */
  private def onePrunedScanOver(df: org.apache.spark.sql.DataFrame, n: Int) =
    fileIndexes(df).exists {
      case g: graft.sources.GraftZonePruningFileIndex => g.rootPaths.size == n
      case _ => false
    }

  private def kv(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq

  test("merge-on-read: a withWatermark upsert batch keeps the single pruned " +
      "multi-segment scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val table = graft.engine.Scratch.dir("spec_mor_watermark")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a", t0), (2L, "b", t0), (3L, "c", t0))
        .toDF("k", "v", "ts").write.parquet(p))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = input.toDF().toDF("k", "v", "ts")
      .withWatermark("ts", "10 minutes")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          MergeInto.upsertInto(spark, table, batch, Seq("k")); ()
      }.start()
    try {
      input.addData((2L, "b2", t0), (9L, "new", t0))
      q.processAllAvailable()
    } finally q.stop()
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size === 2, s"expected base + one upsert segment: $segs")
    // the premise: the streamed segment's footer carries the watermark
    // metadata on `ts`, the base segment's does not
    val upTs = AtomicPublish.segmentSchemaFromFooter(spark,
      s"$table/${segs(1)}").get("ts")
    assert(upTs.metadata.contains("spark.watermarkDelayMs"), upTs.toString)
    val read = AtomicPublish.read(spark, table)
    assert(onePrunedScanOver(read, 2),
      s"data segments must share one pruned scan:\n${read.queryExecution.analyzed}")
    assert(kv(read) === Seq(1L -> "a", 2L -> "b2", 3L -> "c", 9L -> "new"))
  }

  test("merge-on-read: a VARCHAR segment beside a STRING segment still reads " +
      "per segment") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_mor_varchar")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    val varchar = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("__CHAR_VARCHAR_TYPE_STRING", "varchar(8)").build()
    MergeInto.upsertInto(spark, table, Seq((2L, "b2"), (5L, "e")).toDF("k", "v")
      .select(col("k"), col("v").as("v", varchar)), Seq("k"))
    val segs = AtomicPublish.currentSegments(spark, table)
    val upV = AtomicPublish.segmentSchemaFromFooter(spark,
      s"$table/${segs(1)}").get("v")
    assert(upV.metadata.contains("__CHAR_VARCHAR_TYPE_STRING"), upV.toString)
    val read = AtomicPublish.read(spark, table)
    assert(!onePrunedScanOver(read, 2),
      s"a CHAR/VARCHAR difference must keep the per-segment path:\n" +
        read.queryExecution.analyzed)
    assert(kv(read) === Seq(1L -> "a", 2L -> "b2", 5L -> "e"))
  }

  test("segment descriptors, warm cache: readAt of a GC'd version still throws") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_desc_gc")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    MergeInto.upsertInto(spark, table, Seq((2L, "b2")).toDF("k", "v"), Seq("k"))
    // warm every descriptor of both versions
    assert(kv(AtomicPublish.readAt(spark, table, v1)) === Seq(1L -> "a", 2L -> "b"))
    assert(kv(AtomicPublish.read(spark, table)) === Seq(1L -> "a", 2L -> "b2"))
    spark.conf.set(AtomicPublish.RetentionMsKey, "0")
    try {
      MergeInto.compactMerged(spark, table) match {
        case AtomicPublish.CompactOutcome.Compacted(_) => ()
        case other => fail(s"fold did not commit: $other")
      }
    } finally spark.conf.unset(AtomicPublish.RetentionMsKey)
    val e = intercept[IllegalStateException](AtomicPublish.readAt(spark, table, v1))
    assert(e.getMessage.contains("time travel"), e.getMessage)
    assert(kv(AtomicPublish.read(spark, table)) === Seq(1L -> "a", 2L -> "b2"))
  }

  test("segment descriptors, warm cache: restoreTable then read returns the " +
      "restored rows") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_desc_restore")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    val v1 = AtomicPublish.currentVersion(spark, table).get
    MergeInto.upsertInto(spark, table,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    MergeInto.deleteFrom(spark, table, Seq(1L).toDF("k"), Seq("k"))
    val v3 = AtomicPublish.currentVersion(spark, table).get
    assert(kv(AtomicPublish.read(spark, table)) === Seq(2L -> "b2", 3L -> "c"))
    assert(kv(AtomicPublish.readAt(spark, table, v1)) === Seq(1L -> "a", 2L -> "b"))
    AtomicPublish.restoreTable(spark, table, v1)
    assert(kv(AtomicPublish.read(spark, table)) === Seq(1L -> "a", 2L -> "b"))
    assert(AtomicPublish.upsertSidecarsFor(spark, table,
      AtomicPublish.currentSegments(spark, table)).isEmpty)
    // the superseded merge-on-read version still reconciles
    assert(kv(AtomicPublish.readAt(spark, table, v3)) === Seq(2L -> "b2", 3L -> "c"))
  }

  test("segment descriptors, warm cache: schema-evolving upserts are admitted " +
      "or refused exactly as before") {
    import spark.implicits._
    val table = graft.engine.Scratch.dir("spec_desc_evolve")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    MergeInto.upsertInto(spark, table, Seq((2L, "b2")).toDF("k", "v"), Seq("k"))
    assert(kv(AtomicPublish.read(spark, table)) === Seq(1L -> "a", 2L -> "b2"))
    val before = AtomicPublish.currentSegments(spark, table)
    // a new column without the conf: refused, nothing committed
    val eAdd = intercept[IllegalArgumentException] {
      MergeInto.upsertInto(spark, table,
        Seq((3L, "c", 7L)).toDF("k", "v", "extra"), Seq("k"))
    }
    assert(eAdd.getMessage.contains(MergeInto.AllowEvolutionKey), eAdd.getMessage)
    assert(AtomicPublish.currentSegments(spark, table) === before)
    // with the conf: admitted, older rows read NULL there
    spark.conf.set(MergeInto.AllowEvolutionKey, "true")
    try MergeInto.upsertInto(spark, table,
      Seq((3L, "c", 7L)).toDF("k", "v", "extra"), Seq("k"))
    finally spark.conf.unset(MergeInto.AllowEvolutionKey)
    val rows = AtomicPublish.read(spark, table).select(col("k"), col("extra"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).sortBy(_._1).toSeq
    assert(rows === Seq(1L -> None, 2L -> None, 3L -> Some(7L)), rows.toString)
    // the evolved column is now part of the table: a batch without it
    // is refused as a dropped column
    val eDrop = intercept[IllegalArgumentException] {
      MergeInto.upsertInto(spark, table, Seq((4L, "d")).toDF("k", "v"), Seq("k"))
    }
    assert(eDrop.getMessage.contains("MISSING existing column"), eDrop.getMessage)
  }

  test("segment descriptors: a second read of an unchanged N-segment table " +
      "opens no parquet footer and no sidecar") {
    import spark.implicits._
    CountingFileSystem.install(spark)
    val local = graft.engine.Scratch.dir("spec_desc_counting")
    spark.conf.set(graft.ops.BloomMaps.BloomColsKey, "k")
    try {
      AtomicPublish.publish(spark, local)(p =>
        (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(p))
      MergeInto.upsertInto(spark, local,
        Seq((2L, "x2"), (50L, "x50")).toDF("k", "v"), Seq("k"))
      MergeInto.upsertInto(spark, local,
        Seq((3L, "y3"), (60L, "y60")).toDF("k", "v"), Seq("k"))
      MergeInto.deleteFrom(spark, local, Seq(4L).toDF("k"), Seq("k"))
    } finally spark.conf.unset(graft.ops.BloomMaps.BloomColsKey)
    val table = CountingFileSystem.uri(local)
    assert(AtomicPublish.currentSegments(spark, table).size === 4)
    val expected = kv(AtomicPublish.read(spark, local))
    AtomicPublish.read(spark, table) // cold: the descriptors load
    CountingFileSystem.reset()
    val again = AtomicPublish.read(spark, table)
    val footers = CountingFileSystem.opens(_.endsWith(".parquet"))
    val sidecars = CountingFileSystem.opens(_.startsWith("_graft_"))
    val manifests = CountingFileSystem.opens(_ == "MANIFEST")
    assert(footers === 0L, "a warm read re-opened parquet footers")
    assert(sidecars === 0L, "a warm read re-opened segment sidecars")
    assert(manifests === 1L, "the manifest is read once per read")
    assert(kv(again) === expected)
  }
}
