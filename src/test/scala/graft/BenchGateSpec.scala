package graft

/** The bench artifact's validity gate and the pinned-materialize map's
  * staleness check — both protect the PERFORMANCE EVIDENCE, not the
  * results: a contaminated capture graded as a regression wastes a
  * round chasing environment noise, and a stale materialize pin
  * silently reverts a count()-eliminated key to hollow timing (the
  * exact failure the round-11 probe was added to prevent).
  */
class BenchGateSpec extends SparkSpec {

  test("invalid-capture gate: sibling JVMs and steal rate stamp the artifact invalid") {
    // a sibling JVM alive at start invalidates wall-clock timings
    assert(Bench.invalidReason(1, 0L, 100.0).exists(_.contains("sibling")))
    // steal above the documented ceiling (6 jiffies/s of wall — storms
    // measure 30-117/s, healthy boards 0.4-3/s) invalidates
    assert(Bench.invalidReason(0, 1000L, 100.0).exists(_.contains("steal")))
    // a healthy board passes (r13 quiet capture measured 2.9 jiffies/s
    // of wall with headliners at the quiet anchor)
    assert(Bench.invalidReason(0, 300L, 100.0).isEmpty)
    // probe-unavailable sentinels (-1) must not false-positive
    assert(Bench.invalidReason(-1, 0L, 100.0).isEmpty)
    assert(Bench.invalidReason(0, -1L, 100.0).isEmpty)
  }

  test("pinned materialize verdicts match the live count-elimination probe") {
    // Each pinned key skips the bench's runtime probe (eager builders
    // would run their whole pipeline once extra and pre-warm memoized
    // fits); this RE-DERIVES every verdict from the key's live plans
    // and fails when a pin has gone stale — e.g. a query edit that
    // makes a pinned-false key count()-eliminated would otherwise
    // silently hand the bench a hollow plan to time.
    val qs = SparkEntry.queries
    Bench.pinnedMaterialize.foreach { case (key, pinned) =>
      assert(qs.contains(key), s"pinned key $key no longer registered")
      val live = Bench.countEliminationProbe(qs(key)(spark, sfDir))
      assert(live === pinned,
        s"stale materialize pin for $key: pinned=$pinned but the live " +
          s"count() plan ${if (live) "DOES" else "does NOT"} eliminate a leaf scan")
    }
  }

  test("a run's counters are exact, attributed to its job label, and its own") {
    val counters = new Bench.Counters
    spark.sparkContext.addSparkListener(counters)
    try {
      // one job of two stages: 4 map tasks write a shuffle, 4 reduce tasks
      val first = Bench.oneRun(spark, counters) {
        graft.engine.JobLabel(spark, "spec: shuffle") {
          spark.sparkContext.parallelize(1 to 8, 4).map(i => (i % 2, i))
            .reduceByKey(_ + _).count()
        }; ()
      }
      assert(first.sec.isRight)
      val w = first.work
      assert((w.jobs, w.stages, w.tasks) === ((1L, 2L, 8L)))
      assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0)
      assert(w.byLabel.keySet === Set("spec: shuffle"))
      assert(w.byLabel("spec: shuffle")._1 === 1L)
      assert(w.byLabel("spec: shuffle")._2 === w.taskMs)
      // the next run sees only its own unlabelled one-stage job
      val second = Bench.oneRun(spark, counters) {
        spark.sparkContext.parallelize(1 to 4, 2).count(); ()
      }
      val v = second.work
      assert((v.jobs, v.stages, v.tasks) === ((1L, 1L, 2L)))
      assert(v.byLabel.isEmpty && v.shuffleWriteBytes === 0L)
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("a key that throws records its reason and the board goes on") {
    val counters = new Bench.Counters
    spark.sparkContext.addSparkListener(counters)
    try {
      val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame)] = Seq(
        "a_throws" -> ((_, _) => throw new IllegalStateException("no table\nat line 2")),
        "b_counts" -> ((s, _) => s.range(10).toDF()))
      val (timed, failed) = Bench.board(spark, counters, sfDir, queries,
        iters = 2, extraN = 0)
      assert(failed === Vector("a_throws" -> "java.lang.IllegalStateException: no table"))
      assert(timed.map(_.key) === Vector("b_counts"))
      assert(timed.head.work.jobs >= 1L && !timed.head.materialize)
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
