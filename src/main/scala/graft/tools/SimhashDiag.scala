package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic for the dedup_simhash scale tail: true pair volume,
  * fingerprint distinctness, and the join's pre-dedup multiplicity
  * (how many block combinations each emitted pair collides on) —
  * separates collision-bound from output-bound regimes.
  */
object SimhashDiag {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/target/scratch/sf10"
    val blocks = if (args.length > 1) args(1).toInt else 0
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_DIAG_PARTS", "32").toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // mode "adaptive" / "uniform:<n>": time the FULL adaptive planner
    // (sampled occupancy + derived-or-conf oversplit + local engine) —
    // the A/B harness for the occupancy-derived oversplit. "adaptive"
    // runs the graded dup-dense corpus at `dir`; "uniform:<n>" runs a
    // DECORRELATED corpus (xxhash64 fingerprints — near-uniform bucket
    // occupancy, the regime where a fixed 4x oversplit only pays task
    // tax). SPARK_GRAFT_DIAG_OVERSPLIT pins the conf for the fixed leg;
    // unset = the derived path.
    if (args.length > 2 &&
        (args(2) == "adaptive" || args(2).startsWith("uniform"))) {
      sys.env.get("SPARK_GRAFT_DIAG_OVERSPLIT").foreach(v =>
        spark.conf.set(graft.engine.GraftConf.HammingOversplit.key, v))
      require(args(2) == "adaptive" || args(2).matches("uniform:\\d+"),
        s"mode `${args(2)}`: use `adaptive` or `uniform:<rowCount>`")
      val raw =
        if (args(2) == "adaptive")
          graft.engine.Tables(spark, dir, "documents")
            .select($"doc_id",
              graft.engine.GraftFunctions.simhash64(spark, split($"text", " ")).as("fp"))
        else
          spark.range(args(2).split(":")(1).toLong)
            .select($"id".as("doc_id"), xxhash64($"id").as("fp"))
      val n = raw.count()
      // report the pick the planner will (re-)derive: conf value, or a
      // recomputation of the deterministic derivation (one extra ~2 s
      // sampling pass — diag-only)
      val pick = spark.conf.getOption(graft.engine.GraftConf.HammingOversplit.key)
        .getOrElse {
          val k = graft.ops.HammingJoin.provisionBlocks(n, 6, pairsPerDoc = 11.3)
          val occ = graft.ops.HammingJoin.sampleOccupancy(
            raw, "doc_id", "fp", 6, k, n = n)
          "derived:" + graft.ops.HammingJoin.deriveOversplit(
            occ.topMasses, occ.tailMass,
            spark.sessionState.conf.numShufflePartitions,
            graft.ops.HammingJoin.indexRowsFor(n, 6, k))
        }
      val s0 = try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/stat")).linesIterator
          .find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
        catch { case _: Throwable => -1L }
      val t0 = System.nanoTime()
      val c = graft.ops.HammingJoin
        .pairsWithinAdaptive(spark, raw, "doc_id", "fp", 6, n, 11.3).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/stat")).linesIterator
          .find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
        catch { case _: Throwable => -1L }
      println(f"adaptive mode=${args(2)} n=$n pairs=$c " +
        s"oversplit=$pick " +
        f"t=$wall%.1f s steal=${if (s0 < 0) -1 else s1 - s0}")
      spark.stop(); return
    }
    val fp = graft.engine.Tables(spark, dir, "documents")
      .select($"doc_id",
        graft.engine.GraftFunctions.simhash64(spark, split($"text", " ")).as("fp"))
      .cache()
    val g = fp.groupBy("fp").agg(count(lit(1)).as("cnt")).cache()
    val Seq(nd, withinPairs, maxCnt) = g
      .agg(count(lit(1)), sum($"cnt" * ($"cnt" - 1) / 2), max($"cnt"))
      .collect()(0).toSeq.map(v => v.toString.toDouble.toLong)
    println(s"docs=${fp.count()} distinct_fp=$nd " +
      s"within_group_pairs=$withinPairs max_group=$maxCnt")
    // mode "stages": time the ADAPTIVE path's stages separately (fp
    // compute, sampled stats, join) to see where the graded wall goes.
    if (args.length > 2 && args(2) == "stages") {
      val raw = graft.engine.Tables(spark, dir, "documents")
        .select($"doc_id",
          graft.engine.GraftFunctions.simhash64(spark, split($"text", " ")).as("fp"))
      def t[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"stage $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
      }
      val n = t("fp_scan_count")(raw.count())
      val k = graft.ops.HammingJoin.provisionBlocks(n, 6, pairsPerDoc = 11.3)
      val (est, hot) = t("sampled_stats")(
        graft.ops.HammingJoin.estimateProducts(raw, "doc_id", "fp", 6, k, n = n))
      println(f"stage estimate: products=$est%.3g hottest=$hot%.3g (k=$k)")
      t("local_join")(
        graft.ops.HammingJoin.pairsWithinLocal(raw, "doc_id", "fp", 6, k).count())
      spark.stop(); return
    }
    // blocks < -1: bucket-skew probe for |blocks| blocks — Σ cnt² per
    // band vs the uniform model, top buckets.
    if (blocks < -1) {
      val st = graft.ops.HammingJoin.bucketStats(fp, "fp", 6, -blocks).cache()
      val tot = st.agg(sum($"cnt" * $"cnt"), count(lit(1))).collect()(0)
      println(s"sum_cnt2=${tot.get(0)} n_buckets=${tot.get(1)}")
      st.groupBy(floor(log2($"cnt")).as("log2cnt"))
        .agg(count(lit(1)).as("buckets"), sum($"cnt" * $"cnt").as("cnt2"),
          sum($"cnt").as("rows"))
        .orderBy($"log2cnt").show(40, false)
    }
    // blocks < 0: distinct-ratio probe only (the collapse-planner input) —
    // skip the join, which at sf100 is exactly the regime under study.
    if (blocks >= 0) {
      val mode = if (args.length > 2) args(2) else "local"
      val t0 = System.nanoTime()
      val pairs =
        if (mode == "rel")
          graft.ops.HammingJoin.pairsWithin(fp, "doc_id", "fp", 6, blocks)
        else
          graft.ops.HammingJoin.pairsWithinLocal(fp, "doc_id", "fp", 6, blocks)
      println(s"pairs_within_6=${pairs.count()} (blocks=$blocks mode=$mode) " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
