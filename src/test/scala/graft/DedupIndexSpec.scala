package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{GraftConf, GraftFunctions, JobLabel, Tables}
import graft.ops.{AnnSearch, AtomicPublish, DedupIndex, MinHashDedup, SemDedup}

/** The persisted incremental-dedup index: outputs bit-identical to the
  * recompute paths, reuse without rebuild, staleness-driven rebuild,
  * no-refit model loads, and exchange-free daily plans.
  */
class DedupIndexSpec extends SparkSpec {

  private def tmpTable(tag: String): String = {
    val d = java.nio.file.Paths.get("target/scratch/test-dedupindex")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.createTempDirectory(d, tag).toString
  }

  private def docs = Tables(spark, sfDir, "documents")
  private def emb = Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  test("indexed minhash daily candidates equal the recompute path exactly") {
    val batch = docs.filter(col("doc_id") < 100)
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("mh")
    DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 8)
    spark.catalog.clearCache()
    val daily = DedupIndex.dailyMinHashCandidates(spark, table, batch,
      _ => docs)
    val recompute = MinHashDedup.incrementalCandidates(
      corpus, batch, "doc_id", "text", carry = Seq("text"))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val d = toSet(daily)
    assert(cacheManagerEmpty, "the daily candidates left a cached plan behind")
    val r = toSet(recompute)
    assert(r.nonEmpty, "graded corpus has no incremental candidate — vacuous")
    assert(d === r, s"extra: ${d.diff(r).take(3)}; missing: ${r.diff(d).take(3)}")
  }

  test("indexed minhash: daily plan has no shuffle exchange, in both text-fetch modes") {
    val batch = docs.filter(col("doc_id") < 100)
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("mhplan")
    DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 8)
    def run() = DedupIndex.dailyMinHashCandidates(spark, table, batch, _ => docs)
    val pushdown = run()
    assert(!pushdown.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      s"pushdown-mode daily plan shuffles:\n${pushdown.queryExecution.executedPlan}")
    val pRows = pushdown.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // force the over-cap fallback (broadcast semi over full scan)
    spark.conf.set(GraftConf.MaxPushdownIds.key, "0")
    try {
      val fallback = run()
      assert(!fallback.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        s"fallback-mode daily plan shuffles:\n${fallback.queryExecution.executedPlan}")
      assert(fallback.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === pRows)
    } finally spark.conf.unset(GraftConf.MaxPushdownIds.key)
  }

  test("indexed semantic daily pairs equal incrementalPairs exactly; plan exchange-free") {
    val batch = emb.filter(col("vec_id") < 100)
    val corpus = emb.filter(col("vec_id") >= 100)
    val n = corpus.count()
    val table = tmpTable("sem")
    DedupIndex.ensureSemanticIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=100", "vec_id", "e",
      dim = 64, corpusSize = n)
    spark.catalog.clearCache()
    val daily = DedupIndex.dailySemanticPairs(spark, table, batch,
      "vec_id", "e", minCosine = 0.45)
    assert(!daily.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      s"semantic daily plan shuffles:\n${daily.queryExecution.executedPlan}")
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = toSet(daily)
    assert(cacheManagerEmpty, "the daily pairs left a cached plan behind")
    val recompute = SemDedup.incrementalPairs(spark, corpus, batch,
      "vec_id", "e", minCosine = 0.45, dim = 64, corpusSize = n)
    val r = toSet(recompute)
    assert(r.nonEmpty, "graded corpus has no incremental semantic dup — vacuous")
    assert(d === r, s"extra: ${d.diff(r).take(3)}; missing: ${r.diff(d).take(3)}")
  }

  test("loaded quantizer model is bit-identical to the fitted one (no refit needed)") {
    val corpus = emb.filter(col("vec_id") >= 100)
    val n = corpus.count()
    val table = tmpTable("model")
    DedupIndex.ensureSemanticIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=100", "vec_id", "e",
      dim = 64, corpusSize = n)
    val loaded = DedupIndex.loadModel(spark, table)
    val k = SemDedup.cellCount(spark, n)
    val fitted = SemDedup.fit(spark, corpus, "vec_id", "e", k, 64, n)
    assert(loaded.k === fitted.k)
    assert(loaded.dim === fitted.dim)
    assert(java.util.Arrays.equals(loaded.cents, fitted.cents),
      "persisted centroids differ from a fresh deterministic fit")
  }

  /** One IVF index over the whole fixture, shared by the IVF query
    * specs (the fit is memoized per source stamp; the publish is not). */
  private lazy val ivfAll: String = {
    val t = tmpTable("ivf")
    DedupIndex.ensureIvfIndex(spark, t, emb,
      s"$sfDir/embeddings.parquet", "all", "vec_id", "e")
    t
  }

  /** (q_id, rank, neighbor_id, sim bits) in rank order — sim compared
    * bit for bit, a null sim as None. */
  private def exactRows(df: DataFrame): Seq[(Long, Int, Long, Option[Long])] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(3)))))
      .sortBy(t => (t._1, t._2)).toSeq

  /** The rank-window plan over a published IVF index: probe cells from
    * the shared expressions, broadcast cell join against every
    * segment's `assign/`, codegen cosine, `row_number` per query. The
    * pin for inputs `ivfTopK` cannot express — queries outside the
    * corpus, null and zero vectors, appended segments. */
  private def rankWindowTopK(table: String, queries: DataFrame,
                             k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = AtomicPublish.currentDataDir(spark, table).get
    val cents = spark.read.parquet(s"$table/$base/model").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val q = AnnSearch.probeCellsForQueries(
      queries.select(col("vec_id").as("q_id"), col("e").as("qe")), cents, nprobe)
    val idx = spark.read.parquet(AtomicPublish.currentSegments(spark, table)
      .map(d => s"$table/$d/assign"): _*)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    idx.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .withColumn("sim", GraftFunctions.cosineSim(spark, col("qe"), col("e")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id").as("neighbor_id"), col("sim"))
  }

  /** A query frame held on the driver (a `LocalRelation`). */
  private def localQueries(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("e", ArrayType(DoubleType)))))

  /** The descriptions of the Spark jobs `f` launches. Two sentinel jobs
    * bracket `f`: listener events arrive in order, so once the closing
    * sentinel is seen every job of `f` has been seen. */
  private def jobsOf[A](f: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    def sentinel(tag: String): Unit = JobLabel(spark, tag) {
      spark.sparkContext.parallelize(Seq(1), 1).count(); ()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel("spec:begin")
      val a = f
      sentinel("spec:end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("spec:end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      (a, seen.asScala.toSeq.dropWhile(_ != "spec:begin").drop(1)
        .takeWhile(_ != "spec:end"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("indexed IVF top-k equals ivfTopK exactly, sim bits included, at nprobe 1, 4 and nlist") {
    val queries = emb.filter(col("vec_id") < 20)
    def recompute(k: Int, nprobe: Int) = AnnSearch.ivfTopK(spark, emb,
      "vec_id", "e", col("id") < 20, k = k, nprobe = nprobe,
      cacheKey = Some("spec:ivf-exact"))
    Seq(1, 4, 16).foreach { nprobe =>
      val got = DedupIndex.ivfTopKIndexed(spark, ivfAll, queries,
        "vec_id", "e", k = 10, nprobe = nprobe)
      val want = recompute(10, nprobe)
      assert(got.schema === want.schema)
      val g = exactRows(got)
      assert(g.size === 20 * 10, s"nprobe=$nprobe")
      assert(g === exactRows(want), s"nprobe=$nprobe")
      // every query is an index member, excluded from its own result
      assert(g.forall(r => r._1 != r._3), s"nprobe=$nprobe: a query found itself")
    }
    // k beyond the candidate count: every probed row, fully ranked
    val all = exactRows(DedupIndex.ivfTopKIndexed(spark, ivfAll, queries,
      "vec_id", "e", k = 100000, nprobe = 1))
    assert(all === exactRows(recompute(100000, 1)))
    val perQuery = all.groupBy(_._1).map(_._2.size)
    assert(perQuery.size === 20 && perQuery.forall(n => n > 0 && n < 100000))
  }

  test("indexed IVF: duplicate vectors tie on sim and break on id; null and zero vectors, null ids") {
    // the index holds 30 vectors twice, under ids 0..29 and 1000000..
    val dupEmb = emb.unionByName(emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("e")))
    val table = tmpTable("ivfdup")
    DedupIndex.ensureIvfIndex(spark, table, dupEmb,
      s"$sfDir/embeddings.parquet", "all#dup", "vec_id", "e")
    val near = emb.filter(col("vec_id") < 6).collect().toSeq.map(r =>
      Row(-1L - r.getLong(0), r.getSeq[Double](1).map(_ + 0.01)))
    val dim = near.head.getSeq[Double](1).size
    val queries = localQueries(near ++ Seq(
      Row(-100L, null), Row(-101L, Seq.fill(dim)(0.0)),
      Row(null, near.head.getSeq[Double](1))))
    def check(nprobe: Int, k: Int): Unit = {
      val got = DedupIndex.ivfTopKIndexed(spark, table, queries,
        "vec_id", "e", k = k, nprobe = nprobe)
      val want = rankWindowTopK(table, queries, k, nprobe)
      assert(got.schema === want.schema)
      val g = exactRows(got)
      assert(g === exactRows(want), s"nprobe=$nprobe k=$k")
      // a duplicated vector's two ids tie on sim, lower id first
      val ties = g.filter(_._1 > -100L).groupBy(r => (r._1, r._4))
        .values.filter(_.size > 1)
      assert(ties.nonEmpty, "vacuous: no tied neighbours")
      ties.foreach(t => assert(t.map(_._3) === t.map(_._3).sorted))
      // the null vector ranks null sims by id; the zero vector NaN sims
      assert(g.filter(_._1 == -100L).forall(_._4.isEmpty))
      assert(g.filter(_._1 == -101L).map(_._4)
        .forall(_.exists(b => java.lang.Double.longBitsToDouble(b).isNaN)))
      assert(g.count(_._1 == -100L) === k && g.count(_._1 == -101L) === k)
    }
    check(nprobe = 4, k = 10)
    check(nprobe = 1, k = 3)
  }

  test("a warm indexed IVF batch of local queries runs one labelled Spark job and caches nothing") {
    val queries = localQueries(emb.filter(col("vec_id") < 64).collect().toSeq)
    def batch() = DedupIndex.ivfTopKIndexed(spark, ivfAll, queries,
      "vec_id", "e", k = 10).collect()
    val cold = batch()
    spark.catalog.clearCache()
    val (warm, jobs) = jobsOf(batch())
    assert(warm.toSeq === cold.toSeq)
    assert(warm.length === 64 * 10)
    assert(jobs.size === 1 && jobs.head.nonEmpty,
      s"warm batch ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
    assert(cacheManagerEmpty, "a cached plan outlived the call")
  }

  test("a corrupt published model is refit on rebuild and the index still answers") {
    // a grown table under an unchanged identity rebuilds from its
    // published model/; an unreadable model must refit, not fail
    val src = s"$sfDir/embeddings.parquet"
    def corruptModel(table: String): Unit = {
      val base = AtomicPublish.currentDataDir(spark, table).get
      new java.io.File(s"$table/$base/model").listFiles().foreach { f =>
        if (f.getName.endsWith(".crc")) f.delete()
        else if (f.getName.endsWith(".parquet"))
          java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
      }
    }
    def growAndCorrupt(table: String, sub: String): Unit = {
      val base = AtomicPublish.currentDataDir(spark, table).get
      val empty = spark.read.parquet(s"$table/$base/$sub").limit(0)
      AtomicPublish.appendSegment(spark, table)(p => empty.write.parquet(s"$p/$sub"))
      corruptModel(table)
    }
    val ivf = tmpTable("ivfcorrupt")
    def ensureIvf() = DedupIndex.ensureIvfIndex(spark, ivf, emb, src, "all",
      "vec_id", "e")
    ensureIvf()
    growAndCorrupt(ivf, "assign")
    ensureIvf()
    assert(AtomicPublish.currentSegments(spark, ivf).size === 1)
    assert(exactRows(DedupIndex.ivfTopKIndexed(spark, ivf,
        emb.filter(col("vec_id") < 5), "vec_id", "e", k = 10)) ===
      exactRows(AnnSearch.ivfTopK(spark, emb, "vec_id", "e", col("id") < 5,
        k = 10, cacheKey = Some("spec:ivf-exact"))))

    val corpus = emb.filter(col("vec_id") >= 100)
    val n = corpus.count()
    val sem = tmpTable("semcorrupt")
    def ensureSem() = DedupIndex.ensureSemanticIndex(spark, sem, corpus, src,
      "vec_id>=100", "vec_id", "e", dim = 64, corpusSize = n)
    ensureSem()
    growAndCorrupt(sem, "assign")
    ensureSem()
    val batch = emb.filter(col("vec_id") < 100)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = pairs(SemDedup.incrementalPairs(spark, corpus, batch,
      "vec_id", "e", minCosine = 0.45, dim = 64, corpusSize = n))
    assert(want.nonEmpty)
    assert(pairs(DedupIndex.dailySemanticPairs(spark, sem, batch,
      "vec_id", "e", minCosine = 0.45)) === want)

    val pq = tmpTable("pqcorrupt")
    def ensurePq() = DedupIndex.ensurePqIndex(spark, pq, emb, src, "all",
      "vec_id", "e")
    ensurePq()
    growAndCorrupt(pq, "codes")
    ensurePq()
    assert(DedupIndex.loadPqModel(spark, pq).codebooks.flatten.flatten.toSeq ===
      graft.ops.PqSearch.fit(spark, emb, "vec_id", "e").codebooks.flatten.flatten.toSeq)
  }

  test("minhash cycle: day-2 candidates over the appended index equal recompute over corpus ∪ day-1") {
    val day1 = docs.filter(col("doc_id") < 50)
    val day2 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("cycle")
    DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100#cycle", "doc_id", "text", 32, 8)
    // day-1 verdict plan built BEFORE the append binds base-segment
    // paths — the append must not contaminate it
    val day1Before = DedupIndex.dailyMinHashCandidates(spark, table, day1, _ => docs)
    DedupIndex.appendToMinHashIndex(spark, table, day1)
    assert(day1Before.collect().forall(_.getLong(0) >= 100L),
      "day-1 plan leaked post-append segments")
    val day2Daily = DedupIndex.dailyMinHashCandidates(spark, table, day2, _ => docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val day2Recompute = MinHashDedup.incrementalCandidates(
        corpus.unionByName(day1), day2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(day2Recompute.nonEmpty, "vacuous: no day-2 candidates at all")
    // the POINT of the cycle: at least one day-2 candidate's partner is
    // a day-1 doc (the appended segment), not just the original corpus
    assert(day2Recompute.exists(_._1 < 50L),
      "vacuous: no day-2 candidate pairs with a day-1 (appended) partner")
    assert(day2Daily === day2Recompute,
      s"extra: ${day2Daily.diff(day2Recompute).take(3)}; " +
        s"missing: ${day2Recompute.diff(day2Daily).take(3)}")
  }

  test("semantic append: planted day-2 clones are caught only after day-1 lands in the index") {
    import org.apache.spark.sql.functions._
    val day1 = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 100)
    // day 2 = near-exact clones of day 1 (cos ~ 1), disjoint ids
    val day2 = day1.select((col("vec_id") + 200000L).as("vec_id"),
      transform(col("e"), x => x + lit(0.001)).as("e"))
    val table = tmpTable("semcycle")
    DedupIndex.ensureSemanticIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=100#cycle", "vec_id", "e",
      dim = 64, corpusSize = corpus.count())
    val before = DedupIndex.dailySemanticPairs(spark, table, day2,
      "vec_id", "e", minCosine = 0.9)
    DedupIndex.appendToSemanticIndex(spark, table, day1)
    // pre-append plan bound the base segment only: no day-1 partners
    assert(before.collect().forall(_.getLong(1) >= 100L))
    val after = DedupIndex.dailySemanticPairs(spark, table, day2,
      "vec_id", "e", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val day1Ids = day1.collect().map(_.getLong(0)).toSet
    assert(day1Ids.nonEmpty)
    // every clone finds its source (same direction → same cell, cos ~ 1)
    val expected = day1Ids.map(id => (id + 200000L, id))
    assert(expected.subsetOf(after),
      s"clones missed after append: ${expected.diff(after).take(5)}")
  }

  test("seeded streaming minhash dedup ≡ batch collisions vs corpus ∪ earlier stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{BandProbe, MinHashStream}
    implicit val sqlCtx = spark.sqlContext
    val batch = docs.filter(col("doc_id") < 100)
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("seed")
    DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 8)
    val seeds = DedupIndex.minHashSeedState(spark, table).as[(Int, Long, Long)]
    val probeRows = MinHashDedup.bandHashes(batch, "doc_id", "text", 32, 8)
      .select(col("id").as("doc_id"), col("band"), col("bh"))
      .orderBy(col("doc_id")).as[BandProbe].collect().toSeq
    val input = MemoryStream[BandProbe]
    val q = MinHashStream.verdictsSeeded(input.toDS(), seeds)
      .writeStream.format("memory").queryName("smh_seeded_spec")
      .outputMode("update").start()
    try probeRows.grouped(math.max(1, probeRows.size / 4 + 1)).foreach { c =>
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val kept = MinHashStream.survivors(spark, "smh_seeded_spec")
      .collect().map(_.longValue).toSet
    // batch reference: a stream doc is a dup iff any of its buckets is
    // held by the corpus or by an earlier stream doc
    val allBanded = MinHashDedup.bandHashes(docs, "doc_id", "text", 32, 8)
    val bB = allBanded.filter(col("id") < 100)
    val cB = allBanded.filter(col("id") >= 100)
    val dupVsCorpus = bB.as("a").join(cB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id")).collect().map(_.getLong(0)).toSet
    val dupVsEarlier = bB.as("a").join(bB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") > col("b.id"))
      .select(col("a.id")).collect().map(_.getLong(0)).toSet
    val universe = bB.select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    val expected = universe -- dupVsCorpus -- dupVsEarlier
    assert(dupVsCorpus.nonEmpty, "vacuous: no stream-vs-corpus collision on graded data")
    assert(kept === expected,
      s"extra: ${kept.diff(expected).take(5)}; missing: ${expected.diff(kept).take(5)}")
  }

  test("ivf append: assignment ≡ MLlib transform under the published centroids; clones resolve; segmentation-invariant") {
    val corpus = emb.filter(col("vec_id") >= 50)
    val day1 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 50)
    val queries = emb.filter(col("vec_id") < 5)
    val table = tmpTable("ivfapp")
    DedupIndex.ensureIvfIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=50#spec", "vec_id", "e")
    val before = DedupIndex.ivfTopKIndexed(spark, table, queries,
      "vec_id", "e", k = 10)
    DedupIndex.appendToIvfIndex(spark, table, day1)
    // pre-append plan bound the base segment's literal paths
    assert(before.collect().forall(_.getLong(2) >= 50L),
      "day-1 search plan leaked post-append segments")
    // the appended segment's (id, cell) assignment is EXACTLY what
    // MLlib's own transform computes under the same centroids — which
    // makes append ≡ one-shot: a single-publish index over corpus ∪
    // day1 with these centroids would hold precisely base ∪ appended
    // rows, and ivfTopKIndexed reads the union of segments
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val fit = new KMeans().setK(16).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(corpus.select(col("e")).withColumn("fv", array_to_vector(col("e")))
        .select(col("fv")))
    val expected = fit.transform(
        day1.select(col("vec_id").as("id"), col("e"))
          .withColumn("fv", array_to_vector(col("e"))))
      .select(col("id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size === 2, s"expected base+appended, got $segs")
    val appended = spark.read.parquet(s"$table/${segs.last}/assign")
      .select(col("id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(appended.nonEmpty)
    assert(appended === expected,
      s"append assignment diverges from MLlib transform: " +
        s"extra ${appended.diff(expected).take(3)}, " +
        s"missing ${expected.diff(appended).take(3)}")
    // day-2 search spans both segments: planted near-clones of the
    // appended vectors must find their day-1 sources
    val clones = day1.filter(col("vec_id") < 20)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("e"), x => x + lit(0.001)).as("e"))
    val hits = DedupIndex.ivfTopKIndexed(spark, table, clones,
        "vec_id", "e", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val cloneIds = clones.collect().map(_.getLong(0))
    assert(cloneIds.nonEmpty)
    cloneIds.foreach { q =>
      assert(hits.getOrElse(q, Set.empty).contains(q - 200000L),
        s"clone $q did not resolve its appended day-1 source in top-10")
    }
    // both segments answer exactly as the rank-window plan over them
    assert(exactRows(DedupIndex.ivfTopKIndexed(spark, table, clones,
        "vec_id", "e", k = 10)) ===
      exactRows(rankWindowTopK(table, clones, 10, 4)))
    // segmentation invariance: the same growth appended in TWO
    // segments yields the identical search output
    val table2 = tmpTable("ivfapp2")
    DedupIndex.ensureIvfIndex(spark, table2, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=50#spec", "vec_id", "e")
    DedupIndex.appendToIvfIndex(spark, table2,
      day1.filter(col("vec_id") < 30))
    DedupIndex.appendToIvfIndex(spark, table2,
      day1.filter(col("vec_id") >= 30))
    def out(t: String) = DedupIndex.ivfTopKIndexed(spark, t, queries,
        "vec_id", "e", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out(table2) === out(table),
      "search output depends on append segmentation")
  }

  test("minhash compaction: 10 appends collapse to one segment, reads bit-identical, ensure* refuses reuse") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("mhcompact")
    DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100#compact", "doc_id", "text", 32, 8)
    spark.conf.set(GraftConf.IndexCompactAfter.key, "0") // hold off
    try {
      (0 until 10).foreach { i =>
        DedupIndex.appendToMinHashIndex(spark, table,
          docs.filter(col("doc_id") >= 10L * i && col("doc_id") < 10L * (i + 1)))
      }
      assert(AtomicPublish.currentSegments(spark, table).size === 11)
      def rows() = AtomicPublish.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      def daily() = DedupIndex.dailyMinHashCandidates(spark, table,
          docs.filter(col("doc_id") < 100), _ => docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val m1 = rows(); val d1 = daily()
      DedupIndex.compactIndex(spark, table)
      assert(AtomicPublish.currentSegments(spark, table).size === 1,
        "compaction did not collapse the segment list")
      assert(rows() === m1, "compaction changed the index content")
      assert(daily() === d1, "compaction changed daily candidates")
      // reuse refusal: the compacted single-segment table still holds
      // corpus ∪ appends — ensure* with the ORIGINAL identity must
      // rebuild, not serve the grown table as the corpus index
      val compactedDir = AtomicPublish.currentDataDir(spark, table).get
      DedupIndex.ensureMinHashIndex(spark, table, corpus,
        s"$sfDir/documents.parquet", "doc_id>=100#compact", "doc_id", "text", 32, 8)
      assert(AtomicPublish.currentDataDir(spark, table).get !== compactedDir,
        "ensure* reused a compacted (grown) table as a fresh corpus index")
    } finally spark.conf.unset(GraftConf.IndexCompactAfter.key)
  }

  test("LSM cycle: 4 days with threshold 3 compacts TWICE mid-cycle, verdicts ≡ disabled twin") {
    // the graded dedup_incremental_minhash_lsm key's machinery with the
    // segment-count trajectory OBSERVED: 1→2→3⤵1→2→3⤵1. Output
    // equality against a compaction-disabled twin pins that neither
    // collapse dropped, duplicated, or reordered index state.
    val corpus = docs.filter(col("doc_id") >= 100)
    val days = (0 until 4).map(k =>
      docs.filter(col("doc_id") >= 25 * k && col("doc_id") < 25 * (k + 1)))
    def runCycle(tag: String, threshold: String): (String, Seq[Set[(Long, Long)]], Seq[Int]) = {
      val table = tmpTable(tag)
      DedupIndex.ensureMinHashIndex(spark, table, corpus,
        s"$sfDir/documents.parquet", s"doc_id>=100#$tag", "doc_id", "text", 32, 8)
      spark.conf.set(GraftConf.IndexCompactAfter.key, threshold)
      try {
        val segCounts = Seq.newBuilder[Int]
        val outs = days.map { day =>
          val cand = DedupIndex.dailyMinHashCandidates(spark, table, day, _ => docs)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          DedupIndex.appendToMinHashIndex(spark, table, day)
          segCounts += AtomicPublish.currentSegments(spark, table).size
          cand
        }
        (table, outs, segCounts.result())
      } finally spark.conf.unset(GraftConf.IndexCompactAfter.key)
    }
    val (_, lsmOuts, lsmSegs) = runCycle("lsm3", "3")
    val (_, plainOuts, plainSegs) = runCycle("lsm0", "0")
    assert(lsmSegs === Seq(2, 1, 2, 1),
      s"expected two mid-cycle collapses (2,1,2,1), got $lsmSegs")
    assert(plainSegs === Seq(2, 3, 4, 5))
    assert(lsmOuts.flatten.nonEmpty, "vacuous: no cross-day candidates")
    (lsmOuts zip plainOuts).zipWithIndex.foreach { case ((l, p), k) =>
      assert(l === p, s"day-$k candidates diverged across a compaction boundary")
    }
  }

  test("semantic append auto-compacts past the conf threshold; daily pairs unchanged") {
    val corpus = emb.filter(col("vec_id") >= 100)
    val day1 = emb.filter(col("vec_id") < 50)
    // batch = planted near-clones of day 1 (guaranteed pairs once day 1
    // is in the index — the graded slice has no natural dup here)
    val batch = day1.select((col("vec_id") + 200000L).as("vec_id"),
      transform(col("e"), x => x + lit(0.001)).as("e"))
    val n = corpus.count()
    def build(tag: String, threshold: String): String = {
      val t = tmpTable(tag)
      DedupIndex.ensureSemanticIndex(spark, t, corpus,
        s"$sfDir/embeddings.parquet", "vec_id>=100#auto", "vec_id", "e",
        dim = 64, corpusSize = n)
      spark.conf.set(GraftConf.IndexCompactAfter.key, threshold)
      try DedupIndex.appendToSemanticIndex(spark, t, day1)
      finally spark.conf.unset(GraftConf.IndexCompactAfter.key)
      t
    }
    val auto = build("semauto", "2")   // trigger: base+append = 2 >= 2
    val plain = build("semplain", "0") // disabled twin
    assert(AtomicPublish.currentSegments(spark, auto).size === 1,
      "append past threshold did not auto-compact")
    assert(AtomicPublish.currentSegments(spark, plain).size === 2)
    def pairs(t: String) = DedupIndex.dailySemanticPairs(spark, t, batch,
        "vec_id", "e", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = pairs(auto)
    assert(a.nonEmpty, "vacuous: clones found no day-1 sources")
    assert(a === pairs(plain), "auto-compaction changed daily pair results")
  }

  test("sourceStamp recurses: a regenerated nested partition forces republish") {
    val src = tmpTable("psrc")
    docs.filter(col("doc_id") < 50)
      .withColumn("part", col("doc_id") % 2)
      .write.partitionBy("part").mode("overwrite").parquet(src)
    val s1 = DedupIndex.sourceStamp(spark, src)
    assert(s1.nonEmpty, "partitioned source stamped empty (top-level-only listing)")
    assert(s1.contains("part="), s"stamp lacks nested relative paths: $s1")
    val table = tmpTable("pidx")
    val corpus = spark.read.parquet(src)
    val v1 = DedupIndex.ensureMinHashIndex(spark, table, corpus, src,
      "all", "doc_id", "text", 32, 8)
    // regenerate one partition (simulated: bump a nested data file's mtime)
    val part0 = new java.io.File(src).listFiles()
      .find(_.getName.startsWith("part=")).get
    val nested = part0.listFiles().find(_.getName.endsWith(".parquet")).get
    assert(nested.setLastModified(nested.lastModified() + 5000))
    assert(DedupIndex.sourceStamp(spark, src) !== s1,
      "nested mtime change invisible to the stamp")
    val v2 = DedupIndex.ensureMinHashIndex(spark, table, corpus, src,
      "all", "doc_id", "text", 32, 8)
    assert(v2 !== v1, "regenerated nested partition did NOT force republish")
  }

  test("seeded semantic stream: file-source restart mid-replay, survivors ≡ corpus-aware oracle") {
    import spark.implicits._
    import graft.streaming.{SemDedupStream, VecProbe}
    val corpus = emb.filter(col("vec_id") >= 100)
    val streamSide = emb.filter(col("vec_id") < 100)
    val n = corpus.count()
    val table = tmpTable("seedsem")
    DedupIndex.ensureSemanticIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=100#seedstream", "vec_id", "e",
      dim = 64, corpusSize = n)
    val model = DedupIndex.loadModel(spark, table)
    val seeds = DedupIndex.semanticSeedState(spark, table)
    val effProbes = if (model.k <= 4) model.k else 2
    val probeRows = streamSide
      .withColumn("cells", SemDedup.assignCells(spark, model, col("e"), effProbes))
      .select(col("vec_id"), explode(col("cells")).as("cell"), col("e"))
      .orderBy(col("vec_id"))
      .as[VecProbe].collect().toSeq
    val chunks = probeRows.grouped(math.max(1, probeRows.size / 4 + 1)).toSeq
    val in = java.nio.file.Files.createTempDirectory("graft_ssds_in").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_ssds_cp").toString
    def append(c: Seq[VecProbe]): Unit =
      c.toDS().coalesce(1).write.mode("append").parquet(in)
    append(chunks.head)
    val schema = spark.read.parquet(in).schema
    val sink = scala.collection.concurrent.TrieMap.empty[(Long, Int), Boolean]
    def start() = SemDedupStream.verdictsSeeded(
        spark.readStream.schema(schema).parquet(in).as[VecProbe],
        seeds, minCosine = 0.45)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.ProbeVerdict], _: Long) =>
        b.collect().foreach(v => sink.put((v.vec_id, v.cell), v.kept)); ()
      }
      .outputMode("update")
      .option("checkpointLocation", cp)
      .start()
    // life 1: 2 of 4 chunks committed, then the process "dies"
    val q1 = start()
    q1.processAllAvailable()
    append(chunks(1)); q1.processAllAvailable()
    assert(q1.lastProgress.batchId >= 0, "no committed batch before the kill")
    q1.stop()
    // life 2: same checkpoint (initial state must NOT re-apply), rest replayed
    val q2 = start()
    chunks.drop(2).foreach { c => append(c); q2.processAllAvailable() }
    q2.stop()
    val kept = sink.groupBy(_._1._1)
      .collect { case (id, vs) if vs.values.forall(identity) => id }.toSet
    // the driver's exact oracle: a stream vector survives iff NO vector
    // in corpus ∪ earlier-stream is within cosine ≥ 0.45
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val streamIds = all.keys.filter(_ < 100).toSeq.sorted
    val expected = streamIds.filter { a =>
      !all.exists { case (b, eb) =>
        (b >= 100 || b < a) && b != a && cos(all(a), eb) >= 0.45
      }
    }.toSet
    val dupVsCorpus = streamIds.filter(a =>
      all.exists { case (b, eb) => b >= 100 && cos(all(a), eb) >= 0.45 })
    assert(dupVsCorpus.nonEmpty,
      "vacuous: no stream-vs-corpus semantic dup on graded data")
    assert(kept === expected,
      s"extra: ${kept.diff(expected).take(5)}; missing: ${expected.diff(kept).take(5)}")
  }

  test("pq index: loaded codebooks are bit-exact; indexed shortlist ≡ recompute") {
    import graft.ops.PqSearch
    val table = tmpTable("pq")
    DedupIndex.ensurePqIndex(spark, table, emb,
      s"$sfDir/embeddings.parquet", "all", "vec_id", "e")
    // parquet round-trip preserves doubles exactly → identical model
    val loaded = DedupIndex.loadPqModel(spark, table)
    val fitted = PqSearch.fit(spark, emb, "vec_id", "e")
    assert(loaded.m === fitted.m && loaded.dsub === fitted.dsub &&
      loaded.k === fitted.k)
    assert(loaded.codebooks.flatten.flatten.toSeq ===
      fitted.codebooks.flatten.flatten.toSeq,
      "published codebooks must round-trip bit-exactly")
    // indexed shortlist ≡ the recompute twin under the same model
    val qs = emb.filter(col("vec_id") < 5)
    val viaIndex = DedupIndex.pqShortlistIndexed(spark, table, qs,
        "vec_id", "e", shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val recompute = PqSearch.pqShortlist(spark, emb, "vec_id", "e",
        col("id") < 5, fitted, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIndex === recompute,
      "indexed and recompute shortlists must be identical")
  }

  test("pq index append ≡ one-shot encode under the same codebooks") {
    import graft.ops.PqSearch
    val corpus = emb.filter(col("vec_id") >= 50)
    val day1 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 50)
    val table = tmpTable("pqcycle")
    DedupIndex.ensurePqIndex(spark, table, corpus,
      s"$sfDir/embeddings.parquet", "vec_id>=50", "vec_id", "e")
    val model = DedupIndex.loadPqModel(spark, table)
    DedupIndex.appendToPqIndex(spark, table, day1)
    // the appended segment's codes = encoding day1 under the published
    // model in one shot (no refit happened)
    val segs = AtomicPublish.currentSegments(spark, table)
    assert(segs.size === 2, s"append must land one new segment: $segs")
    val appended = spark.read.parquet(s"$table/${segs.last}/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val oneShot = PqSearch.encode(day1, "e", model)
      .select(col("vec_id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(appended === oneShot,
      "append-encoded codes must equal one-shot encoding")
    // a search over the grown index sees corpus ∪ day1 candidates
    val short = DedupIndex.pqShortlistIndexed(spark, table,
        emb.filter(col("vec_id") < 5), "vec_id", "e", shortlist = 50)
    assert(short.filter(col("id") >= 10 && col("id") < 50).count() > 0,
      "day-2 search must surface appended candidates")
  }

  test("ensure* reuses a fresh index and rebuilds on identity change") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val table = tmpTable("reuse")
    val v1 = DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 8)
    val v2 = DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 8)
    assert(v1 === v2, "matching identity must NOT republish")
    // any identity drift (here: band count) must republish a new version
    val v3 = DedupIndex.ensureMinHashIndex(spark, table, corpus,
      s"$sfDir/documents.parquet", "doc_id>=100", "doc_id", "text", 32, 4)
    assert(v3 !== v2, "changed parameters must republish")
    // and the manifest now resolves the new version
    assert(AtomicPublish.currentDataDir(spark, table)
      .exists(d => s"$table/$d" == v3))
  }
}
