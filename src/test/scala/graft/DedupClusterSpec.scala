package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupCluster, MinHashDedup}
import graft.engine.{GraftConf, Tables}

/** Transitive-closure properties of duplicate-cluster resolution. */
class DedupClusterSpec extends SparkSpec {

  test("transitive chains collapse; labels are the component minimum") {
    import spark.implicits._
    // chain 1-2, 2-3 (never 1-3); separate pair 10-11; singleton 20.
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = DedupCluster.clusters(ids, "id", pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) === ((1L, 3L, true)))
    assert(out(2L) === ((1L, 3L, false)))
    assert(out(3L) === ((1L, 3L, false)))
    assert(out(10L) === ((10L, 2L, true)))
    assert(out(11L) === ((10L, 2L, false)))
    assert(out(20L) === ((20L, 1L, true)))
  }

  test("keeper count = cluster count; every doc labeled exactly once") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").filter($"doc_id" < 500)
    val pairs = MinHashDedup.candidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4)
    val out = DedupCluster.clusters(docs.select($"doc_id"), "doc_id", pairs)
    val n = docs.count()
    assert(out.count() === n, "clustering dropped or duplicated docs")
    assert(out.select("doc_id").distinct().count() === n)
    val keepers = out.filter($"is_keeper").count()
    val clusters = out.select("cluster_id").distinct().count()
    assert(keepers === clusters, "one keeper per cluster")
    // cluster_size agrees with the actual membership count
    val bad = out.groupBy($"cluster_id", $"cluster_size")
      .agg(count(lit(1)).as("m"))
      .filter($"m" =!= $"cluster_size").count()
    assert(bad === 0L, "cluster_size disagrees with membership")
  }

  test("all three CC engines agree: driver union-find, distributed loop, GraphX") {
    import spark.implicits._
    // three independent implementations of the same fixpoint; their
    // full (doc_id, cluster_id, cluster_size, is_keeper) outputs must
    // be identical on a real pair graph
    val docs = Tables(spark, sfDir, "documents").filter($"doc_id" < 500)
    val pairs = MinHashDedup.candidatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val uf = snap(DedupCluster.clusters(docs.select($"doc_id"), "doc_id", pairs))
    val dist = snap(DedupCluster.clustersDistributed(
      docs.select($"doc_id"), "doc_id", pairs))
    val gx = snap(DedupCluster.clustersGraphX(docs.select($"doc_id"), "doc_id", pairs))
    assert(uf === gx)
    assert(dist === gx)
    // the dispatcher takes the distributed rung past the conf ceiling —
    // same output
    spark.conf.set(GraftConf.MaxDriverPairs.key, "0")
    try {
      val forced = snap(DedupCluster.clusters(docs.select($"doc_id"), "doc_id", pairs))
      assert(forced === gx)
    } finally spark.conf.unset(GraftConf.MaxDriverPairs.key)
  }

  test("deep chain converges on both rungs (under the round cap)") {
    import spark.implicits._
    // a 40-hop path graph — worst case for min propagation; both rungs
    // must collapse it to one cluster labeled by the minimum id
    val n = 41
    val ids = (0 until n).map(_.toLong).toDF("id")
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    for (rung <- Seq("driver", "distributed")) {
      val out = (if (rung == "driver")
        DedupCluster.clusters(ids, "id", pairs)
      else DedupCluster.clustersDistributed(ids, "id", pairs)).collect()
      assert(out.forall(_.getLong(1) === 0L), s"$rung: chain not collapsed")
      assert(out.forall(_.getLong(2) === n.toLong), s"$rung: wrong size")
    }
  }

  test("minhash-pair clustering groups the planted near-dup families") {
    import spark.implicits._
    // documents at consecutive ids sharing long prefixes are the
    // corpus's planted near-dups; exact-Jaccard >= 0.5 pairs define
    // truth. CC over MinHash candidates filtered at est >= 0.5 must
    // place every TRUE pair in one cluster when its est passes —
    // recall of the signature estimate itself is gated in LlmOpsSpec.
    val docs = Tables(spark, sfDir, "documents").filter($"doc_id" < 300)
    val est = MinHashDedup.candidatePairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8)
      .filter($"est_jaccard" >= 0.5)
    val out = DedupCluster.clusters(docs.select($"doc_id"), "doc_id", est)
    val lbl = out.select($"doc_id", $"cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = est.select($"id_a", $"id_b").collect()
    pairs.foreach { r =>
      assert(lbl(r.getLong(0)) === lbl(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
  }
}
