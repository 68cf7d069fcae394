package graft.ops

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-CLUSTER resolution: near-dup detection emits pairs, but a
  * dedup pipeline must keep ONE doc per transitive group (A~B, B~C ⇒
  * drop two of {A,B,C} even though A~C was never emitted). That closure
  * is connected components over the pair graph.
  *
  * The 100 TB story: pair lists from MinHash/SimHash/ANN banding are
  * ~linear in true duplicates, so the graph is sparse, and duplicate
  * clusters are SHALLOW (cliques of copies plus short mutation chains
  * — the full-corpus probe measured max component 4-6 docs at ×100).
  * Connected components over such graphs is min-label propagation that
  * converges in O(diameter) rounds; what matters is the PER-ROUND
  * constant. Round 11 measured GraphX's Pregel at 15-20 s for a
  * 20 k-vertex / 9 k-edge graph (per-superstep RDD machinery ×
  * diameter, independent of data size) while the same propagation as
  * a DataFrame join loop — Tungsten joins, AQE-sized exchanges, one
  * convergence count per round — runs the identical label fixpoint in
  * ~1-2 s and scales with shuffle volume, not superstep count. So
  * [[clusters]] is the DataFrame loop; [[clustersGraphX]] keeps the
  * Pregel formulation as the independent reference implementation
  * (label-set equality is ScalaTest-gated in DedupClusterSpec) and as
  * the escape hatch for deep-diameter graphs where pointer-jumping
  * Pregel variants would win.
  */
object DedupCluster {

  /** Hard ceiling on propagation rounds — 64 rounds means the pair
    * graph has a ≥64-hop chain, which no near-dup corpus produces
    * (dup clusters are copy-cliques); fail loud rather than loop. */
  val MaxRounds = 64

  /** Default pair-count ceiling for the driver union-find rung
    * ([[graft.engine.GraftConf.MaxDriverPairs]]), DERIVED FROM DRIVER
    * HEAP: the rung's real transient footprint is
    * ~[[DriverBytesPerPair]] per pair across the boxed collect, the node
    * HashMap (up to 2 boxed entries/pair), the union-find arrays and
    * the label rows — a flat 32 M default was
    * several× the "~1.6 GB" it budgeted and could OOM a small driver
    * instead of falling back. A quarter of `Runtime.maxMemory` divided
    * by the per-pair constant keeps the rung safely inside any driver
    * (≈5 M pairs on a 4 GB test driver, the full 32 M cap from ~38 GB
    * up); the conf overrides either way. The near-dup pair list is
    * O(true duplicates) — orders of magnitude smaller than the corpus
    * — so the rung still covers every graded and decade corpus (the
    * dup-dense ×1000 scratch emits 24.4 M pairs under -Xmx40g); past
    * the ceiling the DISTRIBUTED label loop takes over, unchanged in
    * semantics. */
  def maxDriverPairsDefault: Long = math.max(1000000L,
    math.min(32000000L, Runtime.getRuntime.maxMemory() / 4 / DriverBytesPerPair))

  /** Transient driver bytes per collected pair: 2 boxed longs in a
    * tuple (~48 B), amortized HashMap entries (~120 B worst-case when
    * both endpoints are new), two int edge slots, a node-id long, a
    * parent int, and a (Long, Long) label row (~40 B) — ~250 B plus
    * headroom. */
  private val DriverBytesPerPair = 300L

  /** Label every id with its cluster: `cluster_id` = min id in the
    * connected component, `cluster_size`, and `is_keeper` (the
    * canonical survivor — min id, matching [[LlmQueries]] dedup_exact's
    * keeper rule). Ids absent from `pairs` are singleton clusters of
    * themselves.
    *
    * Engine dispatch, measured round 11: CC cost on shallow dup graphs
    * is ROUND CONSTANTS, not data — GraphX Pregel paid ~20 s and the
    * distributed label loop ~30 s on a 20 k-vertex / 9 k-edge graph
    * (26-31 rounds of job scheduling for the ×100 corpus's drift
    * chains), while a driver union-find over the same pair list is
    * milliseconds. Since the pair list is O(true dups) — the one thing
    * every pair source in this repo keeps sub-linear — the dispatcher
    * collects pairs (ids only) below [[graft.engine.GraftConf.MaxDriverPairs]] and
    * union-finds on the driver; past the ceiling it runs the
    * distributed pointer-jump loop ([[clustersDistributed]]).
    *
    * @param ids   one row per document, `idCol` a unique Long id
    * @param pairs near-dup pairs (aCol, bCol), any orientation
    */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val maxDriver = graft.engine.GraftConf.MaxDriverPairs.get(spark)
    // Persist the pair pipeline ONCE before the rung decision: the
    // count that picks the rung and the consumer (driver collect or
    // the distributed loop's edge build) both read the cache — a
    // 24 M-pair LSH/blocked join must not run twice.
    val pl0 = pairs.select(col(aCol).cast("long").as("pa"),
        col(bCol).cast("long").as("pb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pl0.count()
    if (nPairs > maxDriver) {
      val out = clustersDistributed(ids, idCol, pl0, "pa", "pb")
      // the loop has materialized its labels; the cached pairs are
      // no longer referenced by the returned plan
      pl0.unpersist()
      out
    } else {
      val pl = pl0.as[(Long, Long)].collect()
      pl0.unpersist()
      // Union-find with path compression + union-by-min: root = the
      // component's minimum id, matching every other engine here.
      val idx = new java.util.HashMap[java.lang.Long, Integer](pl.length * 2)
      val nodes = Array.newBuilder[Long]
      var m = 0
      def nodeOf(v: Long): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue()
        else { idx.put(v, m); nodes += v; m += 1; m - 1 }
      }
      val ea = new Array[Int](pl.length)
      val eb = new Array[Int](pl.length)
      var i = 0
      while (i < pl.length) {
        ea(i) = nodeOf(pl(i)._1); eb(i) = nodeOf(pl(i)._2); i += 1
      }
      val nodeIds = nodes.result()
      val parent = Array.tabulate(m)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      i = 0
      while (i < pl.length) {
        val ra = find(ea(i)); val rb = find(eb(i))
        if (ra != rb) {
          // union by MIN ID so the surviving root is the component min
          if (nodeIds(ra) < nodeIds(rb)) parent(rb) = ra
          else parent(ra) = rb
        }
        i += 1
      }
      val lbl = (0 until m).map(x => (nodeIds(x), nodeIds(find(x))))
      // parallelize, NOT createDataFrame(Seq): a LocalRelation of up
      // to 2·maxDriver label rows would be row-encoded ON THE DRIVER
      // (a second multi-GB copy) and carried inside the plan; an RDD
      // slice ships the labels to executors and frees them with the
      // driver array
      val comp = spark.createDataFrame(spark.sparkContext.parallelize(
          lbl, math.max(1, spark.sparkContext.defaultParallelism)))
        .toDF("node", "__cluster")
      val labeled = ids.select(col(idCol).cast("long").as("doc_id"))
        .join(broadcast(comp), col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("__cluster"), col("doc_id")).as("cluster_id"))
      val sizes = labeled.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_keeper"))
    }
  }

  /** The distributed rung: min-label propagation with pointer jumping
    * over DataFrame joins — O(shuffle volume) per round, rounds ≈
    * log(diameter)..diameter depending on graph shape. Semantics
    * identical to [[clusters]]; used automatically past
    * [[graft.engine.GraftConf.MaxDriverPairs]] and directly testable. */
  def clustersDistributed(ids: DataFrame, idCol: String, pairs: DataFrame,
                          aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val spark = ids.sparkSession
    val half = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Each round materializes `labels` THROUGH THE RDD LAYER, for two
    // measured reasons. (1) Lineage: an iterative DataFrame loop that
    // merely persists grows its logical plan by two joins per round,
    // and plan traversal (explain strings, AQE) blows up long before
    // the data does (a 40-round chain OOM'd on plan rendering alone).
    // (2) Stats: Dataset.localCheckpoint cuts the RDD lineage but
    // REWRITES the origin plan's statistics into the new LogicalRDD
    // (rewriteStatsAndConstraints), so each round's sizeInBytes is a
    // product over the previous round's — the estimate compounds
    // EXPONENTIALLY and by round ~50 the driver sat spinning in
    // million-digit BigInteger multiplies inside the stats visitor
    // (jstack-verified). Rebuilding the frame from a localCheckpointed
    // RDD gives every round a fresh LogicalRDD with default stats:
    // constant-size plan, constant-cost planning, forever.
    import spark.implicits._
    def materialized(df: DataFrame): DataFrame = {
      val rdd = df.as[(Long, Long)].rdd
      rdd.localCheckpoint()
      rdd.count()
      rdd.toDF("id", "lbl")
    }
    var labels = materialized(ids
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("lbl")))
    try {
      // Convergence signature: per-node labels decrease MONOTONICALLY,
      // so the exact-decimal label sum strictly decreases until the
      // fixpoint and equality means "no node changed" — one cheap agg
      // over the just-materialized checkpoint instead of a dedicated
      // changed-rows job (the per-round JOB COUNT, not data volume, is
      // what dominated the measured wall on shallow graphs).
      def signature(): java.math.BigDecimal = labels
        .agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      var sig = signature()
      var converged = false
      var round = 0
      while (!converged) {
        round += 1
        if (round > MaxRounds) throw new IllegalStateException(
          s"dedup clustering did not converge in $MaxRounds rounds — the " +
            "pair graph has a pathologically deep chain; use clustersGraphX " +
            "or investigate the pair source")
        // each node pulls the min label of its neighbors...
        val nbrMin = edges.join(labels, col("src") === col("id"))
          .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
        val stepped = labels.join(nbrMin, col("id") === col("dst"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("m"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // ...then POINTER-JUMPS: nxt = m(m(x)). Labels only ever
        // decrease from the node's own id, so every m value is itself
        // a node id and the self-join is total. One hop per round
        // walks a chain in diameter rounds (measured: 31 rounds on the
        // ×100 embedding corpus's drift chains); the jump halves label
        // depth per round — O(log diameter) rounds to the same
        // fixpoint.
        labels = materialized(stepped.join(
            stepped.select(col("id").as("jid"), col("m").as("jm")),
            col("m") === col("jid"))
          .select(col("id"), least(col("m"), col("jm")).as("lbl")))
        stepped.unpersist()
        val nsig = signature()
        converged = nsig.compareTo(sig) == 0
        sig = nsig
      }
      // the converged `labels` is a materialized checkpoint — the
      // returned plan reads it directly, never the iteration lineage
      val labeled = labels
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      val sizes = labeled.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_keeper"))
    } finally { edges.unpersist(); () }
  }

  /** The Pregel (GraphX) formulation of the same fixpoint — the
    * independent reference implementation the DataFrame loop is
    * equality-gated against, and the right engine if a pair graph ever
    * has real diameter (GraphX CC pointer-jumps). */
  def clustersGraphX(ids: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val edgeRdd = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }
    val cc = Graph.fromEdges(edgeRdd, ()).connectedComponents().vertices
    val comp = spark.createDataFrame(cc).toDF("node", "__cluster")
    // LEFT join: docs in no pair are absent from the vertex set but a
    // dedup op may not drop them — they are their own singleton cluster.
    val labeled = ids.select(col(idCol).cast("long").as("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("__cluster"), col("doc_id")).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }
}
