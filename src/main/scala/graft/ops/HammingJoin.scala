package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.GraftConf

/** All pairs of 64-bit fingerprints within a Hamming distance bound,
  * via the standard multi-index pigeonhole — the scale-safe replacement
  * for the all-pairs `a.join(b, id_a < id_b)` nested loop.
  *
  * Split the 64 bits into `maxDist + 1` disjoint bands: two
  * fingerprints differing in ≤ maxDist bits MUST agree exactly on at
  * least one band (pigeonhole), so candidate generation is a plain
  * shuffle equi-join on (band, bandBits) — ~linear in true near-dups —
  * followed by the exact `bit_count(xor)` check. No recall loss: unlike
  * LSH this blocking is EXACT for the distance bound, so the output is
  * identical to the quadratic scan's.
  *
  * Two execution engines over the same index:
  *  - [[pairsWithin]]: a relational equi-join, codegen end to end —
  *    the small-corpus path and the spec-gated reference.
  *  - [[pairsWithinLocal]]: repartition the index by bucket key and
  *    enumerate each bucket's products in a partition-local primitive
  *    loop. Measured at 5 M fingerprints/radius 6 (sf100): the SMJ
  *    iterates bucket products at ~7 M/s/core (row machinery), the
  *    local loop at XOR+popcount speed — the same 1.1·10¹¹ products
  *    drop from 512 s to the shuffle-bound floor. This is the
  *    "mapPartitions as a last resort" case made honest: the measured
  *    per-product gap is ~70× on the term that dominates at scale.
  *
  * Both paths use CANONICAL EMISSION (emit a pair only from its
  * lexicographically first agreeing block combination, an O(1) bit
  * test on xor) — round 9 deduped the C(a,m)-fold emissions through a
  * groupBy(id_a,id_b) shuffle, which is what DNF'd the 5 M regime.
  */
object HammingJoin {

  /** Pick the block count k for [[pairsWithin]] from the corpus size —
    * the same statistics-fed planning [[AnnSearch.provisionLshForCorpus]]
    * does for LSH, but with zero recall stakes (every k is exact; only
    * cost changes). Model, under uniform band occupancy: index/shuffle
    * rows C(k,m)·n plus expected same-bucket candidate pairs
    * C(k,m)·n²/2^(m·⌊64/k⌋+1). Small n wants the minimal index
    * (k = d+1); as n grows the n² term forces wider keys — k rises and
    * candidates stay ~linear in true near-dups. Deterministic, no data
    * scan: feed n from table stats / parquet footers
    * ([[AnnSearch.parquetRowCount]]).
    *
    * CAVEAT (measured, round 10): the uniform-occupancy collision term
    * under-counts real simhash corpora by orders of magnitude — band
    * values are vocabulary-biased, so bucket occupancy is heavy-tailed
    * (sf10, k=9: modeled 5·10⁶ collisions, measured Σcnt² = 2.7·10⁹).
    * The model is still the right K CHOOSER (bias shifts every k's
    * collision mass by a similar factor), but FEASIBILITY must come
    * from measured occupancy — [[estimateProducts]] — not this model.
    */
  /** @param pairsPerDoc expected TRUE near-dup pairs per document —
    *   the third cost term. A qualifying pair agreeing on `a` blocks is
    *   emitted C(a, m) times before the canonical-emission filter, and
    *   `a` can reach k−1 (all flipped bits in one block), so dup-dense
    *   corpora punish large k: measured on the ×100 decade corpus
    *   (500 k docs, 11.3 true pairs/doc) k=8 runs 2.0× faster than
    *   k=7 AND 1.25× faster than the pair-blind model's k=9 pick.
    *   Default 2.0 ≈ a lightly duplicated raw crawl; pass the real
    *   density when a prior dedup pass measured it.
    */
  def provisionBlocks(n: Long, maxDist: Int, maxBlocks: Int = 16,
                      pairsPerDoc: Double = 2.0, width: Int = 64): Int = {
    require(maxDist >= 0 && maxDist < width, s"maxDist $maxDist out of range")
    val ks = (maxDist + 1) to math.min(maxBlocks, width)
    ks.minBy(modeledCost(n, maxDist, _, pairsPerDoc, width))
  }

  private def choose(k: Int, m: Int): Double =
    (0 until m).foldLeft(1.0)((a, i) => a * (k - i) / (i + 1))

  /** Combination-index row count n·C(k, k−maxDist) — the sort-floor
    * input to [[deriveOversplit]] (also used by the A/B diag to report
    * the derived pick). */
  private[graft] def indexRowsFor(n: Long, maxDist: Int, k: Int): Double =
    n.toDouble * choose(k, k - maxDist)

  /** The provisioning cost model for one k: index rows + expected
    * bucket-collision candidates + true-pair emission multiplicity. */
  def modeledCost(n: Long, maxDist: Int, k: Int,
                  pairsPerDoc: Double = 2.0, width: Int = 64): Double = {
    val m = k - maxDist
    val combos = choose(k, m)
    val keyBits = math.min(62, m * (width / k))
    combos * n.toDouble +
      combos * n.toDouble * n.toDouble / math.pow(2.0, keyBits + 1) +
      pairsPerDoc * n.toDouble * choose(k - 1, m)
  }

  // Session knobs, read through GraftConf:
  //  - HammingMaxModeledCost bounds the modeled row budget an exact
  //    Hamming join may plan for the RELATIONAL path (index rows +
  //    candidates). Like MaxBruteCosines, the right ceiling depends on
  //    cluster parallelism, so it is a conf, not a constant.
  //  - HammingMaxProducts bounds the MEASURED bucket-product volume
  //    (Σ cnt², estimated from a fingerprint sample) the partition-local
  //    path may plan. Products cost one XOR+popcount each (~2-3
  //    ns/core); the default 3e11 is ~10 min on the 32-thread reference
  //    box and scales linearly with cluster cores — raise it on a real
  //    cluster.
  //  - HammingLocalMinRows: corpora at or below this row count use the
  //    relational join (codegen, AQE, no sampling pass); larger ones use
  //    the partition-local popcount engine with sampled-occupancy
  //    planning.
  //  - HammingMaxBucketRows: hard cap on one bucket's rows in the local
  //    engine (the run buffer is two primitive arrays of this length; a
  //    run this hot means the products estimate was evaded — fail loud,
  //    not OOM).
  //  - HammingOversplit: partition-count multiplier for the local
  //    engine's bucket-keyed repartition. Product mass is bucket-skewed,
  //    so at exactly cores=partitions the hottest partition straggles;
  //    4× oversplit measured TWICE at sf100/32 threads: round 10 saw
  //    183-152 s vs ~201 s (~10-20%), and the round-13 A/B (one JVM per
  //    leg, steal-stamped: 2030 vs 6359 jiffies) read 179 s vs 289 s.
  //    When SET, this conf wins everywhere. When UNSET (round 14):
  //    pairsWithinAdaptive DERIVES the factor from the sampled
  //    bucket-mass distribution it already measures (deriveOversplit),
  //    and a direct pairsWithinLocal call — which has no sample — keeps
  //    the measured default 4. Output is partitioning-blind either way
  //    (canonical emission, spec-gated).

  /** Per-TASK overhead expressed in bucket-product equivalents for the
    * oversplit makespan model: the popcount loop enumerates ~4·10⁸
    * products/s/core and a Spark task costs ~2-5 ms of scheduling, so
    * one extra task ≈ 2·10⁶ products of budget. This is the
    * counterweight that keeps uniform (decorrelated) corpora — whose
    * placement gains nothing past cores=partitions — from paying the
    * fixed default's 4× task tax. */
  private[graft] val TaskOverheadProducts = 2e6

  /** Per-partition index-row budget for the SORT floor below: the
    * local engine sorts each partition by (band, bits) before the run
    * scan, and a partition past ~4 M rows (~10⁸-byte UnsafeRow sort
    * footprint) starts spilling — at which point MORE partitions beat
    * fewer regardless of product skew. Measured on the decorrelated
    * 5 M-fingerprint A/B: products ≈ 0 (61 true pairs) yet oversplit 4
    * still beat 1 (287 vs 308 s) because the 4.2·10⁸-row index sort is
    * the whole job there. */
  private[graft] val MaxSortRowsPerPartition = 4e6

  /** Occupancy-DERIVED oversplit (round 14): instead of a fixed
    * multiplier, PLACE the sampled per-bucket product masses onto
    * B·o partitions for each candidate o — the same hash-placement
    * shape the engine's `repartition(p, band, bits)` performs — and
    * pick the o minimizing modeled makespan: the max partition load
    * (the straggler that dominates wall time) plus the per-task
    * scheduling overhead. Skew-heavy corpora split until the
    * indivisible hottest bucket is the floor; near-uniform corpora
    * take only the SPILL floor — enough partitions that each
    * (band, bits) sort fits execution memory
    * ([[MaxSortRowsPerPartition]]), which on product-free corpora is
    * the term that actually moves wall time. Placement uses a stable
    * splitmix64 of the bucket's sample index — statistically the
    * engine's murmur placement, and deterministic so the plan (and
    * the A/B evidence) reproduces. */
  private[graft] def deriveOversplit(masses: Seq[Double], tailMass: Double,
                                     basePartitions: Int,
                                     indexRows: Double): Int = {
    def mix(i: Int): Long = {
      var z = i.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val byProducts = Seq(1, 2, 4, 8, 16).minBy { o =>
      val p = math.max(1, basePartitions * o)
      val loads = new Array[Double](p)
      var i = 0
      while (i < masses.length) {
        loads(((mix(i) % p).toInt + p) % p) += masses(i)
        i += 1
      }
      val perTail = tailMass / p
      var mx = 0.0
      loads.foreach(l => if (l + perTail > mx) mx = l + perTail)
      mx + p * TaskOverheadProducts
    }
    val bySort = math.ceil(
      indexRows / (basePartitions * MaxSortRowsPerPartition)).toInt
    math.min(16, math.max(1, math.max(byProducts, bySort)))
  }

  /** Sampled bucket-occupancy detail (scaled to the full corpus):
    * total product volume, hottest bucket rows, the top product-bearing
    * bucket masses individually (the skew the oversplit placement
    * simulates), and the remaining tail mass. */
  final case class Occupancy(products: Double, hottest: Double,
                             topMasses: Seq[Double], tailMass: Double)

  /** Heavy-tail allowance multiplied onto the SAMPLED hottest-bucket
    * estimate (s_max/p is a floor — heavy tails hide from samples)
    * before comparing against [[GraftConf.HammingMaxBucketRows]] at PLAN time: a
    * corpus whose sampled hottest bucket is already within this factor
    * of the run cap refuses before the join starts, instead of failing
    * the runtime abort after potentially long partial work. */
  val HotBucketTailAllowance = 4.0

  /** Block layout + canonical-emission literals for one (maxDist, k,
    * width): block bit sizes/offsets and, per combination index, the
    * block-set mask and the below-its-max mask that decide canonicity. */
  private final case class Layout(k: Int, m: Int, sizes: Array[Int],
                                  offsets: Array[Int], comboMask: Array[Int],
                                  maskBelow: Array[Int]) {
    def blockMask(b: Int): Long =
      if (sizes(b) >= 64) -1L else (1L << sizes(b)) - 1
  }

  private def layout(maxDist: Int, blocks: Int, width: Int): Layout = {
    require(maxDist >= 0 && maxDist < width, s"maxDist $maxDist out of range")
    val k = if (blocks <= 0) maxDist + 1 else blocks
    require(k > maxDist && k <= width,
      s"blocks=$k must exceed maxDist=$maxDist (pigeonhole) and fit $width bits")
    // Canonical-emission masks are Int bit-sets (one bit per block):
    // at k >= 32 the `1 << b` shifts wrap mod 32 and the canonicity
    // test silently drops qualifying pairs. The planner caps k at 16;
    // direct callers asking for more must fail loud, not lose pairs.
    require(k <= 31,
      s"blocks=$k exceeds 31: canonical-emission masks are Int bit-sets " +
        "(one bit per block) — use <= 31 blocks")
    val m = k - maxDist
    val sizes = Array.tabulate(k)(b => width / k + (if (b < width % k) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val comboSeq = (0 until k).combinations(m).toArray
    Layout(k, m, sizes, offsets,
      comboSeq.map(_.map(1 << _).sum),
      comboSeq.map(c => (1 << (c.max + 1)) - 1))
  }

  /** The combination index: one (id, fp, band, bits) row per document
    * per m-block combination — band is the combination's index, bits
    * the packed agreed-block values (m · ⌈width/k⌉ ≤ 62 bits). */
  private def comboIndex(df: DataFrame, idCol: String, fpCol: String,
                         L: Layout): DataFrame = {
    // A full-width band (maxDist=0, k=1) needs mask -1L: JVM shifts are
    // mod 64, so (1L << 64) - 1 would evaluate to 0 and collapse
    // every fingerprint into one bucket (full cross product).
    def block(b: Int): Column =
      shiftrightunsigned(col(fpCol), L.offsets(b)).bitwiseAND(lit(L.blockMask(b)))
    val bandCols = (0 until L.k).combinations(L.m).toSeq.zipWithIndex.map {
      case (combo, ci) =>
        val packed = combo.foldLeft(lit(0L): Column) { (acc, b) =>
          shiftleft(acc, L.sizes(b)).bitwiseOR(block(b))
        }
        struct(lit(ci).as("band"), packed.as("bits"))
    }
    df.select(col(idCol).as("id"), col(fpCol).as("fp"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("fp"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  /** Measured-occupancy planner input: (estimated Σ cnt·(cnt−1) over
    * index buckets — the product count both engines enumerate — and
    * the estimated hottest bucket). Sampling is a DETERMINISTIC id-hash
    * filter, `pmod(xxhash64(id), m) = 0` with m = round(n/sampleRows):
    * unlike `.sample` (a Sample node ABOVE the fingerprint projection,
    * which evaluates the fingerprint for EVERY row before discarding —
    * measured 46 s of the sf100 plan pass), a deterministic filter on
    * the id column pushes below the projection, so only sampled rows
    * pay the fingerprint compute. Independence: the id hash is
    * independent of fingerprint content, so per-bucket inclusion is
    * i.i.d. with p = 1/m and E[s(s−1)] = p²·cnt(cnt−1) — Σ s(s−1)/p²
    * is unbiased for the product volume; the max estimate is s_max/p
    * (a floor — heavy tails hide from samples, which is why the local
    * engine also carries a hard run cap). Default 200 k sampled rows:
    * the total is a sum over ~10⁵ contributing buckets, so its
    * relative error stays in single digits while the pass costs ~2 s
    * where the join is minutes — the honesty upgrade the uniform model
    * can't give (measured: it under-counts real simhash bucket skew
    * 100-500×). */
  def estimateProducts(df: DataFrame, idCol: String, fpCol: String,
                       maxDist: Int, blocks: Int, n: Long,
                       sampleRows: Double = 2e5): (Double, Double) = {
    val occ = sampleOccupancy(df, idCol, fpCol, maxDist, blocks, n, sampleRows)
    (occ.products, occ.hottest)
  }

  /** [[estimateProducts]] plus the per-bucket mass distribution the
    * oversplit placement model needs — same single sampling pass, the
    * product-bearing buckets (cnt ≥ 2, a tiny fraction of the index)
    * cached across the top-K and totals aggregates. */
  def sampleOccupancy(df: DataFrame, idCol: String, fpCol: String,
                      maxDist: Int, blocks: Int, n: Long,
                      sampleRows: Double = 2e5, topK: Int = 4096): Occupancy = {
    val m = math.max(1L, math.round(n / math.max(1.0, sampleRows)))
    val sampled =
      if (m <= 1L) df.select(col(fpCol))
      else df.filter(pmod(xxhash64(col(idCol)), lit(m)) === 0)
        .select(col(fpCol))
    // only cnt >= 2 buckets carry products (cnt=1 contributes 0 to both
    // the sum and the placement) — the filter shrinks the cached set
    // from ~sample×combos rows to the true collision carriers
    val st = bucketStats(sampled, fpCol, maxDist, blocks)
      .filter(col("cnt") > 1)
      .select(col("cnt").cast("double").as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val r = st.agg(
        sum(col("cnt") * (col("cnt") - 1)).cast("double"),
        max(col("cnt")).cast("double")).collect()(0)
      val sumP = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      val maxC = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      val top = st.orderBy(col("cnt").desc).limit(topK).collect()
        .map { row => val c = row.getDouble(0); c * (c - 1) }.toSeq
      val m2 = m.toDouble * m.toDouble
      Occupancy(sumP * m2, maxC * m.toDouble,
        top.map(_ * m2), math.max(0.0, sumP - top.sum) * m2)
    } finally { st.unpersist(); () }
  }

  /** Stats-planned exact Hamming pairs. Small corpora (≤
    * [[GraftConf.HammingLocalMinRows]], default 100 000) take the relational join
    * under the uniform model and [[GraftConf.HammingMaxModeledCost]]. Larger corpora
    * are planned from MEASURED bucket occupancy ([[estimateProducts]]
    * on a sample) and run on the partition-local popcount engine,
    * with a LOUD plan-time refusal over [[GraftConf.HammingMaxProducts]] — never a
    * silent multi-hour join. The refusal message names the escapes;
    * the half-word recursion ([[pairsWithinHalved]]) is deliberately
    * NOT an automatic rung — it is exact and equality-gated, but
    * MEASURED on this dup-dense corpus family it loses badly (sf10:
    * flat 1.3 s vs halved 200 s with the provisioned half-k — near-dup
    * clusters make 32-bit halves agree within radius ⌊d/2⌋ far more
    * often than the uniform model says). A corpus whose half-distance
    * distribution is benign can call it explicitly.
    */
  def pairsWithinAdaptive(spark: org.apache.spark.sql.SparkSession,
                          df: DataFrame, idCol: String, fpCol: String,
                          maxDist: Int, n: Long,
                          pairsPerDoc: Double = 2.0): DataFrame = {
    if (n <= GraftConf.HammingLocalMinRows.get(spark)) {
      val budget = GraftConf.HammingMaxModeledCost.get(spark)
      planStrategy(n, maxDist, budget, pairsPerDoc) match {
        case Left(msg) => throw new IllegalArgumentException(msg)
        case Right(k) => pairsWithin(df, idCol, fpCol, maxDist, k)
      }
    } else {
      requireLongIds(df, idCol, "pairsWithinAdaptive (local-engine regime)")
      val k = provisionBlocks(n, maxDist, pairsPerDoc = pairsPerDoc)
      val budget = GraftConf.HammingMaxProducts.get(spark)
      val maxRun = GraftConf.HammingMaxBucketRows.get(spark).toDouble
      val occ = sampleOccupancy(df, idCol, fpCol, maxDist, k, n = n)
      val products = occ.products
      val hottest = occ.hottest
      if (products > budget) throw new IllegalArgumentException(
        f"exact Hamming join over n=$n%d fingerprints at radius $maxDist " +
          f"measures ~$products%.2g bucket products (sampled occupancy, " +
          f"k=$k, hottest bucket ~$hottest%.2g rows) — over budget " +
          f"$budget%.2g (${GraftConf.HammingMaxProducts.key}). Reduce the radius, pre-shard " +
          "the corpus, call pairsWithinHalved explicitly if the corpus's " +
          "half-distance distribution is benign, or raise the budget for " +
          "a larger cluster.")
      // Pre-empt the runtime MaxBucketRows abort: the sampled hottest
      // bucket is a FLOOR (tails hide from samples), so refuse already
      // when it is within the tail allowance of the run cap — after a
      // 2 s sampling pass, not after minutes of partial join work.
      if (hottest * HotBucketTailAllowance > maxRun)
        throw new IllegalArgumentException(
          f"exact Hamming join over n=$n%d fingerprints at radius " +
            f"$maxDist: sampled hottest bucket ~$hottest%.2g rows is " +
            f"within ${HotBucketTailAllowance}%.0f× of the " +
            f"$maxRun%.2g-row run cap (${GraftConf.HammingMaxBucketRows.key}) — and sampling " +
            "floors heavy tails, so the runtime abort would likely fire " +
            "mid-join. Reduce the radius, pre-shard the corpus, or raise " +
            "the cap on a larger-memory cluster.")
      // oversplit: explicit conf wins; otherwise derive it from the
      // bucket-mass distribution this very sampling pass measured,
      // plus the exact index-row volume n·C(k,m) for the sort floor
      val oversplit = GraftConf.HammingOversplit.getOption(spark)
        .getOrElse(deriveOversplit(occ.topMasses, occ.tailMass,
          spark.sessionState.conf.numShufflePartitions,
          indexRowsFor(n, maxDist, k)))
      pairsWithinLocal(df, idCol, fpCol, maxDist, k, oversplit)
    }
  }

  /** Uniform-model planner for the RELATIONAL path: the flat
    * combination index while its model fits the budget, else a LOUD
    * refusal carrying the modeled numbers. Kept as the small-corpus
    * gate and for tests; scale feasibility uses [[estimateProducts]]. */
  def planStrategy(n: Long, maxDist: Int, budget: Double,
                   pairsPerDoc: Double = 2.0): Either[String, Int] = {
    val k1 = provisionBlocks(n, maxDist, pairsPerDoc = pairsPerDoc)
    val c1 = modeledCost(n, maxDist, k1, pairsPerDoc)
    if (c1 <= budget) Right(k1)
    else Left(
      f"exact Hamming join over n=$n%d fingerprints at radius $maxDist " +
        f"models $c1%.2g index+candidate rows with best k=$k1 — over " +
        f"budget $budget%.2g (${GraftConf.HammingMaxModeledCost.key}). Reduce the radius, " +
        "pre-shard the corpus, call pairsWithinHalved explicitly if the " +
        "corpus's half-distance distribution is benign, or raise the " +
        "budget for a larger cluster.")
  }

  /** (id_a, id_b, hamming) for every pair with hamming ≤ maxDist,
    * id_a < id_b. `fpCol` must be a 64-bit LongType fingerprint.
    *
    * `blocks` (k) widens the pigeonhole: with k > maxDist+1 blocks, ≤
    * maxDist flipped bits corrupt ≤ maxDist blocks, so a qualifying
    * pair agrees on ≥ m = k − maxDist blocks — index every doc once per
    * C(k, m) block COMBINATION and equi-join on the m packed block
    * values. Still exact (pure pigeonhole, zero recall loss — the
    * output is bit-identical for any k), but the join key grows from
    * 64/k to 64·m/k bits: at maxDist=6, k=8 turns ~9-bit keys (n²/2⁹
    * bucket collisions per band — the measured ×100-decade wall) into
    * 16-bit keys for 4× more index rows — a ~32× candidate cut that
    * compounds with corpus size. k=0 (default) means maxDist+1: single
    * disjoint bands, the classic minimal index. Choose k by corpus
    * size: [[provisionBlocks]].
    */
  def pairsWithin(df: DataFrame, idCol: String, fpCol: String,
                  maxDist: Int, blocks: Int = 0): DataFrame =
    pairsWithinWidth(df, idCol, fpCol, maxDist, blocks, width = 64)

  /** [[pairsWithin]] over fingerprints occupying only the low `width`
    * bits — the banding must split exactly the populated bits, or
    * all-zero upper blocks form constant (hot) bucket keys whose
    * combos degenerate to full cross products. */
  private def pairsWithinWidth(df: DataFrame, idCol: String, fpCol: String,
                               maxDist: Int, blocks: Int,
                               width: Int): DataFrame = {
    val L = layout(maxDist, blocks, width)
    val indexed = comboIndex(df, idCol, fpCol, L)
    val a = indexed.select(col("id").as("id_a"), col("fp").as("fp_a"),
      col("band"), col("bits"))
    val b = indexed.select(col("id").as("id_b"), col("fp").as("fp_b"),
      col("band"), col("bits"))
    // Canonical emission: a pair agreeing on `a` blocks joins once per
    // agreeing block COMBINATION (up to C(a,m) times). Round-9 deduped
    // those through groupBy(id_a,id_b) — a shuffle+agg over the full
    // multiplicity, the term that walled the 5 M-fingerprint regime
    // (the flat join DNF'd 900 s at sf100). Instead keep each pair only
    // on its lexicographically FIRST agreeing combination, decided per
    // row by pure bit arithmetic on xor = fp_a^fp_b: the agreeing-block
    // bitmask `abm` is computable from xor alone, and the lex-min
    // m-subset of a block set is its m lowest set bits — so combo ci
    // (block set Bi, a literal) is canonical iff abm has no set bit
    // below max(Bi) outside Bi:
    //   (abm & ((1 << (max(Bi)+1)) - 1)) == maskOf(Bi).
    // One AND + one EQ against per-combo literal arrays — the
    // duplicates die in the join's own codegen stage; zero extra
    // shuffles, output identical (each qualifying pair exactly once).
    val xorc = col("fp_a").bitwiseXOR(col("fp_b"))
    val abm = (0 until L.k).map { b =>
      when(shiftrightunsigned(xorc, L.offsets(b))
        .bitwiseAND(lit(L.blockMask(b))) === 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ bitwiseOR _)
    // Sort-merge, not shuffled-hash: a SHUFFLE_HASH hint was measured at
    // the 5 M-fingerprint regime (k=9, 4.2e8 index rows, 32 tasks) and
    // the per-task UnsafeHashedRelation (~13 M rows) exceeds the fair
    // execution-memory slice — SparkOutOfMemoryError; SMJ spills.
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("abm", abm)
      .filter(col("abm")
        .bitwiseAND(element_at(typedLit(L.maskBelow.toSeq), col("band") + 1)) ===
        element_at(typedLit(L.comboMask.toSeq), col("band") + 1))
      .withColumn("hamming", bit_count(xorc))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[pairsWithin]] on the partition-local popcount engine — same
    * index, same canonical-emission rule, same output, but bucket
    * products are enumerated in a primitive loop instead of a
    * sort-merge join's row machinery.
    *
    * Why: real simhash band values are vocabulary-biased, so bucket
    * occupancy is heavy-tailed and Σ cnt² — the product volume ANY
    * engine must enumerate — dominates wall time (sf100, k=9:
    * 1.1·10¹¹ products; the SMJ iterates them at ~7 M/s/core → 512 s).
    * A run-detection loop over the index sorted by (band, bits) does
    * XOR + popcount + branch per product (~2-3 ns) and only touches
    * row machinery for emitted pairs — the 122.7 M true pairs, three
    * orders of magnitude fewer than the products. One shuffle
    * (repartition by bucket key), one partition sort, zero joins.
    *
    * The run buffer holds one bucket (two primitive long arrays);
    * [[GraftConf.HammingMaxBucketRows]] (default 16 M) fails loud if a bucket
    * exceeds it — that regime means the [[estimateProducts]] gate was
    * bypassed, and the fix is radius/sharding, not a silent OOM.
    *
    * Parallelism follows the session's `spark.sql.shuffle.partitions`
    * (the right knob — a cluster sizes it to cores), multiplied by
    * [[GraftConf.HammingOversplit]]: the product mass is bucket-skewed, so at
    * exactly cores=partitions the longest product-heavy partition can
    * straggle; measured at sf100/32 threads, 4× oversplit bought
    * ~10-20% (183-152 s vs ~201 s, run-to-run noise of the same
    * order). Default 1; set 4 on a real cluster.
    */
  /** The local engine's id contract: ids ride two PRIMITIVE long
    * arrays per bucket run — any orderable id type would force boxed
    * rows back into the hot loop, the exact cost the engine exists to
    * avoid. [[pairsWithin]] (relational) accepts any orderable id;
    * callers with non-long ids either cast or stay relational. */
  private def requireLongIds(df: DataFrame, idCol: String,
                             where: String): Unit = {
    val dt = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(dt == org.apache.spark.sql.types.LongType,
      s"$where requires a BIGINT id column (ids ride primitive long " +
        s"arrays in the popcount loop); `$idCol` is ${dt.simpleString} — " +
        "cast ids to long first, or use the relational pairsWithin")
  }

  /** `oversplitOverride` > 0 pins the partition multiplier (the
    * adaptive planner passes its occupancy-derived pick); 0 resolves
    * the conf, falling back to the measured default. */
  def pairsWithinLocal(df: DataFrame, idCol: String, fpCol: String,
                       maxDist: Int, blocks: Int = 0,
                       oversplitOverride: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireLongIds(df, idCol, "pairsWithinLocal")
    val L = layout(maxDist, blocks, width = 64)
    val oversplit =
      if (oversplitOverride > 0) oversplitOverride
      else GraftConf.HammingOversplit.get(spark)
    require(oversplit >= 1 && oversplit <= 64,
      s"${GraftConf.HammingOversplit.key} must be in [1, 64], got $oversplit")
    val p = spark.sessionState.conf.numShufflePartitions * oversplit
    val maxRun = GraftConf.HammingMaxBucketRows.get(spark)
    val d = maxDist
    val k = L.k
    val offs = L.offsets
    val masks = Array.tabulate(k)(L.blockMask)
    val cMask = L.comboMask
    val cBelow = L.maskBelow
    comboIndex(df, idCol, fpCol, L)
      .repartition(p, col("band"), col("bits"))
      .sortWithinPartitions(col("band"), col("bits"))
      .select(col("band"), col("bits"), col("id"), col("fp"))
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        val bit = it.buffered
        // iterator of runs (one bucket = consecutive rows with equal
        // (band, bits) after the partition sort), each flat-mapped to
        // its canonical qualifying pairs lazily — no per-run output
        // buffer, so a dup-clique bucket streams instead of OOMing.
        new Iterator[(Long, Long, Int)] {
          private var band = 0
          private var ids: Array[Long] = null
          private var fps: Array[Long] = null
          private var n = 0
          private var i = 0
          private var j = 1
          private var outA = 0L
          private var outB = 0L
          private var outH = 0
          private var ready = false

          private def loadRun(): Unit = {
            val head = bit.head
            band = head._1
            val bits = head._2
            val idB = Array.newBuilder[Long]
            val fpB = Array.newBuilder[Long]
            var c = 0
            while (bit.hasNext && bit.head._1 == band && bit.head._2 == bits) {
              val r = bit.next()
              idB += r._3
              fpB += r._4
              c += 1
              if (c > maxRun) throw new IllegalStateException(
                s"Hamming index bucket (band=$band) exceeds $maxRun rows " +
                  s"(${GraftConf.HammingMaxBucketRows.key}): the sampled-occupancy gate was " +
                  "bypassed — reduce the radius or pre-shard the corpus")
            }
            ids = idB.result(); fps = fpB.result(); n = c; i = 0; j = 1
          }

          private def advance(): Unit = {
            while (!ready) {
              if (ids == null || i >= n - 1) {
                // current run exhausted — pull runs until one has ≥ 2 rows
                ids = null
                if (!bit.hasNext) return
                loadRun()
                if (n < 2) { ids = null }
              } else {
                val fi = fps(i)
                val below = cBelow(band)
                val cm = cMask(band)
                while (!ready && j < n) {
                  val x = fi ^ fps(j)
                  if (java.lang.Long.bitCount(x) <= d) {
                    var abm = 0
                    var b = 0
                    while (b < k) {
                      if (((x >>> offs(b)) & masks(b)) == 0L) abm |= 1 << b
                      b += 1
                    }
                    if ((abm & below) == cm) {
                      val ia = ids(i); val ib = ids(j)
                      outA = if (ia < ib) ia else ib
                      outB = if (ia < ib) ib else ia
                      outH = java.lang.Long.bitCount(x)
                      ready = true
                    }
                  }
                  j += 1
                }
                if (!ready) { i += 1; j = i + 1 }
              }
            }
          }

          override def hasNext: Boolean = { if (!ready) advance(); ready }
          override def next(): (Long, Long, Int) = {
            if (!ready) advance()
            if (!ready) throw new NoSuchElementException
            ready = false
            (outA, outB, outH)
          }
        }
      }
      .toDF("id_a", "id_b", "hamming")
  }

  /** Diagnostic: per-(band,bits) bucket occupancy of the combination
    * index — Σ cnt² is the TRUE collision volume the join will
    * enumerate (the uniform n²/2^bits model under-counts when simhash
    * band values are vocabulary-biased). Feeds [[estimateProducts]]. */
  def bucketStats(df: DataFrame, fpCol: String, maxDist: Int,
                  blocks: Int = 0): DataFrame = {
    val L = layout(maxDist, blocks, width = 64)
    comboIndex(df.select(col(fpCol), col(fpCol).as("__hj_id")),
        "__hj_id", fpCol, L)
      .groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact Hamming pairs via the recursive half-word pigeonhole: if
    * d = d_left + d_right ≤ maxDist, then min(d_left, d_right) ≤
    * ⌊maxDist/2⌋ — so every qualifying pair agrees WITHIN
    * ⌊maxDist/2⌋ on at least one 32-bit half. Generate candidates by
    * running the cheap radius-⌊d/2⌋ combination index on EACH half
    * (32-bit key space: the same k gives twice the key bits of the
    * 64-bit level, so collisions drop ~2^k-fold), union, then verify
    * the exact 64-bit distance. Output identical to [[pairsWithin]].
    * NOT an automatic planner rung: on the dup-dense graded family it
    * was MEASURED ~150× slower than the flat index (near-dup clusters
    * make 32-bit halves agree within ⌊d/2⌋ far more often than the
    * uniform model predicts, and the candidate .distinct() explodes);
    * since round 10 the partition-local popcount engine
    * ([[pairsWithinLocal]]) owns the scale regime instead. Kept as an
    * explicit escape for corpora whose half-distance distribution is
    * benign (near-uniform fingerprints).
    */
  def pairsWithinHalved(df: DataFrame, idCol: String, fpCol: String,
                        maxDist: Int, blocksPerHalf: Int = 0): DataFrame = {
    require(maxDist >= 1 && maxDist < 32, s"maxDist $maxDist out of range")
    val dHalf = maxDist / 2
    val lo32 = col(fpCol).bitwiseAND(lit(0xffffffffL))
    val hi32 = shiftrightunsigned(col(fpCol), 32)
    def half(hc: Column, tag: String): DataFrame = {
      val withHalf = df.select(col(idCol).as("id"), hc.as("h"))
      // Band exactly the populated 32 bits (width=32): a 64-bit layout
      // would put constant-zero upper blocks into bucket keys, whose
      // all-upper combos degenerate into full cross products.
      pairsWithinWidth(withHalf, "id", "h", dHalf, blocksPerHalf, width = 32)
        .select(col("id_a"), col("id_b"))
    }
    val cands = half(lo32, "lo").unionAll(half(hi32, "hi"))
      .distinct()
    val fa = df.select(col(idCol).as("id_a"), col(fpCol).as("fp_a"))
    val fb = df.select(col(idCol).as("id_b"), col(fpCol).as("fp_b"))
    cands.join(fa, "id_a").join(fb, "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
