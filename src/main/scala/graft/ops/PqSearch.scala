package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.JobLabel

/** PRODUCT-QUANTIZED similarity search (IVF-ADC's coding half) — the
  * memory-bounded ANN regime the flat family can't reach: `sim_search`
  * streams full vectors (dim 64 × 8 B = 512 B/vector); at 100 TB of
  * embeddings the vectors themselves are the bottleneck — they don't
  * fit executor memory and every query re-reads them. PQ stores each
  * vector as `m` SUBSPACE CODE indices (16 here, one byte each at
  * k=32 — a 32× compression of the 512 B vector), and scores a query against the codes alone
  * via ADC (asymmetric distance computation): the query precomputes a
  * per-subspace lookup table of its distances to that subspace's `k`
  * codebook centroids, and a candidate's approximate distance is just
  * `m` table lookups summed — no vector arithmetic per candidate, a
  * sequential byte-crunch over the coded corpus that whole-stage
  * codegen chews through.
  *
  * Pipeline (all deterministic — seeded k-means fits, expression-only
  * encode/score, total tie-break orders):
  *   1. [[fit]]: `m` independent k-means codebooks, one per
  *      `dsub = dim/m` slice of the L2-NORMALIZED vectors (normalizing
  *      first makes squared-L2 ranking ≡ cosine ranking, keeping this
  *      family's cosine contract);
  *   2. [[encode]]: per subspace, the 1-based index of the nearest
  *      centroid (`array_position(d, array_min(d))` — first-minimum
  *      tie-break, pure codegen);
  *   3. [[pqShortlist]]: broadcast queries carry their `m × k` LUTs;
  *      candidates score by `m` `element_at` lookups; the salted
  *      two-stage top-N keeps every query's shortlist without
  *      funneling the corpus through one task (bruteTopK's shape);
  *   4. [[pqTopK]]: the shortlist RE-RANKS by exact cosine over the
  *      full vectors — touching only shortlist-many vectors per query,
  *      which is the point: full-precision reads shrink from corpus to
  *      shortlist.
  *
  * Accuracy is graded like every sketch in this engine: recall of the
  * PQ shortlist against the exact top-k truth, asserted as a literal
  * boolean the oracle hash-compares (`sim_search_pq`) — a broken
  * codebook, encode, or LUT silently fails the gate.
  *
  * Composition note: at cluster scale this sits INSIDE the IVF family
  * — restrict the scored corpus to the query's probed cells
  * (`DedupIndex.ensureIvfIndex`'s assignment) and PQ-score only those;
  * the two prune different axes (IVF: which vectors; PQ: bytes per
  * vector).
  */
object PqSearch {

  /** Fit-sample ceiling per codebook (the same economics as
    * [[AnnSearch.IvfFitSample]] — Lloyd on a hash-sampled subset;
    * codebooks are 16 × 8 doubles, the fit never needs the corpus). */
  val PqFitSample = 100000L

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (dsub doubles). */
  final case class PqModel(m: Int, dsub: Int, k: Int,
                           codebooks: Array[Array[Array[Double]]])

  private val models =
    scala.collection.concurrent.TrieMap.empty[String, PqModel]

  /** L2-normalize an array column (zero vectors pass through as-is). */
  private def normalized(e: Column): Column = {
    val n = sqrt(aggregate(e, lit(0.0), (s, x) => s + x * x))
    when(n === 0.0, e).otherwise(transform(e, x => x / n))
  }

  /** Train `m` per-subspace codebooks (seeded, hash-sampled) on the
    * normalized vectors. Deterministic per (data, m, k, seed). Its jobs
    * carry `pq codebooks:` labels. */
  def fit(spark: SparkSession, emb: DataFrame, idCol: String, eCol: String,
          m: Int = 16, k: Int = 32, seed: Long = 42L,
          cacheKey: Option[String] = None): PqModel = {
    def doFit(): PqModel = {
      import org.apache.spark.ml.functions.array_to_vector
      val dim = JobLabel(spark, "pq codebooks: dimension") {
        emb.select(size(col(eCol))).head.getInt(0)
      }
      require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
      val dsub = dim / m
      val n = JobLabel(spark, "pq codebooks: sample count")(emb.count())
      val mod = math.max(1L, math.round(n / math.max(1.0, PqFitSample.toDouble)))
      val base = emb.select(col(idCol).as("id"),
          normalized(col(eCol)).as("en"))
      val sample =
        (if (mod <= 1L) base
         else base.filter(pmod(xxhash64(col("id")), lit(mod)) === 0))
          .cache()
      try JobLabel(spark, "pq codebooks: k-means fit") {
        val books = (0 until m).map { j =>
          val sub = sample.select(array_to_vector(
            slice(col("en"), j * dsub + 1, dsub)).as("fv"))
          new org.apache.spark.ml.clustering.KMeans()
            .setK(k).setSeed(seed + j).setMaxIter(10)
            .setFeaturesCol("fv").setPredictionCol("c")
            .fit(sub).clusterCenters.map(_.toArray)
        }.toArray
        PqModel(m, dsub, k, books)
      } finally { sample.unpersist(); () }
    }
    cacheKey match {
      case Some(ck) => models.getOrElseUpdate(s"$ck:$m:$k:$seed", doFit())
      case None => doFit()
    }
  }

  /** [[fit]] with the memo keyed on the FULL staleness stamp and prior
    * stamps of the same corpus EVICTED (round 17, ADVICE r16 — same
    * hardening as [[AnnSearch.ivfModelForStamped]]). */
  private[ops] def fitStamped(spark: SparkSession, emb: DataFrame,
                              idCol: String, eCol: String,
                              m: Int, k: Int, seed: Long,
                              prefix: String, stamp: String): PqModel = {
    val key = s"$prefix:$stamp:$m:$k:$seed"
    if (!models.contains(key))
      models.keys.filter(kk => kk.startsWith(s"$prefix:") && kk != key)
        .foreach(models.remove)
    models.getOrElseUpdate(key,
      fit(spark, emb, idCol, eCol, m, k, seed, cacheKey = None))
  }

  private def bookLit(model: PqModel, j: Int): Column =
    typedLit(model.codebooks(j).map(_.toSeq).toSeq)

  /** Squared L2 between an array column and each centroid of book `j`:
    * an array<double> of length k. */
  private def subDists(sub: Column, model: PqModel, j: Int): Column =
    transform(bookLit(model, j), c =>
      aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, x) => s + x))

  private def booksLit(model: PqModel): Column =
    typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Add `codes`: array<int> of length m, each the 1-BASED index of
    * the nearest centroid in its subspace (first-minimum tie-break).
    * The coded row is what a 100 TB deployment persists: m small ints
    * instead of dim doubles. Runs the native codegen `pq_encode`
    * expression — encode touches every corpus row at ingest, the
    * biggest row count in the pipeline, and the composable
    * per-subspace HOF form is interpreted (CodegenFallback) and
    * measured several× slower; [[encodeStaged]] keeps that form for
    * the bit-equality spec. */
  def encode(df: DataFrame, eCol: String, model: PqModel): DataFrame =
    df.withColumn("codes", graft.engine.GraftFunctions.pqEncode(
      df.sparkSession, normalized(col(eCol)), booksLit(model)))

  /** The composable-expression encoder (staged projections: normalize
    * → per-subspace dists → argmin codes — each reuse an attribute
    * REFERENCE; inlining the dist tree into
    * `array_position(d, array_min(d))` clones a transform+zip_with+
    * aggregate subtree 2m times into one Project, measured to blow the
    * OPTIMIZER up, minutes of plan time on a 2k-row corpus). Kept as
    * the independent implementation the spec pins [[encode]]'s native
    * expression against, bit-for-bit. */
  private[graft] def encodeStaged(df: DataFrame, eCol: String,
                                  model: PqModel): DataFrame = {
    val withEn = df.withColumn("__pq_en", normalized(col(eCol)))
    val withDists = (0 until model.m).foldLeft(withEn) { (d, j) =>
      d.withColumn(s"__pq_d$j",
        subDists(slice(col("__pq_en"), j * model.dsub + 1, model.dsub),
          model, j))
    }
    withDists.withColumn("codes",
      array((0 until model.m).map { j =>
        array_position(col(s"__pq_d$j"), array_min(col(s"__pq_d$j")))
          .cast("int")
      }: _*))
      .drop(("__pq_en" +: (0 until model.m).map(j => s"__pq_d$j")): _*)
  }

  /** Per-query shortlist by ADC over the coded corpus: approximate
    * squared-L2 = sum over subspaces of LUT_j(code_j). Queries (the
    * small side) broadcast with their LUTs; the corpus side touches
    * only `codes` — no full vectors. Salted two-stage top-N keeps the
    * per-query funnel parallel (see [[AnnSearch.bruteTopK]]). */
  def pqShortlist(spark: SparkSession, emb: DataFrame, idCol: String,
                  eCol: String, queryPred: Column, model: PqModel,
                  shortlist: Int = 100): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(eCol).as("e"))
    val coded = encode(base, "e", model).select(col("id"), col("codes"))
    pqShortlistCoded(spark, coded, base.filter(queryPred)
      .select(col("id").as("q_id"), col("e").as("qe")), model, shortlist)
  }

  /** [[pqShortlist]] against a PRE-ENCODED corpus (`id`, `codes`) —
    * the deployment shape: encode once at ingest, persist the codes
    * (m ints/row), and every query scans codes only; full vectors
    * never load on the shortlist path. `queries` = (q_id, qe raw
    * vectors). */
  def pqShortlistCoded(spark: SparkSession, coded: DataFrame,
                       queries: DataFrame, model: PqModel,
                       shortlist: Int = 100): DataFrame = {
    // LUTs staged (normalize once, one column per subspace) — same
    // optimizer-tree-size discipline as encodeStaged; queries are the
    // tiny side, so the interpreted HOFs cost nothing here
    val qn = queries.select(col("q_id"), normalized(col("qe")).as("qn"))
    val qLuts = (0 until model.m).foldLeft(qn) { (d, j) =>
      d.withColumn(s"__pq_l$j",
        subDists(slice(col("qn"), j * model.dsub + 1, model.dsub), model, j))
    }
    val q = qLuts.withColumn("luts",
        array((0 until model.m).map(j => col(s"__pq_l$j")): _*))
      .select(col("q_id"), col("luts"))
    val scored = coded.crossJoin(broadcast(q))
      .filter(col("id") =!= col("q_id"))
      .withColumn("adist",
        graft.engine.GraftFunctions.pqAdc(spark, col("codes"), col("luts")))
    val wSalt = Window.partitionBy(pmod(col("id"), lit(64)), col("q_id"))
      .orderBy(col("adist").asc, col("id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("id"))
    scored.withColumn("prank", row_number().over(wSalt))
      .filter(col("prank") <= shortlist)
      .withColumn("srank", row_number().over(w))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("srank"), col("id"), col("adist"))
  }

  /** IVF×PQ composed shortlist — the two prunes stacked, each on its
    * own axis: the IVF coarse quantizer restricts WHICH vectors are
    * scored (a query's `nprobe` nearest cells of `nlist`, the same
    * seeded k-means + probe expressions as [[AnnSearch.ivfTopK]] —
    * bit-identical cell routing), and PQ restricts the BYTES per
    * scored vector (ADC over the codes). Candidate count drops
    * ~nprobe/nlist before a single distance evaluates; at 100 TB this
    * is the IVFADC layout proper — the probed cells' CODE rows are the
    * only thing a search reads. Recall compounds (a true neighbor must
    * share a probed cell AND survive the ADC shortlist), so the graded
    * gate re-measures the composition, not the parts. */
  def ivfPqShortlist(spark: SparkSession, emb: DataFrame, idCol: String,
                     eCol: String, queryPred: Column, model: PqModel,
                     nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
                     shortlist: Int = 100,
                     cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col(idCol).as("id"), col(eCol).as("e"))
      .withColumn("fv", array_to_vector(col("e")))
    val ivf = AnnSearch.ivfModelFor(spark, base, nlist, seed, cacheKey)
    val centroids = ivf.clusterCenters.map(_.toArray)
    val assigned = ivf.transform(base)
      .select(col("id"), col("e"), col("cell"))
    val coded = encode(assigned, "e", model)
      .select(col("id"), col("cell"), col("codes"))
    val qRaw = base.filter(queryPred)
      .select(col("id").as("q_id"), col("e").as("qe"))
    val probes = AnnSearch.probeCellsForQueries(qRaw, centroids, nprobe)
    val qn = probes.withColumn("qn", normalized(col("qe")))
    val qLuts = (0 until model.m).foldLeft(qn) { (d, j) =>
      d.withColumn(s"__pq_l$j",
        subDists(slice(col("qn"), j * model.dsub + 1, model.dsub), model, j))
    }
    val q = qLuts.withColumn("luts",
        array((0 until model.m).map(j => col(s"__pq_l$j")): _*))
      .select(col("q_id"), col("cell"), col("luts"))
    // equi-join on cell replaces the flat variant's cross join: only
    // the probed cells' code rows are scored
    val scored = coded.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .withColumn("adist",
        graft.engine.GraftFunctions.pqAdc(spark, col("codes"), col("luts")))
    val wSalt = Window.partitionBy(pmod(col("id"), lit(64)), col("q_id"))
      .orderBy(col("adist").asc, col("id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("id"))
    scored.withColumn("prank", row_number().over(wSalt))
      .filter(col("prank") <= shortlist)
      .withColumn("srank", row_number().over(w))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("srank"), col("id"), col("adist"))
  }

  /** Full PQ search: ADC shortlist → exact-cosine re-rank of the
    * shortlist only (full-precision vector reads ∝ shortlist × queries,
    * never the corpus). Output shape matches [[AnnSearch.bruteTopK]]. */
  def pqTopK(spark: SparkSession, emb: DataFrame, idCol: String,
             eCol: String, queryPred: Column, model: PqModel,
             k: Int = 10, shortlist: Int = 100): DataFrame = {
    val shortIds = pqShortlist(spark, emb, idCol, eCol, queryPred, model,
      shortlist).select(col("q_id"), col("id"))
    val vecs = emb.select(col(idCol).as("id"), col(eCol).as("e"))
    val q = vecs.filter(queryPred)
      .select(col("id").as("q_id"), col("e").as("qe"))
    val exact = shortIds
      .join(vecs, "id")
      .join(broadcast(q), "q_id")
      .withColumn("sim",
        graft.engine.GraftFunctions.cosineSim(spark, col("qe"), col("e")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id").as("neighbor_id"),
        col("sim"))
  }
}
