package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One probe row of a streamed vector: the vector replicated into one
  * of its `probes` nearest quantizer cells. */
case class VecProbe(vec_id: Long, cell: Int, e: Array[Double])

/** A per-(vector, cell) verdict: `kept` = no earlier vector in THIS
  * cell's state matched at the threshold. The overall survivor
  * decision is the AND over the vector's probe cells. */
case class ProbeVerdict(vec_id: Long, cell: Int, kept: Boolean)

/** Timestamped probe row for the TTL variant ([[SemDedupStream.verdictsTtl]]). */
case class VecProbeT(vec_id: Long, cell: Int, e: Array[Double],
                     ts: java.sql.Timestamp)

/** ONLINE (streaming) semantic dedup — the stateful upgrade of
  * [[graft.ops.SemDedup.blockedPairs]]: vectors arrive as an unbounded
  * stream in arrival order; a vector survives iff NO earlier-arrived
  * vector within cosine ≥ τ exists. Batch SemDeDup re-clusters the
  * corpus; a 100 TB INGEST pipeline cannot — it needs the keep/drop
  * verdict at arrival time against checkpointable state.
  *
  * Blocking: each vector is replicated into its `probes` nearest
  * quantizer cells (the [[graft.functions.NearestCells]] assignment
  * over a corpus-fit model) and the stream is keyed BY CELL — state
  * lives in the per-operator StateStore, partitioned by cell hash,
  * each executor holding only its cells. Every cell keeps ALL vectors
  * probed into it (not just survivors — cosine is not transitive, and
  * the exact first-occurrence semantics compares against every earlier
  * vector). A pair (j earlier, i) is caught iff their probe sets
  * intersect — exactly [[graft.ops.SemDedup.blockedPairs]]'s recall
  * condition, measured 1.0 on the graded corpora (SemDedupSpec).
  *
  * Per-cell verdicts emit in Update mode; the final survivor set is
  * the conjunction per vec_id (`kept_all`) — a plain batch aggregate
  * over the verdict stream's sink.
  */
object SemDedupStream {

  private implicit val probeEnc = Encoders.product[VecProbe]
  private implicit val verdictEnc = Encoders.product[ProbeVerdict]
  private implicit val keyEnc = Encoders.scalaInt

  /** Default cap on one cell's retained vectors (state is keep-all by
    * semantics; a cell this hot means the quantizer collapsed). */
  val MaxCellStateDefault = 65536

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-cell keep-all state as parallel lists (kept encodable by the
    * product encoder; vectors are primitive arrays). */
  case class CellState(ids: List[Long], vecs: List[Array[Double]])
  private implicit val stateEnc = Encoders.product[CellState]

  /** TTL-variant state: parallel entry timestamps (epoch ms) added. */
  case class CellStateT(ids: List[Long], vecs: List[Array[Double]],
                        tss: List[Long])
  private implicit val stateTtlEnc = Encoders.product[CellStateT]
  private implicit val probeTtlEnc = Encoders.product[VecProbeT]

  /** The stateful transform: probe rows keyed by cell; each vector is
    * checked against every EARLIER vector in the cell (state, plus
    * same-batch rows already inserted — the iterator is sorted by
    * vec_id, and replay order must be non-decreasing in vec_id across
    * batches for "earlier" to mean the oracle's `vec_id <`). */
  private def updateCell(minCosine: Double, maxCellState: Int)
                        (cell: Int, it: Iterator[VecProbe],
                         state: GroupState[CellState]): Iterator[ProbeVerdict] = {
    val st = state.getOption.getOrElse(CellState(Nil, Nil))
    var ids = st.ids
    var vecs = st.vecs
    // counted once per invocation, not per row — a seeded cell can
    // start thousands deep and List.length is O(n)
    var retained = ids.length
    val out = List.newBuilder[ProbeVerdict]
    it.toSeq.sortBy(_.vec_id).foreach { p =>
      val matched = vecs.exists(v => cos(v, p.e) >= minCosine)
      out += ProbeVerdict(p.vec_id, cell, !matched)
      ids = p.vec_id :: ids
      vecs = p.e :: vecs
      retained += 1
      if (retained > maxCellState) throw new IllegalStateException(
        s"semantic-dedup stream cell $cell exceeds $maxCellState " +
          "retained vectors (maxCellState): the quantizer " +
          "collapsed for this stream — refit with more cells")
    }
    state.update(CellState(ids, vecs))
    out.result().iterator
  }

  def verdicts(probes: Dataset[VecProbe], minCosine: Double,
               maxCellState: Int = MaxCellStateDefault): Dataset[ProbeVerdict] =
    probes.groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, ProbeVerdict](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        updateCell(minCosine, maxCellState))

  /** SEEDED variant: the stream starts with its per-cell vector state
    * PRE-LOADED from a published semantic index — online incremental
    * dedup, where a vector's arrival-time verdict is judged against
    * corpus ∪ earlier stream WITHOUT the corpus ever replaying through
    * the stream (the fuzzy-vector twin of
    * [[MinHashStream.verdictsSeeded]]). `seeds` is one (cell,
    * CellState) row per occupied corpus cell — Spark's initial-state
    * API requires unique keys, which the per-cell aggregation in
    * [[graft.ops.DedupIndex.semanticSeedState]] guarantees. Corpus
    * entries are by definition earlier than every streamed vector, so
    * a streamed vector matching ANY seeded entry is dropped, and
    * stream-vs-stream semantics are exactly [[verdicts]]. */
  def verdictsSeeded(probes: Dataset[VecProbe],
                     seeds: Dataset[(Int, CellState)], minCosine: Double,
                     maxCellState: Int = MaxCellStateDefault): Dataset[ProbeVerdict] = {
    val initial = seeds.groupByKey(_._1)(keyEnc).mapValues(_._2)(stateEnc)
    probes.groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, ProbeVerdict](
        OutputMode.Update, GroupStateTimeout.NoTimeout, initial)(
        updateCell(minCosine, maxCellState))
  }

  /** TTL variant of [[verdicts]] — the BOUNDED-STATE online dedup an
    * unbounded ingest needs: a vector is dropped only if an
    * earlier-arrived vector within cosine ≥ τ exists whose event time
    * is at most `ttl` older (the sliding-window dedup contract, the
    * cosine analogue of `dropDuplicatesWithinWatermark`). The TTL test
    * is applied PER COMPARISON, so a row that REACHES the operator is
    * judged exactly against every retained in-window entry; the
    * watermark drives state hygiene — each invocation evicts entries
    * older than watermark − ttl (no future on-time row can match
    * them), and a cell idle past its last event + ttl is timed out and
    * REMOVED wholesale. State is therefore bounded by the arrival rate
    * × ttl, not corpus size.
    *
    * LATE-ROW CONTRACT (the bound the exactness claim lives under):
    * Spark drops rows older than the current watermark BEFORE any
    * EventTimeTimeout flatMapGroupsWithState operator, so a vector
    * arriving later than the configured watermark delay gets NO
    * verdict at all — it is absent from the survivor set, not judged.
    * This is the standard stateful-streaming trade: the watermark
    * delay is the lateness tolerance the caller buys, and rows beyond
    * it are lost to the operator (count them upstream with an
    * observation on `ts < watermark` if the pipeline must alarm).
    * Within that tolerance, verdicts are exact: hygiene eviction keys
    * on watermark − ttl, so an entry is only evicted once every row
    * that could still arrive on-time is too new to match it. Requires
    * a watermark on `ts` (EventTimeTimeout). */
  def verdictsTtl(probes: Dataset[VecProbeT], minCosine: Double,
                  ttlMs: Long,
                  maxCellState: Int = MaxCellStateDefault): Dataset[ProbeVerdict] =
    probes.groupByKey(_.cell)
      .flatMapGroupsWithState[CellStateT, ProbeVerdict](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (cell: Int, it: Iterator[VecProbeT], state: GroupState[CellStateT]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + ttl: every entry is expired
            // for any possible future row — drop the whole cell
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val st = state.getOption.getOrElse(CellStateT(Nil, Nil, Nil))
            var ids = st.ids; var vecs = st.vecs; var tss = st.tss
            // hygiene eviction: entries no future row can match
            if (wm > 0) {
              val keep = (ids, vecs, tss).zipped.filter((_, _, t) => t >= wm - ttlMs)
              ids = keep._1; vecs = keep._2; tss = keep._3
            }
            val out = List.newBuilder[ProbeVerdict]
            var maxTs = if (tss.isEmpty) 0L else tss.max
            it.toSeq.sortBy(_.vec_id).foreach { p =>
              val pMs = p.ts.getTime
              val matched = (vecs, tss).zipped.exists { (v, t) =>
                pMs - t <= ttlMs && cos(v, p.e) >= minCosine
              }
              out += ProbeVerdict(p.vec_id, cell, !matched)
              ids = p.vec_id :: ids; vecs = p.e :: vecs; tss = pMs :: tss
              if (pMs > maxTs) maxTs = pMs
              if (ids.length > maxCellState) throw new IllegalStateException(
                s"semantic-dedup stream cell $cell exceeds $maxCellState " +
                  "retained vectors (maxCellState) within one TTL window")
            }
            state.update(CellStateT(ids, vecs, tss))
            state.setTimeoutTimestamp(maxTs + ttlMs + 1)
            out.result().iterator
          }
      }

  /** Batch-side survivor reduction: a vector survives iff EVERY probe
    * cell kept it. */
  def survivors(spark: SparkSession, verdictTable: String): Dataset[java.lang.Long] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.table(verdictTable)
      .groupBy(col("vec_id"))
      .agg(min(col("kept").cast("int")).as("k"))
      .filter(col("k") === 1)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
      .as[java.lang.Long]
  }
}
