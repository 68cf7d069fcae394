package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Tables}

/** §2.8 streaming semantics, graded through their batch-equivalent
  * plans: `window`/`session_window` are the same Catalyst expressions
  * Structured Streaming executes incrementally, so the bounded `events`
  * table doubles as a deterministic replay. The actual streaming
  * execution path (readStream → watermark → stateful ops → sink) is
  * exercised in ScalaTest via MemoryStream (see graft.streaming and
  * its specs), where out-of-order/late data can be injected — that
  * part has no DuckDB analogue by design (SURVEY.md §5.3).
  */
object StreamingQueries extends QueryGroup {

  /** Per-execution memory-sink name counter: bench reruns share a JVM,
    * and a restarted memory query must never read a predecessor's
    * accumulated table. */
  val sinkCounter = new java.util.concurrent.atomic.AtomicLong()

  def queries: Seq[GQuery] = Seq(

    GQuery("stream_tumbling",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), Det.dsum($"value").as("sum_value"))
          .select(unix_millis($"w.start").as("bucket_ms"), $"event_type", $"n", $"sum_value")
          .orderBy($"bucket_ms", $"event_type")
      },
      Some(s"""SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS bucket_ms,
              event_type, COUNT(*) AS n, ${Det.sql.dsum("value")} AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""")),

    GQuery("stream_sliding",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
          .agg(count(lit(1)).as("n"), Det.dsum($"value").as("sum_value"))
          .select(unix_millis($"w.start").as("bucket_ms"), $"n", $"sum_value")
          .orderBy($"bucket_ms")
      },
      Some(s"""SELECT epoch_ms(time_bucket(INTERVAL '15 minutes', ts)
                - k * INTERVAL '15 minutes') AS bucket_ms,
              COUNT(*) AS n, ${Det.sql.dsum("value")} AS sum_value
              FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) ks
              GROUP BY 1 ORDER BY bucket_ms""")),

    GQuery("stream_session",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select($"user_id", unix_millis($"w.start").as("session_start_ms"), $"n")
          .orderBy($"user_id", $"session_start_ms")
      },
      Some("""WITH flagged AS (
                SELECT user_id, ts, event_id,
                  CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              sess AS (
                SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged)
              SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms, COUNT(*) AS n
              FROM sess GROUP BY user_id, sid
              ORDER BY user_id, session_start_ms""")),

    // Deterministic first-seen-per-key dedup (streaming dropDuplicates
    // keeps an arbitrary row; the graded variant pins first-by-time).
    GQuery("stream_dedup",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts", $"event_id")
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"event_id", $"user_id", $"event_type")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id, event_type FROM (
                SELECT event_id, user_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn
                FROM events) t
              WHERE rn = 1 ORDER BY event_id""")),

    // dropDuplicatesWithinWatermark's state machine, graded through its
    // deterministic batch analogue (graft.ops.ChainDedup): the first
    // event per (user, type) opens a 2-day suppression window anchored
    // at the previously KEPT event — the chain recurrence the streaming
    // dedup state store implements via TTL'd entries, and the reason
    // streaming dedup state stays BOUNDED at 100 TB (entries expire;
    // plain dropDuplicates state grows forever). Not expressible with
    // window functions (each keep-decision depends on the previous
    // decision), hence the one-shuffle sorted-scan implementation; the
    // oracle walks the same chain as a recursive CTE, so the chain
    // itself is hash-checked. The real incremental path (MemoryStream →
    // withWatermark → dropDuplicatesWithinWatermark) is ScalaTest-gated
    // against this batch semantics in ChainDedupSpec.
    GQuery("stream_dedup_ttl",
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
          .select($"event_id", $"user_id", $"event_type",
            unix_millis($"ts").as("tms"))
        graft.ops.ChainDedup
          .keepFirstPerTtl(ev, Seq("user_id", "event_type"), "tms",
            ttlMs = 2L * 24 * 3600 * 1000, tieBreakCol = "event_id")
          .select($"event_id", $"user_id", $"event_type")
          .orderBy($"event_id")
      },
      Some("""WITH RECURSIVE ev AS (
                SELECT user_id, event_type, event_id, epoch_ms(ts) AS tms,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn
                FROM events),
              keep AS (
                SELECT user_id, event_type, event_id, tms, rn,
                       tms AS kept_ts, TRUE AS kept
                FROM ev WHERE rn = 1
                UNION ALL
                SELECT e.user_id, e.event_type, e.event_id, e.tms, e.rn,
                       CASE WHEN e.tms >= k.kept_ts + 172800000
                            THEN e.tms ELSE k.kept_ts END,
                       e.tms >= k.kept_ts + 172800000
                FROM ev e JOIN keep k
                  ON e.user_id = k.user_id AND e.event_type = k.event_type
                 AND e.rn = k.rn + 1)
              SELECT event_id, user_id, event_type FROM keep
              WHERE kept ORDER BY event_id""")),

    // Running per-key state, graded through the DECLARATIVE aggregate —
    // count + exact-decimal sum are what HashAggregateExec maintains
    // incrementally (partial/final), so map-side combine and codegen
    // apply; a typed fold here would disable both. The genuinely
    // stateful incremental variant (GroupState across micro-batches)
    // lives in graft.streaming.Stateful + its MemoryStream spec.
    GQuery("stream_stateful",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
               Det.dsum($"value").as("total_value"))
          .orderBy($"user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
              ${Det.sql.dsum("value")} AS total_value
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // Watermarked tumbling aggregate, graded on its batch-equivalent
    // plan: on an in-order replay nothing is late, so the watermarked
    // result equals the plain windowed aggregate (SURVEY §2.8 — the
    // EventTimeWatermark node is eliminated in batch; the late-drop
    // behavior itself is MemoryStream-tested in StreamingSpec). Routed
    // through the StreamFrame veneer to exercise the reference-shaped
    // withWatermark → tumbling call path.
    GQuery("stream_watermark",
      (s, dir) => {
        import s.implicits._
        new graft.engine.StreamFrame(Tables(s, dir, "events"))
          .withWatermark("ts", "10 minutes")
          .tumbling("ts", "30 minutes", Seq("event_type"),
            Seq(count(lit(1)).as("n"), Det.dsum($"value").as("sum_value")))
          .toDF()
          .select(unix_millis($"window.start").as("bucket_ms"),
            $"event_type", $"n", $"sum_value")
          .orderBy($"bucket_ms", $"event_type")
      },
      Some(s"""SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) AS bucket_ms,
              event_type, COUNT(*) AS n, ${Det.sql.dsum("value")} AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""")),

    // Windowed top-k: the highest-value event per hour — window bucket
    // + per-bucket rank, the batch-equivalent of a streaming "top
    // sellers this hour" query (rank partitions by the window bucket,
    // so state stays per-window — scale-safe).
    GQuery("stream_topk",
      (s, dir) => {
        import s.implicits._
        // date_trunc, not window(...)("start"): same bucket value, but no
        // per-row window-struct allocation (VERDICT r8 #8).
        val bucketed = Tables(s, dir, "events")
          .withColumn("bucket_ms",
            unix_millis(date_trunc("hour", $"ts")))
        val w = Window.partitionBy($"bucket_ms")
          .orderBy($"value".desc, $"event_id")
        bucketed
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"bucket_ms", $"rnk".cast("long").as("rnk"),
            $"event_id", $"value")
          .orderBy($"bucket_ms", $"rnk")
      },
      Some("""SELECT bucket_ms, rnk, event_id, value FROM (
                SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS bucket_ms,
                  event_id, value,
                  ROW_NUMBER() OVER (
                    PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                    ORDER BY value DESC, event_id) AS rnk
                FROM events) t
              WHERE rnk <= 3 ORDER BY bucket_ms, rnk""")),

    GQuery("stream_static_join",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .join(broadcast(Tables(s, dir, "customer")), $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), Det.dsum($"value").as("sum_value"))
          .orderBy($"c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${Det.sql.dsum("value")} AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Stream-stream interval join: clicks within the hour before each purchase.
    GQuery("stream_stream_join",
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
        val p = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts".as("p_ts"))
        val c = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"ts".as("c_ts"))
        p.join(c, $"user_id" === $"c_user" &&
            $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"user_id")
      },
      Some("""SELECT p.user_id, COUNT(*) AS n_pairs
              FROM (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase') p
              JOIN (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id
               AND c.c_ts >= p.p_ts - INTERVAL '1 hour' AND c.c_ts <= p.p_ts
              GROUP BY p.user_id ORDER BY p.user_id"""))
  ,

    // Per-window exact distinct users (unique-visitors per hour). In
    // Spark's plan count(DISTINCT) expands to a two-stage aggregate:
    // partial dedup of (window, user) on the map side, one exchange
    // keyed by window, final exact count — the scalable exact shape
    // (state per window is bounded by distinct users, not events). The
    // streaming upgrade of the same plan swaps the exact count for
    // approx_count_distinct when unbounded state is a concern;
    // exactness is the graded contract here, on the bounded replay.
    // Windowed long→wide pivot (the dashboard shape): per-hour counts
    // fanned into one column per event type, with a PLAN-TIME value
    // list (an unpinned pivot adds a distinct-scan job and an
    // unbounded-cardinality hazard — same contract as the batch
    // `pivot` key). One exchange keyed by window; the pivot itself is
    // conditional aggregation inside the same HashAggregate.
    GQuery("stream_window_pivot",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy(window($"ts", "1 hour").as("w"))
          .pivot("event_type",
            Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(unix_millis($"w.start").as("bucket_ms"),
            $"click", $"view", $"purchase", $"signup", $"error")
          .orderBy($"bucket_ms")
      },
      Some("""SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS bucket_ms,
                COUNT(*) FILTER (event_type = 'click') AS click,
                COUNT(*) FILTER (event_type = 'view') AS view,
                COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                COUNT(*) FILTER (event_type = 'signup') AS signup,
                COUNT(*) FILTER (event_type = 'error') AS error
              FROM events GROUP BY 1 ORDER BY bucket_ms""")),

    // Terminal sink row (§2.1 sink_memory/foreachBatch) made graded:
    // the reference's to_df()/chunk-callback terminal as a REAL
    // Structured Streaming run, not a batch stand-in. A fixed `events`
    // slice (user_id < 100 — constant work at any sf; the predicate
    // reaches the parquet scan) replays in 3 FILE-SOURCE micro-batches
    // (graft.streaming.FileReplay — executors stage and read the
    // chunks; the driver never materializes the stream input) through
    // an update-mode running aggregate → foreachBatch KEYED UPSERT.
    // Every delivered batch is applied TWICE: Structured Streaming
    // guarantees at-least-once delivery to foreachBatch, and
    // end-to-end exactly-once is recovered by sink idempotence (update
    // mode emits the new running total per key, so re-applying a batch
    // rewrites the same rows with the same values). The graded output
    // is the final materialized table; the oracle is the one-pass batch
    // aggregate it must equal exactly. The driver-side collect is the
    // terminal edge itself (≙ StreamFrame.collectRows), not an operator
    // shortcut: per-key running totals are bounded by the keyed slice.
    GQuery("stream_foreach_upsert",
      (s, dir) => {
        import s.implicits._
        // chunk by EVENT TIME (the natural stream arrival order), so a
        // user's running total is updated ACROSS micro-batches — the
        // incremental update-mode state this key grades
        val events = Tables(s, dir, "events")
          .filter($"user_id" < 100)
          .select($"user_id", $"ts", $"value",
            unix_millis($"ts").as("__ord"))
        val target = new java.util.concurrent.ConcurrentHashMap[
          Long, (Long, java.math.BigDecimal)]()
        graft.streaming.FileReplay.replay(s, events, "__ord", 3) { in =>
          in.groupBy($"user_id")
            .agg(count(lit(1)).as("n"),
              sum($"value".cast("decimal(18,2)")).as("sv"))
            .writeStream.outputMode("update")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              val rows = batch.collect()
              (0 until 2).foreach { _ => // simulated redelivery
                rows.foreach(r =>
                  target.put(r.getLong(0), (r.getLong(1), r.getDecimal(2))))
              }
            }
            .start()
        }
        import scala.jdk.CollectionConverters._
        target.asScala.toSeq
          // exact decimal total → ONE double cast, same tree as Det.dsum
          .map { case (u, (n, sv)) => (u, n, sv.doubleValue) }
          .toDF("user_id", "n_events", "sum_value")
          .orderBy($"user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 100
              GROUP BY user_id ORDER BY user_id""")),

    // The DISTRIBUTED foreachBatch sink — the shape stream_foreach_upsert's
    // driver-side map deliberately is not. Each update-mode micro-batch
    // MERGEs into an AtomicPublish-published parquet table via
    // MergeInto.upsertInto: the anti-join + union + versioned write all
    // run on executors, the driver only swaps the manifest — at 100 TB
    // the per-batch state lives in the table, not in any process. Same
    // at-least-once armor, applied TWICE per batch: update mode emits
    // the new running total per key, so a re-applied MERGE rewrites the
    // same rows to the same values and the published table converges
    // regardless of redelivery. A reader concurrent with any commit
    // sees a complete version (the manifest-swap guarantee the
    // MaintenanceSpec race test pins). Graded output = the final
    // published table; oracle = the one-pass batch aggregate.
    GQuery("stream_foreach_merge",
      (s, dir) => {
        import s.implicits._
        import graft.ops.{AtomicPublish, MergeInto}
        // chunk by event time (see stream_foreach_upsert): keys recur
        // across micro-batches, so the MERGE really UPDATES rows
        val events = Tables(s, dir, "events")
          .filter($"user_id" < 100)
          .select($"user_id", $"ts", $"value",
            unix_millis($"ts").as("__ord"))
        val table = graft.engine.Scratch.dir("stream_foreach_merge_target")
        // fresh table per execution (bench reruns share the JVM tmpdir)
        val fsPath = new org.apache.hadoop.fs.Path(table)
        val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(fsPath)) fs.delete(fsPath, true)
        // seed version 0: an EMPTY table with exactly the streaming
        // aggregate's schema (same expressions on a false-filtered scan)
        val proto = Tables(s, dir, "events").filter(lit(false))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast("decimal(18,2)")).as("sv"))
        AtomicPublish.publish(s, table)(p => proto.write.parquet(p))
        // 2 micro-batches x 2 applications = 4 distributed MERGE
        // commits: incremental state across batches AND redelivery
        // are both exercised; each commit is a full read+anti-join+
        // write+manifest-swap cycle (~1 s of fixed machinery each)
        graft.streaming.FileReplay.replay(s, events, "__ord", 2) { in =>
          in.groupBy($"user_id")
            .agg(count(lit(1)).as("n_events"),
              sum($"value".cast("decimal(18,2)")).as("sv"))
            .writeStream.outputMode("update")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              // the MERGE references its source twice (distinct keys +
              // union); persist the micro-batch so the state-store
              // output is not re-planned per reference, and MATERIALIZE
              // it at the state stage's own parallelism before anything
              // coalesces: the round-16 shape coalesced ABOVE the
              // stateful aggregation, so the first commit's single
              // staging task computed (and cached) every state-store
              // partition serially — ~2.5 s of state machinery on one
              // core (guide §2.6: don't leave the cluster idle behind a
              // narrow dep). Staged-file sizing is the commit path's
              // job now: upsertInto applies the size-conditional
              // coalesce to the CACHED batch, so each commit still
              // stages one file, without re-running the state stage.
              val b = batch.persist()
              try {
                graft.engine.JobLabel(s, "foreach_merge: land state batch") {
                  b.count(); ()
                }
                (0 until 2).foreach { _ => // simulated redelivery
                  MergeInto.upsertInto(s, table, b, Seq("user_id")); ()
                }
              } finally { b.unpersist(); () }
            }
            .start()
        }
        AtomicPublish.read(s, table)
          .select($"user_id", $"n_events",
            $"sv".cast("double").as("sum_value"))
          .orderBy($"user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 100
              GROUP BY user_id ORDER BY user_id""")),

    // STREAMING MV MAINTENANCE (round 16): the serving-layer loop a
    // real pipeline runs — micro-batches MERGE raw events into a
    // published fact table and the materialized view refreshes
    // INCREMENTALLY after every commit (change-feed-driven partial
    // recompute, cost ∝ the batch's affected groups, never the fact).
    // Three chunks = three merge+refresh cycles; the in-key require
    // pins every refresh to a 1-commit window (never a fullRefresh
    // re-base), and the final MV content hash-grades against the
    // from-scratch oracle — the refreshed-equals-recomputed contract.
    GQuery("stream_mv_refresh",
      (s, dir) => {
        import s.implicits._
        import graft.ops.{AtomicPublish, MergeInto, MaterializedView}
        val events = Tables(s, dir, "events")
          .filter($"user_id" < 50)
          .select($"event_id", $"user_id", $"value",
            unix_millis($"ts").as("__ord"))
        val fact = graft.engine.Scratch.dir("smv_fact")
        val mv = graft.engine.Scratch.dir("smv_view")
        for (t <- Seq(fact, mv)) {
          val p = new org.apache.hadoop.fs.Path(t)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        val proto = Tables(s, dir, "events").filter(lit(false))
          .select($"event_id", $"user_id", $"value")
        AtomicPublish.publish(s, fact)(p => proto.write.parquet(p))
        MaterializedView.create(s, mv, fact,
          keys = Seq("event_id"), groupCols = Seq("user_id"),
          aggs = Seq(
            MaterializedView.AggSpec("n_events", "COUNT(*)"),
            MaterializedView.AggSpec("sum_value", Det.sql.dsum("value"))))
        graft.streaming.FileReplay.replay(s, events, "__ord", 3) { in =>
          in.writeStream.outputMode("append")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              // batch-sized merge source: upsertInto stages it as one
              // file when small (Sizing.coalesceForStaging, guide §6)
              MergeInto.upsertInto(s, fact, batch.drop("__ord"),
                Seq("event_id"))
              val st = MaterializedView.refresh(s, mv)
              require(st.toVersion == st.fromVersion + 1,
                s"stream_mv_refresh: refresh must ride each single merge " +
                  s"commit incrementally, got $st")
              ()
            }
            .start()
        }
        MaterializedView.read(s, mv)
          .select($"user_id", $"n_events", $"sum_value")
          .orderBy($"user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 50
              GROUP BY user_id ORDER BY user_id""")),

    // EXACTLY-ONCE APPEND SINK (round 15): the harder half of sink
    // idempotence. stream_foreach_merge survives redelivery because a
    // keyed MERGE of running totals is NATURALLY idempotent; an
    // append-shaped sink is not — re-appending a delivered batch lands
    // its rows twice, and append is the common shape for raw-event
    // landing tables. appendSegmentTxn (Delta txnAppId/txnVersion)
    // records the (sink, batchId) high-water mark atomically with the
    // manifest swap; the replayed apply is skipped BEFORE staging.
    // Every micro-batch here is applied twice; the landed table then
    // aggregates to the plain batch oracle — a leaked replay
    // double-counts every row and diverges the hash. Per-batch cost
    // ∝ the batch (one staged write + manifest CAS); the replay costs
    // one sidecar read.
    GQuery("stream_txn_append",
      (s, dir) => {
        import s.implicits._
        import graft.ops.AtomicPublish
        val events = Tables(s, dir, "events")
          .filter($"user_id" < 100)
          .select($"user_id", $"value", unix_millis($"ts").as("__ord"))
        val table = graft.engine.Scratch.dir("stream_txn_append_target")
        // fresh table per execution (bench reruns share the JVM tmpdir)
        val fsPath = new org.apache.hadoop.fs.Path(table)
        val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(fsPath)) fs.delete(fsPath, true)
        AtomicPublish.publish(s, table)(p =>
          events.filter(lit(false)).write.parquet(p))
        graft.streaming.FileReplay.replay(s, events, "__ord", 2) { in =>
          in.writeStream.outputMode("append")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
              val b = batch.persist()
              try (0 until 2).foreach { _ => // simulated redelivery
                AtomicPublish.appendSegmentTxn(s, table, "evsink", id)(p =>
                  b.write.parquet(p))
                ()
              } finally { b.unpersist(); () }
            }
            .start()
        }
        AtomicPublish.read(s, table)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast("decimal(18,2)")).cast("double")
              .as("sum_value"))
          .orderBy($"user_id")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 100
              GROUP BY user_id ORDER BY user_id""")),

    // ONLINE semantic dedup: the stateful streaming twin of
    // dedup_semantic_blocked. Vectors replay in id order through a
    // FILE-SOURCE stream (FileReplay: executor-staged id-range chunks,
    // no driver materialization — the production tail-a-directory
    // shape), pre-assigned to their 2 nearest quantizer cells
    // (same memoized fit as the batch path); flatMapGroupsWithState
    // keyed BY CELL keeps every vector seen in the cell (keep-all —
    // cosine is not transitive, so survivor-only state would diverge
    // from the first-occurrence oracle) and emits a per-cell verdict;
    // a vector survives iff EVERY probe cell kept it. A (j < i) pair
    // is caught iff their probe sets intersect — the same recall
    // condition as blockedPairs (measured 1.0 on graded corpora), so
    // the exact NOT-EXISTS oracle must hash-match; a straddling pair
    // fails the gate rather than passing silently. State lives in the
    // checkpointable StateStore partitioned by cell — the arrival-time
    // keep/drop verdict a 100 TB ingest pipeline needs, where batch
    // SemDeDup would re-cluster the corpus per delivery.
    GQuery("stream_semantic_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.{SemDedupStream, VecProbe}
        val emb = Tables(s, dir, "embeddings")
          .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        val n = graft.ops.AnnSearch.parquetRowCount(s, s"$dir/embeddings.parquet")
        val k = graft.ops.SemDedup.cellCount(s, n)
        val model = graft.ops.SemDedup.fit(s, emb, "vec_id", "e", k, 64, n,
          cacheKey = Some(s"embeddings:$dir"))
        val probes = emb
          .withColumn("cells", graft.ops.SemDedup.probeCells(model, $"e", 2))
          .select($"vec_id", explode($"cells").as("cell"), $"e")
        val name = s"ssd_${StreamingQueries.sinkCounter.incrementAndGet()}"
        // bounds over the raw ids: the probe frame's generator (cell
        // explode) defeats column pruning, so computing min/max on it
        // would re-pay the probe projection (round 17, FileReplay)
        graft.streaming.FileReplay.replay(s, probes, "vec_id", 3,
            boundsOver = Some(emb.select($"vec_id"))) { in =>
          SemDedupStream.verdicts(in.as[VecProbe], minCosine = 0.45)
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        }
        SemDedupStream.survivors(s, name).toDF("vec_id")
      },
      Some("""SELECT a.vec_id FROM embeddings a
              WHERE NOT EXISTS (
                SELECT 1 FROM embeddings b
                WHERE b.vec_id < a.vec_id
                  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.45)
              ORDER BY a.vec_id""")),

    // BOUNDED-STATE online semantic dedup — the TTL variant of
    // stream_semantic_dedup, the contract an UNBOUNDED ingest actually
    // runs: a vector is dropped only if a cosine-≥τ neighbor arrived
    // within the last 120 s of event time (sliding-window dedup — the
    // cosine analogue of dropDuplicatesWithinWatermark), so state is
    // bounded by rate × ttl, not corpus size. The TTL test is applied
    // per comparison (exact regardless of watermark lag); the
    // watermark drives eviction: per-invocation expiry plus
    // EventTimeTimeout whole-cell removal. Event time = vec_id
    // seconds past a fixed epoch, so the exact NOT-EXISTS oracle
    // expresses the window as an id difference.
    GQuery("stream_semantic_dedup_ttl",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.{SemDedupStream, VecProbeT}
        val emb = Tables(s, dir, "embeddings")
          .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        val n = graft.ops.AnnSearch.parquetRowCount(s, s"$dir/embeddings.parquet")
        val k = graft.ops.SemDedup.cellCount(s, n)
        val model = graft.ops.SemDedup.fit(s, emb, "vec_id", "e", k, 64, n,
          cacheKey = Some(s"embeddings:$dir"))
        val probes = emb
          .withColumn("cells", graft.ops.SemDedup.probeCells(model, $"e", 2))
          .select($"vec_id", explode($"cells").as("cell"), $"e",
            timestamp_seconds(lit(1735689600L) + $"vec_id").as("ts"))
        val name = s"ssdt_${StreamingQueries.sinkCounter.incrementAndGet()}"
        graft.streaming.FileReplay.replay(s, probes, "vec_id", 3,
            boundsOver = Some(emb.select($"vec_id"))) { in =>
          SemDedupStream.verdictsTtl(
              in.withWatermark("ts", "10 seconds").as[VecProbeT],
              minCosine = 0.45, ttlMs = 120000L)
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        }
        SemDedupStream.survivors(s, name).toDF("vec_id")
      },
      Some("""SELECT a.vec_id FROM embeddings a
              WHERE NOT EXISTS (
                SELECT 1 FROM embeddings b
                WHERE b.vec_id < a.vec_id
                  AND a.vec_id - b.vec_id <= 120
                  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.45)
              ORDER BY a.vec_id""")),

    // SEEDED online semantic dedup — the round-13 closing of the seeded
    // family: stream_minhash_dedup_seeded pre-loads TEXT band state
    // from the published index; this key does the same for VECTORS.
    // Per-cell state initializes from the published semantic index's
    // assignment table (flatMapGroupsWithState initialState — one
    // assignment-sized shuffle at query start), so a streamed vector's
    // arrival-time verdict is judged against corpus ∪ earlier stream
    // while the CORPUS NEVER REPLAYS through the stream. Recall is the
    // measured-1.0 composition of its two green twins: corpus-vs-stream
    // pairs co-locate iff the corpus vector's single cell is among the
    // stream vector's probes (dedup_incremental_indexed's condition),
    // stream-vs-stream iff probe sets intersect (stream_semantic_dedup's
    // condition) — so the EXACT NOT-EXISTS oracle with the corpus in
    // the comparison universe must hash-match; a straddling pair fails
    // the gate rather than passing silently.
    GQuery("stream_semantic_dedup_seeded",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.{SemDedupStream, VecProbe}
        val emb = Tables(s, dir, "embeddings")
          .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        val corpus = emb.filter($"vec_id" >= 100)
        val n = graft.ops.AnnSearch.parquetRowCount(s, s"$dir/embeddings.parquet")
        val table = graft.ops.DedupIndex.defaultTablePath("semantic", dir)
        graft.ops.DedupIndex.ensureSemanticIndex(s, table, corpus,
          s"$dir/embeddings.parquet", "vec_id>=100", "vec_id", "e",
          dim = 64, corpusSize = math.max(1L, n - 100L))
        val model = graft.ops.DedupIndex.loadModel(s, table)
        val seeds = graft.ops.DedupIndex.semanticSeedState(s, table)
        // stream side probes its 2 nearest cells under the SAME loaded
        // model the index assigned the corpus with (all cells when the
        // quantizer is tiny — the dailySemanticPairs rule)
        val effProbes = if (model.k <= 4) model.k else 2
        val probes = emb.filter($"vec_id" < 100)
          .withColumn("cells",
            graft.ops.SemDedup.assignCells(s, model, $"e", effProbes))
          .select($"vec_id", explode($"cells").as("cell"), $"e")
        val name = s"ssds_${StreamingQueries.sinkCounter.incrementAndGet()}"
        graft.streaming.FileReplay.replay(s, probes, "vec_id", 3,
            boundsOver = Some(emb.filter($"vec_id" < 100)
              .select($"vec_id"))) { in =>
          SemDedupStream.verdictsSeeded(in.as[VecProbe], seeds,
              minCosine = 0.45)
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        }
        SemDedupStream.survivors(s, name).toDF("vec_id")
      },
      Some("""SELECT a.vec_id FROM embeddings a
              WHERE a.vec_id < 100 AND NOT EXISTS (
                SELECT 1 FROM embeddings b
                WHERE (b.vec_id >= 100 OR b.vec_id < a.vec_id)
                  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.45)
              ORDER BY a.vec_id""")),

    // ONLINE MinHash/LSH near-dup detection — the fuzzy-TEXT twin of
    // stream_semantic_dedup, with the state profile that actually
    // scales to an unbounded ingest: a band bucket only remembers its
    // FIRST arrival (one Long), so total state is 8 B × distinct band
    // hashes regardless of corpus size — vs the semantic key's
    // keep-all-vectors cells. Docs replay in id order pre-exploded to
    // their 4 LSH band hashes (map-side signatures, zero shuffles);
    // flatMapGroupsWithState keyed by (band, bh); a doc survives iff
    // it was first in EVERY band bucket. Rows-only by design (band
    // membership is seeded xxhash64 — no DuckDB analogue); LlmOpsSpec
    // pins streaming ≡ the batch band-collision first-occurrence
    // reference on the graded corpus.
    GQuery("stream_minhash_dedup",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.{BandProbe, MinHashStream}
        val probes = graft.ops.MinHashDedup.bandHashes(
            Tables(s, dir, "documents"), "doc_id", "text")
          .select($"id".as("doc_id"), $"band", $"bh")
        val name = s"smh_${StreamingQueries.sinkCounter.incrementAndGet()}"
        // bounds over the raw doc ids: min/max on the banded probes
        // would re-run the full corpus MinHash signature pass (the
        // band explode blocks pruning) just to learn the id span
        graft.streaming.FileReplay.replay(s, probes, "doc_id", 3,
            boundsOver = Some(Tables(s, dir, "documents")
              .select($"doc_id"))) { in =>
          MinHashStream.verdicts(in.as[BandProbe])
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        }
        MinHashStream.survivors(s, name).toDF("doc_id")
      },
      None),

    // SEEDED online MinHash dedup — the streaming leg of the persisted
    // index (round 12): band-bucket state is PRE-LOADED from the
    // published corpus index (flatMapGroupsWithState initialState), so
    // a streamed document's arrival-time verdict is judged against
    // corpus ∪ earlier stream docs while the CORPUS NEVER REPLAYS
    // through the stream — the round-11 key could only dedup the
    // stream against itself; a real ingest dedups against everything
    // already published. One bucket-sized shuffle loads the seeds at
    // query start (state-building, once per query lifetime); restarts
    // recover from the checkpoint. Rows-only like its twin (seeded
    // xxhash64 bands); DedupIndexSpec pins stream-vs-index semantics,
    // LlmOpsSpec pins the unseeded equivalence.
    GQuery("stream_minhash_dedup_seeded",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.{BandProbe, MinHashStream}
        val docs = Tables(s, dir, "documents")
        val table = graft.ops.DedupIndex.defaultTablePath("minhash", dir)
        graft.ops.DedupIndex.ensureMinHashIndex(s, table,
          docs.filter($"doc_id" >= 100), s"$dir/documents.parquet",
          "doc_id>=100", "doc_id", "text", numHashes = 32, bands = 8)
        val seeds = graft.ops.DedupIndex.minHashSeedState(s, table)
          .as[(Int, Long, Long)]
        val probes = graft.ops.MinHashDedup.bandHashes(
            docs.filter($"doc_id" < 100), "doc_id", "text",
            numHashes = 32, bands = 8)
          .select($"id".as("doc_id"), $"band", $"bh")
        val name = s"smhs_${StreamingQueries.sinkCounter.incrementAndGet()}"
        graft.streaming.FileReplay.replay(s, probes, "doc_id", 3,
            boundsOver = Some(docs.filter($"doc_id" < 100)
              .select($"doc_id"))) { in =>
          MinHashStream.verdictsSeeded(in.as[BandProbe], seeds)
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
        }
        MinHashStream.survivors(s, name).toDF("doc_id")
      },
      None),

    // STREAMING TAIL of a published table (round 14): the LSM table
    // protocol meets the streaming family end-to-end. A day-0 events
    // slice publishes as the base version; the stream tails the table
    // through `readStream.format("graft-stream")` (offset = manifest
    // segment-prefix length, each micro-batch reads exactly the newly
    // committed segment dirs — never a re-scan of consumed data); two
    // more day slices land live via appendSegment and arrive as
    // micro-batches. The graded output is the COMPLETE-mode running
    // aggregate after day 2, which must equal the one-pass batch
    // aggregate over all three slices exactly. Append-only violations
    // (compaction/republish under the stream) fail loudly —
    // StreamSinkSpec pins that and checkpoint-restart recovery.
    GQuery("stream_published_tail",
      (s, dir) => {
        import s.implicits._
        import graft.ops.AtomicPublish
        val ev = Tables(s, dir, "events").filter($"user_id" < 100)
          .select($"user_id", $"event_type", $"ts", $"value")
        val table = graft.engine.Scratch.dir("stream_tail_events")
        val fsPath = new org.apache.hadoop.fs.Path(table)
        val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(fsPath)) fs.delete(fsPath, true)
        // three "days" = event-time thirds (driver sees ONE (min,max) row)
        val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts")))
          .collect().head
        val lo = mm.getLong(0)
        val w = (mm.getLong(1) - lo) / 3 + 1
        def slice(k: Int) = ev.filter(
          unix_millis($"ts") >= lo + k * w && unix_millis($"ts") < lo + (k + 1) * w)
        AtomicPublish.publish(s, table)(p => slice(0).write.parquet(p))
        val name = s"tail_${StreamingQueries.sinkCounter.incrementAndGet()}"
        val q = s.readStream.format("graft-stream").option("path", table).load()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(18,2)")).as("sv"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          (1 to 2).foreach { k =>
            AtomicPublish.appendSegment(s, table)(p => slice(k).write.parquet(p))
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(name)
          .select($"event_type", $"n", $"sv".cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 100
              GROUP BY event_type ORDER BY event_type""")),

    // STREAMING BY NAME (round 16): `spark.readStream.table("cat.db.t")`
    // — the Delta ergonomics for tailing a lakehouse table. The
    // catalog's managed table now opens the V2 micro-batch door
    // (GraftTableStream.scala): offset = manifest segment-prefix
    // length, each batch reads exactly the newly committed segments
    // through the SAME parquet DSv2 machinery as batch scans
    // (vectorized, pruned — zero bespoke parquet code), append-only
    // verified per poll. The key writes through SQL (CTAS + INSERT
    // INTO) and tails by NAME — a day's commit costs a manifest read
    // plus the day's segments, never the corpus, and the write door
    // and the tail exercise the same protocol end to end.
    GQuery("stream_table_by_name",
      (s, dir) => {
        import s.implicits._
        val wh = graft.engine.Scratch.dir("sqlutil_wh")
        s.conf.set("spark.sql.catalog.graft_util", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_util.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_util.util")
        val t = s"$wh/util/events_tail"
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        val ev = Tables(s, dir, "events").filter($"user_id" < 100)
          .select($"user_id", $"event_type", $"ts", $"value")
        ev.createOrReplaceTempView("ev_src_tail")
        // three "days" = event-time thirds (driver sees ONE (min,max) row)
        val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts")))
          .collect().head
        val lo = mm.getLong(0)
        val w = (mm.getLong(1) - lo) / 3 + 1
        def sliceSql(k: Int): String =
          s"""SELECT * FROM ev_src_tail
              WHERE unix_millis(ts) >= ${lo + k * w}
                AND unix_millis(ts) < ${lo + (k + 1) * w}"""
        s.sql(s"CREATE TABLE graft_util.util.events_tail AS ${sliceSql(0)}")
        val name = s"tailbn_${StreamingQueries.sinkCounter.incrementAndGet()}"
        val q = s.readStream.table("graft_util.util.events_tail")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(18,2)")).as("sv"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          (1 to 2).foreach { k =>
            s.sql(s"INSERT INTO graft_util.util.events_tail ${sliceSql(k)}")
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(name)
          .select($"event_type", $"n", $"sv".cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
                ${Det.sql.dsum("value")} AS sum_value
              FROM events WHERE user_id < 100
              GROUP BY event_type ORDER BY event_type""")),

    // STREAMING CDC REPLICATION (round 15): the change feed as a live
    // source — `graft-cdf` turns every upstream commit into a
    // micro-batch of typed changes (insert / update_postimage /
    // delete + _commit_version), and the key APPLIES them to a
    // replica table in commit order (upserts via MergeInto.upsertInto,
    // deletes via deleteFrom). This is the door the plain append tail
    // refuses: a MERGEd table's commits become consumable as what they
    // are. The graded read is the REPLICA's final state — if the feed
    // dropped, misclassified, or double-delivered a change, the
    // replica diverges from the oracle's reconstruction of the
    // upstream state and the hash fails. At 100 TB each feed batch is
    // ∝ its commits' changes plus (for merge commits) one key-pruned
    // baseline scan; the replica writes are merge-on-read, ∝ the batch.
    GQuery("stream_cdf_replicate",
      (s, dir) => {
        import s.implicits._
        import graft.ops.{AtomicPublish, MergeInto}
        val cust = Tables(s, dir, "customer")
        val up = graft.engine.Scratch.dir("cdf_upstream")
        val down = graft.engine.Scratch.dir("cdf_replica")
        Seq(up, down).foreach { t =>
          val fsPath = new org.apache.hadoop.fs.Path(t)
          val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(fsPath)) fs.delete(fsPath, true)
        }
        val base = cust.filter($"c_custkey" % 3 === 0)
        AtomicPublish.publish(s, up)(p => base.write.parquet(p))
        AtomicPublish.publish(s, down)(p => base.write.parquet(p))
        val q = s.readStream.format("graft-cdf").option("path", up).load()
          .writeStream
          .option("checkpointLocation",
            graft.engine.Scratch.dir(s"cdf_replicate_ckpt_" +
              StreamingQueries.sinkCounter.incrementAndGet()))
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val b = batch.persist()
            try {
              // a batch may span several commits: apply in commit
              // order. ONE grouped collect yields the version list AND
              // each version's upsert/delete presence — the previous
              // distinct().collect() plus two isEmpty probes per
              // version paid three job launches for what one
              // commit-count-sized aggregate answers.
              val versions = b.groupBy($"_commit_version")
                .agg(count(when($"_change_type" === "delete", 1))
                    .as("nd"),
                  count(when($"_change_type" =!= "delete", 1))
                    .as("nu"))
                .collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
                .sortBy(_._1)
              versions.foreach { case (v, nDels, nUps) =>
                val rows = b.filter($"_commit_version" === v)
                if (nUps > 0) {
                  MergeInto.upsertInto(s, down,
                    rows.filter($"_change_type" =!= "delete")
                      .drop("_change_type", "_commit_version"),
                    Seq("c_custkey")); ()
                }
                if (nDels > 0) {
                  MergeInto.deleteFrom(s, down,
                    rows.filter($"_change_type" === "delete")
                      .select($"c_custkey"),
                    Seq("c_custkey")); ()
                }
              }
            } finally { b.unpersist(); () }
          }
          .start()
        try {
          q.processAllAvailable()
          AtomicPublish.appendSegment(s, up)(p =>
            cust.filter($"c_custkey" % 3 === 1).write.parquet(p))
          q.processAllAvailable()
          MergeInto.upsertInto(s, up,
            cust.filter($"c_custkey" % 6 === 0)
              .withColumn("c_acctbal", $"c_acctbal" + 100.0),
            Seq("c_custkey"))
          q.processAllAvailable()
          // upstream COMPACTION while the replica lags, then a delete:
          // the next micro-batch window SPANS the fold and must diff
          // through it (round 15: the query died here, forcing a
          // re-baseline). The fold changes no content, so the oracle
          // is untouched — the grade is that replication SURVIVES it.
          MergeInto.compactMerged(s, up)
          MergeInto.deleteFrom(s, up,
            cust.filter($"c_custkey" % 9 === 0).select($"c_custkey"),
            Seq("c_custkey"))
          q.processAllAvailable()
        } finally q.stop()
        AtomicPublish.read(s, down).orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey,
                CASE WHEN c_custkey % 6 = 0
                     THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
                c_mktsegment
              FROM customer
              WHERE (c_custkey % 3 = 0 AND c_custkey % 9 <> 0)
                 OR c_custkey % 3 = 1
              ORDER BY c_custkey""")),

    GQuery("stream_window_nunique",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy(window($"ts", "1 hour").as("w"))
          .agg(countDistinct($"user_id").as("n_users"),
            count(lit(1)).as("n_events"))
          .select(unix_millis($"w.start").as("bucket_ms"), $"n_users", $"n_events")
          .orderBy($"bucket_ms")
      },
      Some("""SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS bucket_ms,
              COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
              FROM events GROUP BY 1 ORDER BY bucket_ms"""))
  )
}
