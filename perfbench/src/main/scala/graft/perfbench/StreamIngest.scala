package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Sizing
import graft.ops.{AtomicPublish, MaterializedView, MergeInto}

/** `stream_ingest`: an open loop. A generator thread lands one small
  * CSV chunk of events into a watched directory every [[IntervalMs]];
  * about a tenth of the rows are redeliveries of earlier events. The
  * query is file source → watermark + `dropDuplicatesWithinWatermark
  * (event_id)` → `foreachBatch { MergeInto.upsertInto(fact, event_id);
  * MaterializedView.refresh(mv) }`. After the fixed-rate phase the
  * generator lands one burst of [[BurstChunks]] chunks all at once and
  * the run times the catch-up (`--bursts 0` skips it, for the traced
  * run's single-core baseline).
  *
  * Freshness of a chunk is the time from its scheduled landing to the
  * return of the foreachBatch that committed it and refreshed the MV
  * (the file-to-batch map comes from the source's checkpoint log).
  * The final MV must equal the one-pass aggregate over every landed
  * chunk. */
object StreamIngest {
  /** The fixed rate: one chunk every 5 s, 1.5 times the median
    * one-chunk micro-batch (MERGE + MV refresh, about 3.3 s at local[4]
    * on a 4-core box), so every chunk gets a micro-batch of its own and
    * freshness measures the batch, not a queue. */
  val IntervalMs = 5000
  /** Fixed-rate chunks per run: the run's seconds' worth, at least
    * this many. */
  val MinFixedChunks = 2
  val ChunkRows = 40
  val BurstChunks = 30
  /** Chunks landed one at a time, each processed before the next lands,
    * before the timed phase, so that the query's first micro-batch
    * (planning, state store start, codegen) is not timed. */
  val WarmChunks = 1
  val Users = 200
  val BaseEvents = 20000
  private val T0 = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DecimalType(12, 2)), StructField("ts", TimestampType)))

  final case class Event(id: Long, user: Long, cents: Long, tsMs: Long) {
    def csv: String = s"$id,$user,${java.math.BigDecimal.valueOf(cents, 2)}," +
      java.time.Instant.ofEpochMilli(tsMs).toString.replace("T", " ").stripSuffix("Z")
  }

  /** Every chunk's events, drawn from the seed before the run. */
  def chunks(seed: Long, n: Int): Array[Seq[Event]] = {
    val r = new java.util.Random(seed * 31 + 5)
    var next = BaseEvents.toLong
    val out = new Array[Seq[Event]](n)
    (0 until n).foreach { i =>
      out(i) = (0 until ChunkRows).map { _ =>
        if (i > 0 && r.nextInt(10) == 0) {
          val from = out(math.max(0, i - 1 - r.nextInt(math.min(i, 20))))
          from(r.nextInt(from.size))
        } else {
          next += 1
          Event(next - 1, r.nextInt(Users).toLong, r.nextInt(100000).toLong,
            T0 + i * 1000L + r.nextInt(1000))
        }
      }
    }
    out
  }

  def baseEvents(spark: SparkSession, seed: Long): DataFrame =
    spark.range(BaseEvents).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(Users.toLong)).as("user_id"),
      (pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(100000L)) / 100)
        .cast(DecimalType(12, 2)).as("value"),
      (lit(T0 / 1000) - lit(3600) + col("id") % 3600).cast("timestamp").as("ts"))

  private val Aggs = Seq(
    MaterializedView.AggSpec("n_events", "COUNT(*)"),
    MaterializedView.AggSpec("sum_value", "SUM(value)"))

  /** file name → batch id, from the file source's checkpoint log. */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0")
    if (!Files.exists(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .flatMap { line =>
        val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for (p <- path; b <- batch) yield p.substring(p.lastIndexOf('/') + 1) -> b
      }.toMap
  }

  def run(ctx: Ctx): Unit = {
    val (spark, sessionS) = ctx.startSession()
    ctx.mark("session")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val nFixed = math.max(MinFixedChunks, (ctx.seconds * 1000 / IntervalMs).toInt)
    val bursts = ctx.args.get("bursts").map(_.toInt).getOrElse(1)
    val all = chunks(ctx.seed, WarmChunks + nFixed + bursts * BurstChunks)
    val fixed = WarmChunks until WarmChunks + nFixed
    val baseSrc = ctx.path("data/base_events")
    baseEvents(spark, ctx.seed).write.parquet(baseSrc)
    val watch = ctx.path("watch")
    val staging = ctx.path("staging")
    Files.createDirectories(Paths.get(watch))
    Files.createDirectories(Paths.get(staging))
    ctx.mark("inputs")

    // set-up: publish the fact table and create the MV over it, three
    // times; the stream uses the last pair
    val reps = (0 until 3).map { i =>
      val fact = ctx.path(s"tables/fact$i")
      val mv = ctx.path(s"tables/mv$i")
      val t = ctx.now
      Trace.span("maint.publish") {
        AtomicPublish.publish(spark, fact)(p => spark.read.parquet(baseSrc).write.parquet(p))
      }
      Trace.span("mv.create") {
        MaterializedView.create(spark, mv, fact, keys = Seq("event_id"),
          groupCols = Seq("user_id"), aggs = Aggs)
      }
      (ctx.ms(t) / 1000.0, fact, mv)
    }
    val (_, fact, mv) = reps.last
    ctx.mark("setup")
    val setupS = sessionS + Stats.median(reps.map(_._1))
    ctx.metric("setup_s", setupS, "s")
    ctx.reportMetric("setup_s", setupS, "s")
    ctx.note("session_s", sessionS)
    ctx.note("setup_reps_s", reps.map(_._1).mkString(","))
    ctx.sampleLiveHeap()

    val returned = mutable.Map.empty[Long, Long] // batch id → return nanoTime
    val batchOp = mutable.Map.empty[Long, (String, Boolean)]
    val groups = mutable.ArrayBuffer.empty[Double]
    // the phase whose chunks the running micro-batches carry: batches
    // of the warm-up ("warm_") and of the burst ("burst_") are counted
    // as ops but kept out of the fixed-rate phase's batch samples
    @volatile var phase = "warm_"
    val ckpt = ctx.path("ckpt")
    val query = spark.readStream.schema(Schema).csv(s"$watch/*/*.csv")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val id0 = s"op${ctx.ops.size}"
        ctx.op(phase + "batch", "merge_refresh",
            if (phase == "warm_") Some(false) else None) {
          Trace.span("maint.upsert") {
            MergeInto.upsertInto(s, fact, Sizing.coalesceForStaging(batch), Seq("event_id"))
          }
          val st = Trace.span("mv.refresh")(MaterializedView.refresh(s, mv))
          if (phase == "") groups.synchronized(groups += st.affectedGroups.toDouble)
        }
        val now = System.nanoTime()
        returned.synchronized {
          returned(id) = now
          batchOp(id) = (id0, ctx.ops.last.traced)
        }
        ()
      }
      .start()

    // the open loop: fixed-rate chunks, then bursts
    val scheduled = new Array[Long](all.length)
    val landed = new Array[Long](all.length)
    // each landing is one directory, written under staging and moved into
    // the watched directory in one rename, so the source sees all of its
    // files or none
    def land(dir: String, ids: Seq[Int]): Unit = {
      val tmp = Files.createDirectories(Paths.get(staging, dir))
      ids.foreach { i =>
        Files.write(tmp.resolve(f"chunk-$i%05d.csv"),
          all(i).map(_.csv).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      Files.move(tmp, Paths.get(watch, dir), StandardCopyOption.ATOMIC_MOVE)
      val t = System.nanoTime()
      ids.foreach(landed(_) = t)
    }
    (0 until WarmChunks).foreach { i =>
      land(f"w$i%05d", Seq(i))
      query.processAllAvailable()
    }
    ctx.mark("warm_chunks")
    val gc0 = ctx.gcMs()
    phase = ""
    val start = ctx.now + 200000000L
    var genError: Option[Throwable] = None
    val gen = new Thread(() => {
      try fixed.foreach { i =>
        scheduled(i) = start + (i - fixed.start) * IntervalMs * 1000000L
        val wait = scheduled(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(f"c$i%05d", Seq(i))
      } catch { case t: Throwable => genError = Some(t) }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    genError.foreach(throw _)
    query.processAllAvailable()
    ctx.mark("fixed_rate")
    phase = "burst_"
    val catchups = (0 until bursts).map { b =>
      val ids = (fixed.end + b * BurstChunks) until (fixed.end + (b + 1) * BurstChunks)
      val t = System.nanoTime()
      ids.foreach(scheduled(_) = t)
      land(s"burst$b", ids)
      query.processAllAvailable()
      ids
    }
    val elapsedS = ctx.ms(start) / 1000.0
    val gcMs = ctx.gcMs() - gc0
    ctx.mark("bursts")
    query.stop()
    query.exception.foreach(e => ctx.fail("stream query", e))
    ctx.sampleLiveHeap()

    // freshness and catch-up from the checkpoint's file → batch map
    val fileBatch = fileBatches(ckpt)
    val batchOf = all.indices.map(i => fileBatch.get(f"chunk-$i%05d.csv"))
    val uncommitted = batchOf.count(b => b.forall(x => !returned.contains(x)))
    ctx.check("every landed chunk was committed", uncommitted == 0,
      s"$uncommitted of ${all.length} chunks have no committed batch")
    val fresh = fixed.flatMap { i =>
      batchOf(i).flatMap(returned.get).map(r => (i, (r - scheduled(i)) / 1e6))
    }
    fresh.foreach { case (_, f) => ctx.sample("freshness", f) }
    val rates = catchups.flatMap { ids =>
      val rets = ids.flatMap(i => batchOf(i).flatMap(returned.get))
      if (rets.size < ids.size) None
      else Some(ids.size * ChunkRows / ((rets.max - scheduled(ids.head)) / 1e9))
    }
    val (fp50, _) = ctx.latency("freshness", "freshness")
    val (bp50, _) = ctx.latency("batch", "batch")
    val catchup = Stats.median(rates)
    ctx.reportMetric("catchup_rows_per_s", catchup, "rows/s")
    ctx.metric("latency_ms", fp50, "ms")
    ctx.metric("aux_ms", bp50, "ms")
    ctx.metric("throughput", catchup, "1/s")
    val late = fixed.map(i => (landed(i) - scheduled(i)) / 1e6)
    ctx.note("gen_late_max_ms", late.max)
    ctx.note("chunks", all.length)
    ctx.note("batches", returned.size)
    val fixedBatches = fixed.flatMap(batchOf(_)).toSet
    ctx.note("fixed_rate_chunks", fixed.size)
    ctx.note("fixed_rate_batches", fixedBatches.size)
    // chunks landed but not yet committed, at each landing
    val commitTimes = fixed.flatMap(i => batchOf(i).flatMap(returned.get))
    val backlog = fixed.map { i =>
      (i - fixed.start + 1) - commitTimes.count(_ <= landed(i))
    }.max
    ctx.note("backlog_max_chunks", backlog)
    ctx.note("elapsed_s", elapsedS)

    // the final MV against the one-pass aggregate over every chunk
    val landedRows = all.iterator.flatten.toSeq.groupBy(_.id).values.map(_.head)
      .map(e => Row(e.id, e.user, java.math.BigDecimal.valueOf(e.cents, 2),
        new java.sql.Timestamp(e.tsMs))).toSeq
    val truth = spark.read.parquet(baseSrc)
      .unionByName(spark.createDataFrame(landedRows.asJava, Schema))
      .groupBy("user_id").agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    def sorted(df: DataFrame) = df.select("user_id", "n_events", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    val got = sorted(MaterializedView.read(spark, mv))
    val want = sorted(truth)
    ctx.check("final MV equals the batch aggregate over every landed chunk",
      got == want, s"${got.size} vs ${want.size} groups; first diff " +
        got.zipAll(want, "", "").find { case (a, b) => a != b }.getOrElse(""))
    ctx.check("no batch failed", ctx.failedOps == 0, s"${ctx.failedOps} failed")

    if (ctx.trace) {
      Trace.drain(spark)
      import Layers._
      spanMedian(ctx, "maint.upsert_ms", "maint.upsert")
      spanMedian(ctx, "mv.refresh_ms", "mv.refresh")
      set(ctx, "mv.groups_recomputed", mean(groups.toSeq))
      val batches = ctx.ops.filter(r => r.traced && r.ok && r.group == "batch").toList
      set(ctx, "maint.commit_driver_ms", Stats.median(batches.map(driverOnlyMs)))
      set(ctx, "maint.files_written", mean(batches.map(_.fs.creates.toDouble)))
      set(ctx, "fs.meta_ops_per_commit", mean(batches.map(_.fs.meta.toDouble)))
      val ps = Trace.progresses.filter(p => fixedBatches.contains(p.batchId))
      def d(k: String) = Stats.median(ps.map(_.durations.getOrElse(k, 0L).toDouble))
      set(ctx, "stream.trigger_ms", d("triggerExecution"))
      set(ctx, "stream.add_batch_ms", d("addBatch"))
      set(ctx, "stream.overhead_ms", Stats.median(ps.map(p =>
        (p.durations.getOrElse("triggerExecution", 0L) -
          p.durations.getOrElse("addBatch", 0L)).toDouble)))
      set(ctx, "stream.latest_offset_ms", d("latestOffset"))
      set(ctx, "stream.query_planning_ms", d("queryPlanning"))
      set(ctx, "stream.wal_commit_ms", d("walCommit"))
      set(ctx, "stream.commit_offsets_ms", d("commitOffsets"))
      set(ctx, "stream.state_commit_ms", Stats.median(ps.map(_.stateCommitMs.toDouble)))
      set(ctx, "stream.state_rows", if (ps.isEmpty) 0.0 else ps.last.stateRows.toDouble)
      set(ctx, "stream.state_mb", if (ps.isEmpty) 0.0 else ps.map(_.stateBytes).max / 1048576.0)
      set(ctx, "stream.backlog_max_chunks", backlog.toDouble)
      set(ctx, "stream.gen_late_ms", Stats.median(late))
      common(ctx, gcMs)
      val (t, u) = fresh.partition { case (i, _) =>
        batchOf(i).flatMap(b => batchOp.get(b)).exists(_._2)
      }
      set(ctx, "trace.overhead_ms",
        if (t.isEmpty || u.isEmpty) 0.0
        else Stats.median(t.map(_._2)) - Stats.median(u.map(_._2)))
    }
  }
}
