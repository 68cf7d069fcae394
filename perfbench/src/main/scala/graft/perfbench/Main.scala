package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM:
  *
  * {{{
  *   graft.perfbench.Main --workload table_olap --seed 7 --seconds 10
  *     --trace 0 --root <run dir> --cores 4 --out <result.json>
  *     [--spans <spans.jsonl>] [--bursts <n>]
  * }}}
  *
  * Every path the run writes (warehouse, tables, indexes, checkpoints,
  * tmpdir) lives under `--root`. The result file carries the end-to-end
  * metrics, the output checks, the failures with their reasons and,
  * when traced, the per-layer metrics. `perfbench/run.py` is the
  * entry point that builds, launches and summarises. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("root"), a("cores").toInt, a.get("spans"), a)
    val body: Ctx => Unit = workload match {
      case "table_olap" => TableOlap.run
      case "stream_ingest" => StreamIngest.run
      case "llm_curate" => LlmCurate.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try body(ctx)
    catch {
      case t: Throwable =>
        ctx.check("workload completed", ok = false, Ctx.describe(t))
        t.printStackTrace()
    } finally {
      ctx.finish(a("out"))
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}

/** The state of one run: samples, failures, checks and metrics. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val root: String, val cores: Int,
                spansOut: Option[String], val args: Map[String, String]) {
  val t0: Long = System.nanoTime()
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failedOps = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, Any]
  private var spark: Option[SparkSession] = None

  Trace.enabled = trace

  def path(rel: String): String = s"$root/$rel"

  /** The benchmark's session: `graft.Bench`'s conf (extensions,
    * shuffle partitions = cores, UTC) plus a run-scoped warehouse,
    * catalog, local dir and, when traced, the counting filesystem. */
  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", path("spark-warehouse"))
      .config("spark.local.dir", path("local"))
      .config("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft_cat.warehouse", path("warehouse"))
    if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) Trace.install(s)
    spark = Some(s)
    s
  }

  /** Session start plus a fixed warm-up; returns its seconds. */
  def startSession(): (SparkSession, Double) = {
    val t = System.nanoTime()
    val s = session()
    s.range(1000000L).selectExpr("sum(id)").collect()
    (s, (System.nanoTime() - t) / 1e9)
  }

  /** Note how far into the run (s since JVM start) a phase ended. */
  def mark(label: String): Unit =
    note(s"at_s.$label", ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)

  def now: Long = System.nanoTime()
  def ms(from: Long): Double = (System.nanoTime() - from) / 1e6

  val ops = mutable.ArrayBuffer.empty[Ctx.OpRec]

  /** Run one timed op: counts it, records its latency (ms) under `group`
    * when it succeeds, and records the failure reason when it throws. */
  def op[A](group: String, kind: String, tracedOp: Option[Boolean] = None)
           (f: => A): Option[A] = {
    val id = s"op${ops.size}"
    val traced = trace && tracedOp.getOrElse(ops.size % 2 == 0)
    Trace.enabled = traced
    spark.foreach(s => Trace.setOp(s, id))
    attempted += 1
    val fs0 = if (trace) CountingFileSystem.snap() else null
    val a0 = if (trace) allocatedBytes() else 0L
    val t = now
    var ok = false
    try {
      val r = f
      ok = true
      Some(r)
    } catch {
      case e: Exception =>
        failedOps += 1
        failures += s"$id $kind: ${Ctx.describe(e)}"
        None
    } finally {
      val t1 = now
      if (ok) sample(group, (t1 - t) / 1e6)
      ops += Ctx.OpRec(id, kind, group, t, t1, ok, traced,
        if (trace) CountingFileSystem.snap() - fs0 else null,
        if (trace) allocatedBytes() - a0 else 0L)
      spark.foreach(s => Trace.setOp(s, ""))
      Trace.enabled = trace
    }
  }

  def sample(kind: String, v: Double): Unit =
    samples.synchronized {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += v
    }
  def samplesOf(kind: String): Seq[Double] =
    samples.synchronized(samples.get(kind).map(_.toList).getOrElse(Nil))

  def fail(what: String, e: Throwable): Unit = {
    failedOps += 1
    failures += s"$what: ${Ctx.describe(e)}"
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks.synchronized(checks += ((name, ok, detail)))

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def reportMetric(name: String, v: Double, unit: String): Unit = report(name) = (v, unit)
  def layerMetric(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def note(name: String, v: Any): Unit = notes(name) = v
  def hasLayerMetric(name: String): Boolean = layer.contains(name)

  /** Report the p50 and the tail of a latency sample set under the
    * workload's own metric names, with the sample count. */
  def latency(kind: String, prefix: String): (Double, Double) = {
    val xs = samplesOf(kind)
    val tp = Stats.tailPct(xs.size)
    val p50 = Stats.median(xs)
    val tail = Stats.pct(xs, tp)
    reportMetric(s"${prefix}_p50_ms", p50, "ms")
    reportMetric(s"${prefix}_p${tp}_ms", tail, "ms")
    note(s"${prefix}_samples", xs.size)
    (p50, tail)
  }

  // ------------------------------------------------------------- JVM

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Bytes allocated by every live thread so far. */
  def allocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum
    case _ => 0L
  }

  private var peakLive = 0.0
  /** Force a full collection (outside every timed phase) and keep the
    * largest heap occupancy seen after one. The second collection runs
    * after Spark's cleaner has dropped what the first one released. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakLive = math.max(peakLive, used / 1048576.0)
  }

  // -------------------------------------------------------------- output

  def finish(out: String): Unit = {
    mark("finish")
    note("max_steal_per_s", graft.Bench.MaxStealPerSec)
    reportMetric("peak_live_heap_mb", peakLive, "MB")
    if (attempted > 0) reportMetric("failed_ratio", failedOps.toDouble / attempted, "ratio")
    if (trace) {
      Trace.selfTimeByLayer.foreach { case (l, v) => note(s"self_ms.$l", v) }
      Trace.labelStats.toSeq.sortBy(-_._2.taskMs).take(40).foreach { case (l, s) =>
        note(s"label.$l", Map("jobs" -> s.jobs, "stages" -> s.stages,
          "tasks" -> s.tasks, "task_s" -> s.taskMs / 1000.0))
      }
      spansOut.foreach(p => Trace.writeSpans(p, t0))
    }
    val correct = checks.nonEmpty && checks.forall(_._2)
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val json = Json.render(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "correct" -> correct,
      "attempted" -> attempted, "failed" -> failedOps,
      "failures" -> failures.toList,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> m(e2e), "report" -> m(report), "per_layer" -> m(layer),
      "notes" -> notes))
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, json)
  }
}

object Ctx {
  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** A `System.nanoTime` reading on the wall clock (ms), as Spark's
    * listener events carry it. */
  def wallMs(ns: Long): Double = ns / 1e6 + wallOffsetMs

  /** One executed op. `traced` ops ran with spans on; in a traced run
    * some ops (by default every other one) run without them, so the run
    * can report the tracing overhead. `fs` and `allocBytes` are filled when traced. */
  final case class OpRec(id: String, kind: String, group: String,
                         startNs: Long, endNs: Long, ok: Boolean,
                         traced: Boolean, fs: CountingFileSystem.Snap,
                         allocBytes: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator
      .take(3).mkString(" | ").take(400)}"
}
