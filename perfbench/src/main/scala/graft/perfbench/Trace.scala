package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans wrap the benchmark's calls into the
  * program's public functions; listeners count what Spark did for each
  * op. Everything stays in memory until [[writeSpans]] at the end of
  * the run. In an untraced run `enabled` stays false, every entry point
  * is a pass-through and no listener is installed. */
object Trace {
  @volatile var enabled = false

  /** Local property carrying the op id into Spark's job events. */
  val OpProp = "perfbench.op"

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, op: String)

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val opOfThread = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }

  def setOp(spark: SparkSession, op: String): Unit = {
    opOfThread.set(op)
    if (enabled) spark.sparkContext.setLocalProperty(OpProp, op)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized {
          spans += Span(id, name, t0, t1, parent, opOfThread.get)
        }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Durations (ms) of every span called `name`. */
  def durations(name: String): Seq[Double] =
    allSpans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Self time (ms) per layer: a span's time minus its children's,
    * summed by the name's prefix before the first dot. */
  def selfTimeByLayer: Map[String, Double] = {
    val all = allSpans
    val childTime = all.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs) -
        childTime.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def writeSpans(path: String, t0: Long): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.println(Json.render(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
    } finally w.close()
  }

  // ---------------------------------------------------------------- spark

  final class JobStats {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var input = 0L
    var output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.Map.empty[String, JobStats]
  private val byLabel = mutable.Map.empty[String, JobStats]
  private val stageOp = mutable.Map.empty[Int, (String, String)]
  private val jobOp = mutable.Map.empty[Int, (String, String, Long)]

  /** One finished query's planning phases; `startMs` is wall-clock. */
  final case class PlanEvent(startMs: Long, analysisMs: Long, optimizationMs: Long,
                             planningMs: Long, execNs: Long)
  private val planEvents = mutable.ArrayBuffer.empty[PlanEvent]

  private def statsOf(m: mutable.Map[String, JobStats], k: String) =
    m.getOrElseUpdate(k, new JobStats)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = byOp.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProp))).getOrElse("")
      val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("(unlabelled)")
      jobOp(e.jobId) = (op, label, e.time)
      e.stageIds.foreach(s => stageOp(s) = (op, label))
      statsOf(byOp, op).jobs += 1
      statsOf(byLabel, label).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = byOp.synchronized {
      jobOp.remove(e.jobId).foreach { case (op, _, start) =>
        statsOf(byOp, op).intervals += ((start, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byOp.synchronized {
        stageOp.get(e.stageInfo.stageId).foreach { case (op, label) =>
          statsOf(byOp, op).stages += 1
          statsOf(byLabel, label).stages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byOp.synchronized {
      val (op, label) = stageOp.getOrElse(e.stageId, ("", "(unlabelled)"))
      val m = Option(e.taskMetrics)
      for (s <- Seq(statsOf(byOp, op), statsOf(byLabel, label))) {
        s.tasks += 1
        m.foreach { tm =>
          s.taskMs += tm.executorRunTime
          s.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          s.input += tm.inputMetrics.bytesRead
          s.output += tm.outputMetrics.bytesWritten
        }
      }
    }
  }

  // Query-execution events arrive on the listener bus thread, where the
  // op's local property is not visible; they are matched to ops by the
  // wall-clock start of their analysis phase instead.
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.values.headOption)
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      planEvents.synchronized {
        planEvents += PlanEvent(start, ms("analysis"), ms("optimization"),
          ms("planning"), durationNs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def jobStats(op: String): JobStats = byOp.synchronized(statsOf(byOp, op))
  /** Plan events whose analysis started in [fromMs, toMs] (wall clock). */
  def planEventsIn(fromMs: Double, toMs: Double): Seq[PlanEvent] =
    planEvents.synchronized(planEvents.filter(e => e.startMs >= fromMs && e.startMs <= toMs).toList)
  def labelStats: Map[String, JobStats] = byOp.synchronized(byLabel.toMap)

  // ------------------------------------------------------------ streaming

  final case class Progress(batchId: Long, durations: Map[String, Long],
                            inputRows: Long, stateRows: Long,
                            stateBytes: Long, stateCommitMs: Long)
  private val progress = mutable.ArrayBuffer.empty[Progress]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators
      progress.synchronized {
        progress += Progress(p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum)
      }
    }
  }

  def progresses: Seq[Progress] = progress.synchronized(progress.toList)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until Spark's asynchronous listener bus has delivered every
    * event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
}
