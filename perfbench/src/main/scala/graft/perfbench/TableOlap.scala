package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{AtomicPublish, DistributedSelect, MergeInto}
import graft.sources.GraftCatalog

/** `table_olap`: a closed loop of reads and commits over TPC-H-shaped
  * `lineitem`/`orders` (20k orders, ~80k lines), published with `AtomicPublish.publish` and read by
  * name through a `GraftCatalog`.
  *
  * The op schedule is drawn from the seed before the timed phase, in
  * rounds: every read kind once and every commit kind once, shuffled by
  * the seed, then a compaction. One untimed warm-up round (every commit
  * kind, seven of the read kinds) runs first; the run then measures a
  * fixed number of rounds, so every run times the same mix of work. After the timed phase the seeded op log is
  * replayed on plain DataFrames: every read's digest (a change feed's
  * row count included), every `readAt` row count and the final snapshot
  * of both tables must equal the model's. */
object TableOlap {
  val NOrders = 20000
  val Dec: DecimalType = DecimalType(15, 2)
  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)

  val OrdKeys = Seq("o_orderkey")
  val LiKeys = Seq("l_orderkey", "l_linenumber")

  val OrdSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", Dec),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  val LiSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", Dec), StructField("l_extendedprice", Dec),
    StructField("l_discount", Dec), StructField("l_tax", Dec),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  // ------------------------------------------------------------ inputs

  private def u(seed: Long, k: Int, n: Long, cols: String*) =
    pmod(xxhash64((cols.map(col) ++ Seq(lit(seed), lit(k))): _*), lit(n))

  def ordersDf(spark: SparkSession, seed: Long): DataFrame =
    spark.range(1, NOrders + 1).select(col("id").as("k")).select(
      col("k").as("o_orderkey"),
      (u(seed, 1, 15000, "k") + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (u(seed, 2, 3, "k") + 1).cast("int")).as("o_orderstatus"),
      (u(seed, 3, 50000000L, "k") / 100).cast(Dec).as("o_totalprice"),
      date_add(lit(Epoch.toString).cast("date"), u(seed, 4, 2400, "k").cast("int"))
        .as("o_orderdate"),
      element_at(array(Prios.map(lit): _*),
        (u(seed, 5, 5, "k") + 1).cast("int")).as("o_orderpriority"))

  private def linesPerOrder(seed: Long) = (u(seed, 9, 7, "k") + 1).cast("int")

  def lineitemDf(spark: SparkSession, seed: Long): DataFrame =
    spark.range(1, NOrders + 1).select(col("id").as("k"))
      .select(col("k"),
        date_add(lit(Epoch.toString).cast("date"), u(seed, 4, 2400, "k").cast("int"))
          .as("od"),
        explode(sequence(lit(1), linesPerOrder(seed))).as("ln"))
      .select(
        col("k").as("l_orderkey"),
        (u(seed, 11, 20000, "k", "ln") + 1).as("l_partkey"),
        (u(seed, 12, 1000, "k", "ln") + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (u(seed, 13, 50, "k", "ln") + 1).cast(Dec).as("l_quantity"),
        (u(seed, 14, 10000000L, "k", "ln") / 100).cast(Dec).as("l_extendedprice"),
        (u(seed, 15, 11, "k", "ln") / 100).cast(Dec).as("l_discount"),
        (u(seed, 16, 9, "k", "ln") / 100).cast(Dec).as("l_tax"),
        element_at(array(lit("R"), lit("A"), lit("N")),
          (u(seed, 17, 3, "k", "ln") + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (u(seed, 18, 2, "k", "ln") + 1).cast("int")).as("l_linestatus"),
        date_add(col("od"), (u(seed, 19, 121, "k", "ln") + 1).cast("int"))
          .as("l_shipdate"))

  // ---------------------------------------------------------------- ops

  /** A read: SQL over the two tables (`{li}`, `{o}`), or one of the
    * Scala-API reads (median, readAt, changesBetween). */
  sealed trait Read { def kind: String }
  final case class SqlRead(kind: String, sql: String) extends Read
  final case class Median() extends Read { val kind = "median" }
  /** `readAt` of `lineitem` at the version after its first
    * [[HistoryCommits]] commits (the latest one before those exist):
    * the same snapshot shape in every run. */
  final case class ReadAt() extends Read { val kind = "read_at" }
  /** The change feed of `lineitem` across its first [[HistoryCommits]]
    * commits: a lagging consumer's catch-up, the same window in every
    * run. */
  final case class Changes() extends Read { val kind = "changes" }
  /** The warm-up round's commits on `lineitem`. */
  val HistoryCommits = 2

  sealed trait Commit { def kind: String; def table: String }
  final case class Upsert(table: String, rows: Seq[Row], sql: Boolean) extends Commit {
    val kind = if (sql) "sql_merge" else "upsert"
  }
  final case class DeleteKeys(table: String, keys: Seq[Row]) extends Commit {
    val kind = "delete"
  }
  final case class SqlDeleteOrders(orderKeys: Seq[Long]) extends Commit {
    val kind = "sql_delete"; val table = "lineitem"
  }
  final case class Compact(table: String) extends Commit { val kind = "compact" }

  private def date(rng: java.util.Random, span: Int): String =
    Epoch.plusDays(rng.nextInt(span).toLong).toString

  private def sqlRead(kind: String, r: java.util.Random): SqlRead = kind match {
    case "q1" => SqlRead(kind,
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |  sum(l_extendedprice) AS sum_base,
         |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
         |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
         |  avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n
         |FROM {li} WHERE l_shipdate <= date '${date(r, 2500)}'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    case "q3" =>
      val d = date(r, 2300)
      SqlRead(kind,
        s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev,
           |  o_orderdate
           |FROM {o} JOIN {li} ON l_orderkey = o_orderkey
           |WHERE o_orderpriority = '${Prios(r.nextInt(5))}'
           |  AND o_orderdate < date '$d' AND l_shipdate > date '$d'
           |GROUP BY l_orderkey, o_orderdate
           |ORDER BY rev DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin)
    case "q5" =>
      val d = date(r, 2000)
      SqlRead(kind,
        s"""SELECT o_orderpriority, l_returnflag,
           |  sum(l_extendedprice * (1 - l_discount)) AS rev, count(*) AS n
           |FROM {o} JOIN {li} ON l_orderkey = o_orderkey
           |WHERE o_orderdate >= date '$d' AND o_orderdate < date '$d' + INTERVAL 1 YEAR
           |GROUP BY o_orderpriority, l_returnflag""".stripMargin)
    case "q10" =>
      val d = date(r, 2300)
      SqlRead(kind,
        s"""SELECT o_custkey, sum(l_extendedprice * (1 - l_discount)) AS rev
           |FROM {o} JOIN {li} ON l_orderkey = o_orderkey
           |WHERE l_returnflag = 'R' AND o_orderdate >= date '$d'
           |  AND o_orderdate < date '$d' + INTERVAL 3 MONTHS
           |GROUP BY o_custkey ORDER BY rev DESC, o_custkey LIMIT 20""".stripMargin)
    case "groupby" => SqlRead(kind,
      s"""SELECT l_suppkey % 50 AS g, count(*) AS n, sum(l_quantity) AS q,
         |  max(l_extendedprice) AS mx
         |FROM {li} WHERE l_discount >= ${r.nextInt(10) / 100.0}
         |GROUP BY l_suppkey % 50""".stripMargin)
    case "topk" => SqlRead(kind,
      s"""SELECT * FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
         |  row_number() OVER (PARTITION BY o_orderpriority
         |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |  FROM {o} WHERE o_orderstatus = '${Seq("F", "O", "P")(r.nextInt(3))}')
         |WHERE rk <= 5""".stripMargin)
    case "range" =>
      val a = 1 + r.nextInt(NOrders - 200)
      SqlRead(kind, s"SELECT * FROM {li} WHERE l_orderkey BETWEEN $a AND ${a + 100}")
    case "point" =>
      SqlRead(kind, s"SELECT * FROM {o} WHERE o_orderkey = ${1 + r.nextInt(NOrders)}")
  }

  /** One round: every read kind once, four commits shuffled among them,
    * then a compaction: 11 reads and 5 commits. */
  val RoundReads = Seq("q1", "q3", "q5", "q10", "groupby", "topk",
    "median", "range", "point", "read_at", "changes")
  val RoundCommits = Seq("upsert", "delete", "sql_merge", "sql_delete")
  val RoundSize: Int = RoundReads.size + RoundCommits.size + 1
  /** The untimed warm-up round's reads: aggregates, a join, a window,
    * range and point scans and a time-travel count, so that the timed
    * round's reads find the planner, scans, joins and windows warm (a
    * cold window or point read took twice its warm time). */
  val WarmReads = Seq("q1", "q3", "groupby", "topk", "range", "point", "read_at")
  val WarmSize: Int = WarmReads.size + RoundCommits.size + 1
  /** The run measures round(seconds / RoundSeconds) rounds after the
    * warm-up round, at least one: one at the benchmark's 8 s. A round
    * takes 8-12 s on a 4-core box. */
  val RoundSeconds = 10.0

  final class Gen(seed: Long, nl: Array[Int]) {
    private val r = new java.util.Random(seed * 7919 + 17)
    private var nextOrder = NOrders + 1L
    private def dec(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)
    private def d(days: Int) = java.sql.Date.valueOf(Epoch.plusDays(days.toLong))
    private def order(k: Long): Row = Row(k, 1L + r.nextInt(15000),
      Seq("F", "O", "P")(r.nextInt(3)), dec(r.nextInt(50000000).toLong),
      d(r.nextInt(2400)), Prios(r.nextInt(5)))
    private def line(k: Long, ln: Int): Row = Row(k, 1L + r.nextInt(20000),
      1L + r.nextInt(1000), ln, dec(100L * (1 + r.nextInt(50))),
      dec(r.nextInt(10000000).toLong), dec(r.nextInt(11).toLong),
      dec(r.nextInt(9).toLong), Seq("R", "A", "N")(r.nextInt(3)),
      Seq("O", "F")(r.nextInt(2)), d(r.nextInt(2500)))
    private def someOrder(): Long = 1L + r.nextInt(NOrders)
    private def nlOf(k: Long) = if (k <= NOrders) nl(k.toInt - 1) else 1

    private def orderBatch(): Seq[Row] =
      (0 until 150).map(_ => someOrder()).distinct.map(order) ++
        (0 until 30).map { _ => nextOrder += 1; order(nextOrder - 1) }
    private def lineBatch(): Seq[Row] =
      (0 until 40).map(_ => someOrder()).distinct
        .flatMap(k => (1 to nlOf(k) + 1).map(ln => line(k, ln)))

    /** A commit of round `k`. Rounds alternate their tables: odd rounds
      * (the first timed one) upsert, delete from and compact `lineitem`
      * and MERGE into `orders`; even rounds the other way round. SQL
      * DELETE always deletes lines of seeded orders. */
    def commit(kind: String, k: Int): Commit = {
      val (a, b) = if (k % 2 == 1) ("lineitem", "orders") else ("orders", "lineitem")
      def batch(t: String) = if (t == "orders") orderBatch() else lineBatch()
      kind match {
        case "upsert" => Upsert(a, batch(a), sql = false)
        case "sql_merge" => Upsert(b, batch(b), sql = true)
        case "delete" if a == "orders" =>
          DeleteKeys("orders", (0 until 120).map(_ => someOrder()).distinct.map(Row(_)))
        case "delete" => DeleteKeys("lineitem",
          (0 until 120).map { _ => val o = someOrder(); (o, 1 + r.nextInt(nlOf(o))) }
            .distinct.map { case (o, ln) => Row(o, ln) })
        case "sql_delete" => SqlDeleteOrders((0 until 25).map(_ => someOrder()).distinct)
        case "compact" => Compact(a)
      }
    }

    def read(kind: String): Read = kind match {
      case "median" => Median()
      case "read_at" => ReadAt()
      case "changes" => Changes()
      case k => sqlRead(k, r)
    }

    /** The warm-up round (round 0, [[WarmSize]] ops), then `rounds`
      * rounds of [[RoundSize]] ops. */
    def schedule(rounds: Int): Seq[Either[Read, Commit]] =
      (0 to rounds).flatMap { k =>
        val kinds = (if (k == 0) WarmReads else RoundReads).map(Left(_)) ++
          RoundCommits.map(Right(_))
        val shuffled = new java.util.ArrayList(kinds.asJava)
        java.util.Collections.shuffle(shuffled, r)
        shuffled.asScala.toSeq.map {
          case Left(kind) => Left(read(kind))
          case Right(kind) => Right(commit(kind, k))
        } :+ Right(commit("compact", k))
      }
  }

  // ----------------------------------------------------------- digests

  def rowsDigest(rows: Seq[Row]): String = {
    val lines = rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).sorted
    s"${lines.size}:${scala.util.hashing.MurmurHash3.orderedHash(lines)}"
  }

  /** Order-independent digest of a whole table. */
  def tableDigest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))),
        sum(col("h2").cast("long")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  private def medianOf(df: DataFrame): DataFrame =
    df.agg((sum(col("v")) / count(col("v"))).as("median_price"))

  // ------------------------------------------------------------- model

  /** The op log replayed on plain DataFrames: the touched keys' latest
    * rows live on the driver; a table's state is its generated base
    * minus every touched key, plus the touched keys still alive. */
  final class Model(spark: SparkSession, baseO: DataFrame, baseLi: DataFrame,
                    nl: Array[Int]) {
    val ord = mutable.LinkedHashMap.empty[Long, Option[Row]]
    val li = mutable.LinkedHashMap.empty[(Long, Int), Option[Row]]
    private val liByOrder = mutable.Map.empty[Long, mutable.Set[Int]]
    var ordCount: Long = NOrders
    var liCount: Long = nl.map(_.toLong).sum

    private def baseOrder(k: Long) = k >= 1 && k <= NOrders
    private def baseLine(k: Long, ln: Int) = baseOrder(k) && ln >= 1 && ln <= nl(k.toInt - 1)
    def orderLive(k: Long): Boolean = ord.get(k).map(_.isDefined).getOrElse(baseOrder(k))
    def lineLive(k: Long, ln: Int): Boolean =
      li.get((k, ln)).map(_.isDefined).getOrElse(baseLine(k, ln))

    private def setOrder(k: Long, v: Option[Row]): Unit = {
      ordCount += (if (v.isDefined) 1 else 0) - (if (orderLive(k)) 1 else 0)
      ord(k) = v
    }
    private def setLine(k: Long, ln: Int, v: Option[Row]): Unit = {
      liCount += (if (v.isDefined) 1 else 0) - (if (lineLive(k, ln)) 1 else 0)
      li((k, ln)) = v
      liByOrder.getOrElseUpdate(k, mutable.Set.empty[Int]) += ln
    }

    /** The change-feed rows of each applied commit, in order: one per
      * upserted row (an insert or an update post-image), one per key
      * that was live before a delete, none for a compaction. */
    val changeRows = mutable.ArrayBuffer.empty[Long]

    def apply(c: Commit): Unit = changeRows += (c match {
      case Upsert("orders", rows, _) =>
        rows.foreach(r => setOrder(r.getLong(0), Some(r))); rows.size
      case Upsert(_, rows, _) =>
        rows.foreach(r => setLine(r.getLong(0), r.getInt(3), Some(r))); rows.size
      case DeleteKeys("orders", keys) =>
        val live = keys.map(_.getLong(0)).filter(orderLive)
        live.foreach(setOrder(_, None)); live.size
      case DeleteKeys(_, keys) =>
        val live = keys.map(k => (k.getLong(0), k.getInt(1))).filter { case (o, ln) => lineLive(o, ln) }
        live.foreach { case (o, ln) => setLine(o, ln, None) }; live.size
      case SqlDeleteOrders(oks) => oks.map { k =>
        val base = if (baseOrder(k)) (1 to nl(k.toInt - 1)).toSet else Set.empty[Int]
        val live = (base ++ liByOrder.getOrElse(k, mutable.Set.empty[Int])).filter(lineLive(k, _))
        live.foreach(ln => setLine(k, ln, None)); live.size
      }.sum
      case Compact(_) => 0
    })

    def count(table: String): Long = if (table == "orders") ordCount else liCount

    def orders: DataFrame = {
      val keys = spark.createDataFrame(ord.keys.toSeq.map(Row(_)).asJava,
        StructType(Seq(StructField("o_orderkey", LongType))))
      val live = spark.createDataFrame(ord.values.flatten.toSeq.asJava, OrdSchema)
      baseO.join(broadcast(keys), OrdKeys, "left_anti")
        .select(baseO.columns.map(col): _*).unionByName(live)
    }
    def lineitem: DataFrame = {
      val keys = spark.createDataFrame(li.keys.toSeq.map { case (k, l) => Row(k, l) }.asJava,
        StructType(Seq(StructField("l_orderkey", LongType),
          StructField("l_linenumber", IntegerType))))
      val live = spark.createDataFrame(li.values.flatten.toSeq.asJava, LiSchema)
      baseLi.join(broadcast(keys), LiKeys, "left_anti")
        .select(baseLi.columns.map(col): _*).unionByName(live)
    }
  }

  // --------------------------------------------------------------- run

  final case class Logged(read: Read, commitsBefore: Int, digest: String)

  def run(ctx: Ctx): Unit = {
    val (spark, sessionS) = ctx.startSession()
    ctx.mark("session")
    spark.conf.set("spark.graft.manifest.bloom", "o_orderkey")
    // inputs: both tables generated from the seed and held in memory;
    // set-up publishes them, the model replays the op log over them
    val src = Map("orders" -> ordersDf(spark, ctx.seed).cache(),
      "lineitem" -> lineitemDf(spark, ctx.seed).cache())
    src.values.foreach(_.count())
    val nl: Array[Int] = spark.range(1, NOrders + 1).select(col("id").as("k"))
      .select(linesPerOrder(ctx.seed)).collect().map(_.getInt(0))
    val schedule = new Gen(ctx.seed, nl).schedule(8)
    ctx.mark("inputs")
    val keysOf = Map("orders" -> OrdKeys, "lineitem" -> LiKeys)

    // set-up: publish both tables into a fresh catalog namespace, three
    // times; the run uses the last namespace
    def publishAll(ns: String): Map[String, String] = src.map { case (t, df) =>
      val path = ctx.path(s"warehouse/$ns/$t")
      Trace.span("maint.publish") {
        AtomicPublish.publish(spark, path)(d => df.write.parquet(d))
      }
      GraftCatalog.writeProps(spark, path,
        Map(GraftCatalog.MergeKeysProp -> keysOf(t).mkString(",")))
      spark.table(s"graft_cat.$ns.$t").schema
      t -> path
    }
    val reps = (0 until 3).map { i =>
      val t = ctx.now
      val paths = publishAll(s"db$i")
      (ctx.ms(t) / 1000.0, paths)
    }
    val paths = reps.last._2
    ctx.mark("publish")
    val names = Map("li" -> "graft_cat.db2.lineitem", "o" -> "graft_cat.db2.orders")
    def sqlText(s: String, n: Map[String, String]) =
      s.replace("{li}", n("li")).replace("{o}", n("o"))

    val setupS = sessionS + Stats.median(reps.map(_._1))
    ctx.note("session_s", sessionS)
    ctx.note("publish_s", reps.map(_._1).mkString(","))
    ctx.metric("setup_s", setupS, "s")
    ctx.reportMetric("setup_s", setupS, "s")
    ctx.sampleLiveHeap()

    // versions after set-up and after every commit, per table
    val versions = Map("orders" -> mutable.ArrayBuffer.empty[Long],
      "lineitem" -> mutable.ArrayBuffer.empty[Long])
    val versionCommits = Map("orders" -> mutable.ArrayBuffer.empty[Int],
      "lineitem" -> mutable.ArrayBuffer.empty[Int])
    def stampVersion(t: String, commits: Int): Unit = {
      versions(t) += AtomicPublish.currentVersion(spark, paths(t)).get
      versionCommits(t) += commits
    }
    Seq("orders", "lineitem").foreach(stampVersion(_, 0))

    val log = mutable.ArrayBuffer.empty[Logged]
    val commitsDone = mutable.ArrayBuffer.empty[Commit]
    val snapshotFiles = mutable.ArrayBuffer.empty[(Double, Double)]
    val userBytes = mutable.Map.empty[String, Long]
    var i = 0
    var commitIdx = 0
    /** Run schedule ops [i, until) as ops of `group` ("query" or
      * "commit", with `prefix`); `traced` as in [[Ctx.op]]. */
    def runOps(until: Int, prefix: String, traced: Option[Boolean]): Unit =
      while (i < until) {
        schedule(i) match {
          case Left(read) =>
            val before = commitsDone.size
            ctx.op(prefix + "query", read.kind, traced)(
              runRead(ctx, spark, read, names, paths, versions)
            ).foreach { case (digest, snapFiles, opens) =>
              log += Logged(read, before, digest)
              if (snapFiles > 0) snapshotFiles += ((opens, snapFiles))
            }
          case Right(c) =>
            userBytes(s"op${ctx.ops.size}") = c match {
              case Upsert(_, rows, _) => rows.map(_.mkString("|").length + 1L).sum
              case DeleteKeys(_, keys) => keys.map(_.mkString("|").length + 1L).sum
              case SqlDeleteOrders(oks) => oks.map(_.toString.length + 1L).sum
              case Compact(_) => 0L
            }
            val done = ctx.op(prefix + "commit", c.kind, traced)(
              runCommit(spark, c, paths, keysOf, commitIdx))
            commitIdx += 1
            if (done.isDefined) {
              commitsDone += c
              stampVersion(c.table, commitsDone.size)
            }
        }
        i += 1
      }
    // one untimed warm-up round, so that no op kind pays JIT and codegen
    // warm-up in the timed phase and both tables have commits
    val tw = ctx.now
    runOps(WarmSize, "warm_", Some(false))
    ctx.note("warmup_round_s", ctx.ms(tw) / 1000.0)
    ctx.mark("warmup_round")
    // then a fixed amount of work, whole rounds sized to take about the
    // run's seconds, so every run measures the same op mix; a traced run
    // adds one untraced round after the traced ones, and the difference
    // is the tracing overhead
    val rounds = math.max(1, math.round(ctx.seconds / RoundSeconds).toInt)
    val gc0 = ctx.gcMs()
    val start = ctx.now
    runOps(i + rounds * RoundSize, "", Some(true))
    val elapsedS = ctx.ms(start) / 1000.0
    val gcMs = ctx.gcMs() - gc0
    ctx.mark("timed")
    if (ctx.trace) runOps(i + RoundSize, "untraced_", Some(false))
    ctx.sampleLiveHeap()

    // metrics
    ctx.latency("query", "query")
    ctx.latency("commit", "commit")
    val okOps = ctx.ops.count(r => r.ok && r.traced == ctx.trace &&
      (r.group == "query" || r.group == "commit"))
    val opsPerS = okOps / elapsedS
    ctx.reportMetric("ops_per_s", opsPerS, "1/s")
    // geometric means: with one read of each kind per round, the median
    // jumps between kinds from run to run; the geometric mean of the
    // same samples does not
    val qg = Stats.geomean(ctx.samplesOf("query"))
    val cg = Stats.geomean(ctx.samplesOf("commit"))
    ctx.reportMetric("query_geomean_ms", qg, "ms")
    ctx.reportMetric("commit_geomean_ms", cg, "ms")
    ctx.metric("latency_ms", qg, "ms")
    ctx.metric("aux_ms", cg, "ms")
    ctx.metric("throughput", opsPerS, "1/s")
    ctx.note("reads", log.size)
    ctx.note("commits", commitsDone.size)

    ctx.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      ctx.note(s"median_ms.$k", Stats.median(rs.map(_.wallMs).toSeq))
    }
    val tCheck = ctx.now
    // checks: replay the log on the model
    val baseO = src("orders")
    val baseLi = src("lineitem")
    // the model state after n commits, as temp views named by n; the
    // reads are then checked concurrently
    val states = (0 to commitsDone.size).map { n =>
      val m = new Model(spark, baseO, baseLi, nl)
      commitsDone.take(n).foreach(m.apply(_))
      m.orders.createOrReplaceTempView(s"m_orders_$n")
      m.lineitem.createOrReplaceTempView(s"m_lineitem_$n")
      m
    }
    // version stamp j of a table was taken after versionCommits(j) commits
    val countAtVersion: Map[(String, Long), Long] = versions.toSeq.flatMap { case (t, vs) =>
      vs.indices.map(j => (t, vs(j)) -> states(versionCommits(t)(j)).count(t))
    }.toMap
    // the change feed of a table across versions (from, to]: the change
    // rows of the commits stamped in between
    val changeRows = states.last.changeRows
    def changesExpected(t: String, from: Long, to: Long): Long =
      versions(t).indices.filter { j =>
        versions(t)(j) > from && versions(t)(j) <= to && versionCommits(t)(j) > 0
      }
        .map(j => changeRows(versionCommits(t)(j) - 1)).sum
    def modelNames(n: Int) = Map("li" -> s"m_lineitem_$n", "o" -> s"m_orders_$n")
    def expected(l: Logged): String = l.read match {
      case SqlRead(_, sql) =>
        rowsDigest(spark.sql(sqlText(sql, modelNames(l.commitsBefore))).collect().toSeq)
      case Median() =>
        rowsDigest(medianOf(spark.sql(
          s"""SELECT v FROM (SELECT o_totalprice AS v,
             |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             |  count(*) OVER () AS n FROM m_orders_${l.commitsBefore})
             |WHERE rn IN (floor((n + 1) / 2), floor((n + 2) / 2))""".stripMargin))
          .collect().toSeq)
      case ReadAt() | Changes() if !l.digest.startsWith("changes:") =>
        val Array(t, v, _) = l.digest.split(":")
        s"$t:$v:${countAtVersion((t, v.toLong))}"
      case Changes() =>
        val Array(_, t, from, to, _) = l.digest.split(":")
        s"changes:$t:$from:$to:${changesExpected(t, from.toLong, to.toLong)}"
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val bad = try {
      log.toList.map(l => pool.submit(() => Some(expected(l)).filter(_ != l.digest)
          .map(e => s"${l.read.kind}: got ${l.digest}, model $e")))
        .flatMap(_.get())
    } finally pool.shutdown()
    ctx.check("every read equals the model replay", bad.isEmpty,
      s"${log.size} reads, ${bad.size} mismatches; ${bad.take(3).mkString("; ")}")
    val finalModel = states.last
    Seq("orders" -> finalModel.orders, "lineitem" -> finalModel.lineitem).foreach {
      case (t, m) =>
        val got = tableDigest(spark.table(s"graft_cat.db2.$t"))
        val want = tableDigest(m)
        ctx.check(s"final $t snapshot equals the model", got == want, s"$got vs $want")
    }
    ctx.check("no op failed", ctx.failedOps == 0, s"${ctx.failedOps} failed")
    ctx.note("check_s", ctx.ms(tCheck) / 1000)

    if (ctx.trace) traceMetrics(ctx, snapshotFiles.toSeq, userBytes.toMap, gcMs)
  }

  /** One read; returns (digest, snapshot parquet files, parquet opens).
    * Traced reads also probe the snapshot they read. */
  private def runRead(ctx: Ctx, spark: SparkSession, read: Read,
                      names: Map[String, String], paths: Map[String, String],
                      versions: Map[String, mutable.ArrayBuffer[Long]]): (String, Double, Double) = read match {
    case SqlRead(_, sql) =>
      val tables = Seq("li" -> "lineitem", "o" -> "orders")
        .filter { case (k, _) => sql.contains(s"{$k}") }.map(_._2)
      val snapFiles = if (!Trace.enabled) 0.0 else tables.map { t =>
        val segs = Trace.span("sources.snapshot")(AtomicPublish.currentSegments(spark, paths(t)))
        ctx.sample("segments_live", segs.size)
        segs.map(s => parquetFiles(spark, s"${paths(t)}/$s")).sum.toDouble
      }.sum
      CountingFileSystem.takeOpened()
      val df = Trace.span("plan.build")(spark.sql(
        sql.replace("{li}", names("li")).replace("{o}", names("o"))))
      val rows = Trace.span("plan.exec")(df.collect().toSeq)
      (rowsDigest(rows), snapFiles, CountingFileSystem.takeOpened().toDouble)
    case Median() =>
      val df = Trace.span("plan.build")(medianOf(DistributedSelect.atRanks(
        spark.table(names("o")).select(col("o_totalprice"), col("o_orderkey")),
        "o_totalprice", "o_orderkey",
        n => Seq(floor((n + lit(1)) / lit(2)), floor((n + lit(2)) / lit(2))))))
      (rowsDigest(Trace.span("plan.exec")(df.collect().toSeq)), 0.0, 0.0)
    case ReadAt() =>
      val vs = versions("lineitem")
      val v = vs(math.min(HistoryCommits, vs.size - 1))
      val n = Trace.span("maint.read_at")(
        AtomicPublish.readAt(spark, paths("lineitem"), v).count())
      (s"lineitem:$v:$n", 0.0, 0.0)
    case Changes() =>
      val vs = versions("lineitem")
      if (vs.size <= HistoryCommits) {
        val v = vs.last
        val n = Trace.span("maint.read_at")(
          AtomicPublish.readAt(spark, paths("lineitem"), v).count())
        (s"lineitem:$v:$n", 0.0, 0.0)
      } else {
        val (from, to) = (vs(0), vs(HistoryCommits))
        val n = Trace.span("maint.changes")(
          AtomicPublish.changesBetween(spark, paths("lineitem"), from, to).count())
        (s"changes:lineitem:$from:$to:$n", 0.0, 0.0)
      }
  }

  private def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  private def runCommit(spark: SparkSession, c: Commit, paths: Map[String, String],
                        keysOf: Map[String, Seq[String]], idx: Int): Unit = {
    val schema = if (c.table == "orders") OrdSchema else LiSchema
    val target = s"graft_cat.db2.${c.table}"
    c match {
      case Upsert(t, rows, false) =>
        val df = spark.createDataFrame(rows.asJava, schema)
        Trace.span("maint.upsert")(MergeInto.upsertInto(spark, paths(t), df, keysOf(t)))
      case Upsert(t, rows, true) =>
        val view = s"perfbench_batch_$idx"
        spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(view)
        val on = keysOf(t).map(k => s"t.$k = s.$k").mkString(" AND ")
        Trace.span("sql.merge")(spark.sql(
          s"""MERGE INTO $target t USING $view s ON $on
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        spark.catalog.dropTempView(view)
      case DeleteKeys(t, keys) =>
        val ks = StructType(schema.fields.filter(f => keysOf(t).contains(f.name)))
        Trace.span("maint.delete")(
          MergeInto.deleteFrom(spark, paths(t), spark.createDataFrame(keys.asJava, ks), keysOf(t)))
      case SqlDeleteOrders(oks) =>
        Trace.span("sql.delete")(spark.sql(
          s"DELETE FROM $target WHERE l_orderkey IN (${oks.mkString(",")})"))
      case Compact(t) =>
        Trace.span("maint.compact")(MergeInto.compactMerged(spark, paths(t)))
    }
    ()
  }

  private def traceMetrics(ctx: Ctx, snapshotFiles: Seq[(Double, Double)],
                           userBytes: Map[String, Long], gcMs: Double): Unit = {
    val spark = SparkSession.active
    Trace.drain(spark)
    val reads = ctx.ops.filter(r => r.traced && r.ok && r.group == "query").toList
    val commits = ctx.ops.filter(r => r.traced && r.ok && r.group == "commit").toList
    import Layers._
    spanMedian(ctx, "plan.build_ms", "plan.build")
    spanMedian(ctx, "plan.exec_ms", "plan.exec")
    val plans = reads.map(r => Trace.planEventsIn(Ctx.wallMs(r.startNs), Ctx.wallMs(r.endNs)))
    def phase(f: Trace.PlanEvent => Long) = Stats.median(plans.map(_.map(f).sum.toDouble))
    set(ctx, "plan.analysis_ms", phase(_.analysisMs))
    set(ctx, "plan.optimization_ms", phase(_.optimizationMs))
    set(ctx, "plan.planning_ms", phase(_.planningMs))
    spanMedian(ctx, "sources.snapshot_ms", "sources.snapshot")
    set(ctx, "sources.segments_live", mean(ctx.samplesOf("segments_live")))
    set(ctx, "sources.files_scanned", mean(snapshotFiles.map(_._1)))
    val snap = snapshotFiles.map(_._2).sum
    set(ctx, "sources.files_skipped_ratio",
      if (snap == 0) 0.0 else 1.0 - snapshotFiles.map(_._1).sum / snap)
    spanMedian(ctx, "maint.upsert_ms", "maint.upsert")
    spanMedian(ctx, "maint.delete_ms", "maint.delete")
    spanMedian(ctx, "maint.compact_ms", "maint.compact")
    spanMedian(ctx, "maint.read_at_ms", "maint.read_at")
    spanMedian(ctx, "maint.changes_ms", "maint.changes")
    spanMedian(ctx, "sql.merge_ms", "sql.merge")
    spanMedian(ctx, "sql.delete_ms", "sql.delete")
    set(ctx, "maint.commit_driver_ms", Stats.median(commits.map(driverOnlyMs)))
    val userCommits = commits.filter(_.kind != "compact")
    set(ctx, "maint.files_written", mean(userCommits.map(_.fs.creates.toDouble)))
    set(ctx, "fs.meta_ops_per_commit", mean(commits.map(_.fs.meta.toDouble)))
    set(ctx, "fs.meta_ops_per_read", mean(reads.map(_.fs.meta.toDouble)))
    val written = userCommits.map(r => Trace.jobStats(r.id).output.toDouble).sum
    val user = userCommits.map(r => userBytes.getOrElse(r.id, 0L).toDouble).sum
    set(ctx, "maint.write_amp", if (user == 0) 0.0 else written / user)
    common(ctx, gcMs)
    overhead(ctx, "query")
  }
}
