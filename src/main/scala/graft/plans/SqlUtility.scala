package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{AtomicPublish, MergeInto}
import graft.sources.GraftCatalog

/** The SQL UTILITY surface of the table protocol — the maintenance
  * verbs Delta Lake exposes through its own parser extension
  * (`DeltaSqlParser`), spelled the same way here:
  *
  * {{{
  *   VACUUM cat.db.t [RETAIN 168 HOURS]
  *   OPTIMIZE cat.db.t [ZORDER BY (c1, c2)]
  *   RESTORE [TABLE] cat.db.t TO VERSION AS OF 3
  *   DESCRIBE HISTORY cat.db.t
  *   SELECT * FROM table_changes('cat.db.t', 1, 4)       -- the TVF
  * }}}
  *
  * None of these is Spark grammar — a session without the extension
  * gets Spark's own parse error, so wrapping the parser adds surface
  * without contention. [[GraftSqlParser]] fronts the session parser:
  * four anchored regexes recognize the utility verbs and build
  * protocol commands; EVERYTHING else — including any failure inside
  * our own grammar detection — delegates verbatim, so the wrapper can
  * never change the meaning of a statement it doesn't own. The target
  * table is either a catalog-resolved name (must resolve to a
  * [[GraftCatalog]]-managed table — a maintenance verb against a
  * foreign catalog refuses loudly) or a quoted filesystem path (the
  * ops-API address; the protocol validates it owns a MANIFEST).
  *
  * All four commands are metadata-or-protocol work: DESCRIBE HISTORY
  * collects one row per RETAINED commit (bounded by retention, never
  * by table size), VACUUM/OPTIMIZE/RESTORE run the same lock-scoped
  * protocol ops the Scala API exposes ([[AtomicPublish.vacuum]] /
  * [[AtomicPublish.optimizeTable]] / [[MergeInto.compactMerged]] /
  * [[AtomicPublish.restoreTable]]), so SQL and API maintenance can
  * race each other safely under the same CAS.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseUtility(sqlText).getOrElse(delegate.parsePlan(sqlText))

  /** Parameterized queries (`spark.sql(text, args)`): utility verbs
    * take no parameters, so a grammar hit ignores the context and a
    * miss delegates WITH it — parameter binding is never lost. */
  override def parsePlanWithParameters(sqlText: String,
                                       context: ParameterContext): LogicalPlan =
    parseUtility(sqlText).getOrElse(
      delegate.parsePlanWithParameters(sqlText, context))

  private def parseUtility(sqlText: String): Option[LogicalPlan] = {
    val vacuum = VacuumRe.matcher(sqlText)
    if (vacuum.matches())
      return Some(GraftVacuumCommand(target(vacuum.group(1)),
        Option(vacuum.group(2)).map(_.toLong)))
    val optimize = OptimizeRe.matcher(sqlText)
    if (optimize.matches())
      return Some(GraftOptimizeCommand(target(optimize.group(1)),
        Option(optimize.group(2)).toSeq.flatMap(_.split(",")
          .map(stripIdentQuotes).filter(_.nonEmpty))))
    val restore = RestoreRe.matcher(sqlText)
    if (restore.matches())
      return Some(GraftRestoreCommand(target(restore.group(1)),
        restore.group(2).toLong))
    val convert = ConvertRe.matcher(sqlText)
    if (convert.matches())
      return Some(GraftConvertCommand(convert.group(1)))
    // `DESC history` / `DESC detail` are also valid SPARK grammar when
    // a table is literally named so — claim these verbs only for
    // targets a bare DESCRIBE could never mean: multi-part names and
    // quoted paths. Single-part (and unparseable) targets delegate.
    def describeTarget(raw: String): Option[GraftSqlTarget] = {
      val t = try Some(target(raw)) catch { case _: Exception => None }
      t.filter {
        case GraftSqlTarget.Named(parts) => parts.length >= 2
        case _ => true
      }
    }
    val history = HistoryRe.matcher(sqlText)
    if (history.matches())
      describeTarget(history.group(1)).foreach(tgt =>
        return Some(GraftDescribeHistoryCommand(tgt)))
    val detail = DetailRe.matcher(sqlText)
    if (detail.matches())
      describeTarget(detail.group(1)).foreach(tgt =>
        return Some(GraftDescribeDetailCommand(tgt)))
    None
  }

  /** `'…'` → a filesystem path; anything else → a multipart name
    * parsed by the DELEGATE (so backticked components keep Spark's
    * exact quoting rules). */
  private def target(raw: String): GraftSqlTarget = {
    val t = raw.trim
    if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
      GraftSqlTarget.AtPath(t.substring(1, t.length - 1))
    else
      GraftSqlTarget.Named(delegate.parseMultipartIdentifier(t))
  }

  private def stripIdentQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.startsWith("`") && t.endsWith("`"))
      t.substring(1, t.length - 1)
    else t
  }

  // -- pure delegation below: the wrapper owns statements, not syntax --
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // Anchored, case-insensitive, dot-matches-newline; optional
  // trailing `;`. Group 1 is always the target (name or quoted path).
  private val VacuumRe = Pattern.compile(
    """\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS?)?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val OptimizeRe = Pattern.compile(
    """\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val RestoreRe = Pattern.compile(
    """\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val HistoryRe = Pattern.compile(
    """\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val DetailRe = Pattern.compile(
    """\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val ConvertRe = Pattern.compile(
    """\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)

  /** `table_changes('cat.db.t' | '/path', from, to)` — Delta's CDF
    * table-valued function, registered via `injectTableFunction`.
    * Arguments must be literals (the builder runs at analysis time);
    * the plan returned is the SAME change-feed plan
    * [[AtomicPublish.changesBetween]] builds for the API —
    * `_change_type`/`_commit_version` stamped, fold-surviving, cost ∝
    * the window's changes. `from`/`to` are integer versions or
    * timestamp STRINGS (epoch-ms or ISO-8601, Delta's dual spelling):
    * a from-timestamp resolves to the version BEFORE the first commit
    * at-or-after the instant (clamped to 1 — so that commit's changes
    * are included), a to-timestamp to the newest commit at-or-before
    * it. */
  def tableChangesPlan(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.length != 3) throw new IllegalArgumentException(
      "table_changes(table, from, to) takes exactly 3 " +
        s"arguments, got ${exprs.length}")
    exprs.filterNot(_.foldable).foreach(e =>
      throw new IllegalArgumentException(
        s"table_changes arguments must be literals, got `${e.sql}`"))
    val spark = SparkSession.active
    val name = exprs.head.eval() match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: first argument must be a table name or path " +
          s"string, got $other")
    }
    val path = GraftSqlTarget.resolveString(spark, name)
    def bound(e: Expression, which: String, fromSide: Boolean): Long =
      e.eval() match {
        case n: Number => n.longValue()
        case s: UTF8String =>
          val ts = AtomicPublish.parseInstantMs(s.toString,
            s"table_changes: $which")
          if (fromSide)
            math.max(1L, AtomicPublish.versionSince(spark, path, ts) - 1L)
          else {
            // a to-instant past the newest commit means "through the
            // newest commit" (a WINDOW bound, not a travel target —
            // Delta's endingTimestamp clamps the same way); an instant
            // predating the oldest retained commit stays loud
            val latest = AtomicPublish.currentVersion(spark, path)
              .getOrElse(throw new IllegalArgumentException(
                s"table_changes: no published version at $path"))
            if (AtomicPublish.versionSince(spark, path, ts) > latest) latest
            else AtomicPublish.versionAt(spark, path, ts)
          }
        case other => throw new IllegalArgumentException(
          s"table_changes: $which must be an integer version or a " +
            s"timestamp string, got $other")
      }
    AtomicPublish.changesBetween(spark, path,
      bound(exprs(1), "from", fromSide = true),
      bound(exprs(2), "to", fromSide = false)).queryExecution.analyzed
  }
}

/** A utility statement's target, resolved at RUN time (the table may
  * be created between parse and execution — same late binding as every
  * other command). */
sealed trait GraftSqlTarget {
  def resolve(spark: SparkSession): String
}

object GraftSqlTarget {
  /** A quoted filesystem path — the ops-API address form
    * (`VACUUM '/data/t'`). The protocol op validates the MANIFEST. */
  final case class AtPath(path: String) extends GraftSqlTarget {
    override def resolve(spark: SparkSession): String = path
  }

  /** A catalog-resolved name: `cat.db.t`, or `db.t` against the
    * session's CURRENT catalog. The catalog must be a [[GraftCatalog]]
    * — these verbs drive the graft table protocol and nothing else. */
  final case class Named(parts: Seq[String]) extends GraftSqlTarget {
    override def resolve(spark: SparkSession): String = {
      val cm = spark.sessionState.catalogManager
      val (catName, ns, tbl) = parts match {
        case Seq(c, db, t) => (c, db, t)
        case Seq(db, t) => (cm.currentCatalog.name(), db, t)
        case _ => throw new IllegalArgumentException(
          s"graft SQL utility: table name `${parts.mkString(".")}` must " +
            "be catalog.namespace.table (or namespace.table against the " +
            "current catalog), or a quoted '/path'")
      }
      cm.catalog(catName) match {
        case g: GraftCatalog =>
          g.resolveTablePath(Identifier.of(Array(ns), tbl))
        case other => throw new UnsupportedOperationException(
          s"graft SQL utility: catalog `$catName` is " +
            s"${other.getClass.getName}, not a graft catalog — " +
            "VACUUM/OPTIMIZE/RESTORE/DESCRIBE HISTORY/table_changes " +
            "address the graft table protocol only")
      }
    }
  }

  /** String form used by the TVF: a '/'-bearing string is a path,
    * anything else parses as a multipart name. */
  def resolveString(spark: SparkSession, s: String): String =
    if (s.contains("/")) s
    else Named(spark.sessionState.sqlParser.parseMultipartIdentifier(s))
      .resolve(spark)
}

/** `VACUUM t [RETAIN n HOURS]` → [[AtomicPublish.vacuum]]: reap
  * superseded segment directories older than the retention window and
  * age out their version-log entries — under the commit lock, exactly
  * the API's reaper. RETAIN overrides [[graft.engine.GraftConf.RetentionMs]]
  * for THIS call only (restored after, even on failure). Returns the
  * number of directories deleted — bounded driver work (a directory
  * listing of the table root, metadata-sized). */
case class GraftVacuumCommand(target: GraftSqlTarget,
                              retainHours: Option[Long])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("deleted_dirs", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs: Long = fs.listStatus(root).count(_.isDirectory)
    val before = dirs
    retainHours match {
      case Some(h) =>
        val key = graft.engine.GraftConf.RetentionMs.key
        val old = spark.conf.getOption(key)
        spark.conf.set(key, (h * 3600L * 1000L).toString)
        try AtomicPublish.vacuum(spark, path)
        finally old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
      case None => AtomicPublish.vacuum(spark, path)
    }
    Seq(Row(path, before - dirs))
  }
}

/** `OPTIMIZE t` → [[MergeInto.compactMerged]] (fold pending
  * merge-on-read segments; a clustered table folds INCREMENTALLY,
  * preserving its layout). `OPTIMIZE t ZORDER BY (c…)` →
  * [[AtomicPublish.optimizeTable]]; when the table's recorded layout
  * already clusters by the same columns the run is incremental
  * (`onlyNew = true` — cost ∝ new data), otherwise the full clustering
  * rewrite (the pay-once-to-prune-forever pass) into
  * [[GraftOptimizeCommand.Segments]] output segments. */
case class GraftOptimizeCommand(target: GraftSqlTarget,
                                zorderBy: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("outcome", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    val (op, out) =
      if (zorderBy.isEmpty) ("COMPACT", MergeInto.compactMerged(spark, path))
      else {
        val sameLayout = AtomicPublish.clusterMeta(spark, path)
          .exists(_._1.map(_.toLowerCase) == zorderBy.map(_.toLowerCase))
        ("ZORDER", AtomicPublish.optimizeTable(spark, path, zorderBy,
          GraftOptimizeCommand.Segments, onlyNew = sameLayout))
      }
    val outcome = out match {
      case AtomicPublish.CompactOutcome.Compacted(_) => "COMPACTED"
      case AtomicPublish.CompactOutcome.AlreadyCompact => "ALREADY_COMPACT"
      case AtomicPublish.CompactOutcome.LostRace => "LOST_RACE"
    }
    Seq(Row(path, op, outcome))
  }
}

object GraftOptimizeCommand {
  /** Output segment count for `OPTIMIZE … ZORDER BY` through SQL (the
    * API takes it as a parameter). */
  val Segments = 8
}

/** `RESTORE [TABLE] t TO VERSION AS OF n` →
  * [[AtomicPublish.restoreTable]]: a pure-metadata commit whose
  * manifest names the restored version's still-retained directories.
  * Returns the restored-to and newly-committed version numbers. */
case class GraftRestoreCommand(target: GraftSqlTarget, version: Long)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    val newV = AtomicPublish.restoreTable(spark, path, version)
    Seq(Row(path, version, newV))
  }
}

/** `DESCRIBE HISTORY t` → [[AtomicPublish.tableHistory]]: one row per
  * retained commit, operation classified from the version log itself.
  * The collect is bounded by RETAINED COMMITS (retention window ×
  * commit rate), never by table size — the same bound the API call
  * carries. */
case class GraftDescribeHistoryCommand(target: GraftSqlTarget)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("num_segments", IntegerType, nullable = false)(),
    AttributeReference("num_added", IntegerType, nullable = false)(),
    AttributeReference("is_fold", BooleanType, nullable = false)(),
    AttributeReference("timestamp", TimestampType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    AtomicPublish.tableHistory(spark, path).collect().toSeq
  }
}

/** `CONVERT TO GRAFT '/path'` — adopt a plain parquet directory as a
  * published graft table IN PLACE ([[AtomicPublish.convertInPlace]]):
  * part files rename into a segment directory (zero bytes moved),
  * zonemap/bloom sidecars harvest from the footers already on disk,
  * and the manifest commits under the normal lock window. Delta's
  * `CONVERT TO DELTA`, for the same 100 TB reason — adoption must
  * cost metadata, not a rewrite. Path-literal targets only: a catalog
  * name presupposes the table already exists. */
case class GraftConvertCommand(path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("files_converted", IntegerType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (files, version) = AtomicPublish.convertInPlace(spark, path)
    Seq(Row(path, files, version))
  }
}

/** `DESCRIBE DETAIL t` — the one-row operational summary (Delta's
  * `DESCRIBE DETAIL` shape): current version, segment counts (live /
  * pending-merge), the recorded clustering layout, the declared merge
  * identity and TBLPROPERTIES, and the live byte footprint. Pure
  * metadata: one manifest read, one version-log stat, sidecar name
  * listings — never a data scan. */
case class GraftDescribeDetailCommand(target: GraftSqlTarget)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("current_version", LongType, nullable = false)(),
    AttributeReference("num_segments", IntegerType, nullable = false)(),
    AttributeReference("pending_merge_segments", IntegerType,
      nullable = false)(),
    AttributeReference("cluster_by", StringType, nullable = true)(),
    AttributeReference("merge_keys", StringType, nullable = true)(),
    AttributeReference("properties", StringType, nullable = true)(),
    AttributeReference("size_in_bytes", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val path = target.resolve(spark)
    val version = AtomicPublish.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"DESCRIBE DETAIL: no published version (MANIFEST) at $path"))
    val segs = AtomicPublish.currentSegments(spark, path)
    val pending = AtomicPublish.upsertSidecarsFor(spark, path, segs)
    val cluster = AtomicPublish.clusterMeta(spark, path)
      .map(_._1.mkString(","))
    val props = graft.sources.GraftCatalog.readProps(spark, path)
    val mergeKeys = props.get("merge.keys")
    val propsStr =
      if (props.isEmpty) None
      else Some(props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(";"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = segs.map { d =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(root, d)).getLength
    }.sum
    Seq(Row("graft", path, version, segs.length, pending.size,
      cluster.orNull, mergeKeys.orNull, propsStr.orNull, bytes))
  }
}
