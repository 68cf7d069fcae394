package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY-MAINTAINED MATERIALIZED VIEWS over [[AtomicPublish]]
  * tables — the serving-layer pattern a 100 TB corpus needs: a
  * dashboard aggregate (docs per source, balance per nation) must not
  * cost a corpus scan per refresh when the day's changes touched a
  * handful of groups.
  *
  * A view is `SELECT groupCols, aggs FROM source [JOIN dims] GROUP BY
  * groupCols`, materialized as its own published table keyed by
  * `groupCols`. STAR SCHEMAS (round 16): [[JoinSpec]] dims broadcast-
  * join the fact before grouping, so group columns may live on a dim;
  * the incremental contract covers FACT changes (dims are snapshot
  * inputs — a dim edit needs [[fullRefresh]]).
  * [[create]] pays the one full compute; [[refresh]] then advances the
  * view across the source's commits using the CHANGE DATA FEED
  * ([[AtomicPublish.changesBetween]]) with PARTIAL RECOMPUTE:
  *
  *  1. derive the set of AFFECTED GROUPS from the change window —
  *     the groups of inserted/updated post-images, plus the groups the
  *     updated/deleted keys belonged to at the last-refreshed version
  *     (an update can MOVE a row between groups; tombstones carry keys
  *     only — both preimage groups come from one broadcast-semi-joined
  *     scan of the `fromVersion` snapshot against the changed keys,
  *     bytes ∝ changes after pushdown);
  *  2. recompute ONLY those groups from the current source (`IN`-list
  *     pushed into the scan when the group set is small enough to ship
  *     as a literal — segment zonemaps and parquet row-group stats
  *     both prune on it — else a broadcast semi-join);
  *  3. MERGE the recomputed rows into the view (upsert keyed by
  *     `groupCols`) and tombstone groups that vanished entirely —
  *     both merge-on-read commits ∝ the affected groups;
  *  4. record the new source version in the view's sidecar (LAST —
  *     a crash mid-refresh re-runs the whole refresh from the old
  *     version, and steps 2-3 are idempotent: recompute-and-replace
  *     converges).
  *
  * Refresh cost is ∝ changes + (affected groups × their source rows) —
  * never the corpus. Source COMPACTIONS inside the un-refreshed window
  * are fine: fold commits are content-preserving and declared in the
  * version log, so [[AtomicPublish.changesBetween]] diffs straight
  * through them — a view lagging arbitrarily many auto-folds still
  * refreshes ∝ changes, as long as the lag stays inside the source's
  * RETENTION window (pre-fold segments stay readable exactly that
  * long). Only a source restore/republish (content rewrites) or a lag
  * past retention still refuses; [[refresh]] surfaces that loudly and
  * [[fullRefresh]] re-bases.
  *
  * Determinism contract: agg expressions must be deterministic and
  * insensitive to recompute (count/min/max/decimal-cast sums — the
  * same rule every graded query follows); raw-double sums would make
  * a refreshed view diverge from a from-scratch one by float
  * association.
  */
object MaterializedView {

  /** View metadata sidecar at the MV table root. */
  val MetaFile = "_graft_mv"

  /** Driver-side ceiling for shipping the affected-group set as a
    * literal IN filter (pushes into the scan → zonemap + row-group
    * pruning). Bigger sets fall back to a broadcast semi-join. */
  val InListMax = 1000

  /** One aggregate column: `name` is the output column, `expr` a
    * deterministic SQL aggregate over the source's columns. */
  final case class AggSpec(name: String, expr: String) {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n") &&
      !expr.contains("\t") && !expr.contains("\n"),
      s"agg spec must be single-line, tab-free: $name = $expr")
  }

  /** One star-schema DIMENSION join: the fact source inner-joins the
    * published table at `dimPath` on `keys` (broadcast — dims are the
    * small side by definition) before grouping. Dims are SNAPSHOT
    * inputs pinned at each refresh: the incremental contract covers
    * FACT changes (the CDF window); a dim edit invalidates unaffected
    * groups too and needs [[fullRefresh]] — the standard star-MV
    * maintenance boundary. */
  final case class JoinSpec(dimPath: String, keys: Seq[String]) {
    require(dimPath.nonEmpty && !dimPath.contains("\t") &&
      keys.nonEmpty && keys.forall(k => !k.contains("\t") && !k.contains(",")),
      s"join spec must be tab-free with non-empty keys: $dimPath $keys")
  }

  final case class MvMeta(sourceTable: String, keys: Seq[String],
                          groupCols: Seq[String], aggs: Seq[AggSpec],
                          sourceVersion: Long,
                          joins: Seq[JoinSpec] = Nil)

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
                                affectedGroups: Long, recomputedRows: Long,
                                deletedGroups: Long)

  /** Materialize the view: one full group-by over the source's CURRENT
    * version, published as `mvPath` with the consumed source version
    * recorded. `keys` are the SOURCE's merge keys (what its
    * upserts/deletes are keyed by) — refresh needs them to resolve
    * preimage groups. */
  def create(spark: SparkSession, mvPath: String, sourceTable: String,
             keys: Seq[String], groupCols: Seq[String],
             aggs: Seq[AggSpec], joins: Seq[JoinSpec] = Nil): Unit = {
    require(groupCols.nonEmpty, "materialized view: empty groupCols")
    require(aggs.nonEmpty, "materialized view: empty agg list")
    require(keys.nonEmpty, "materialized view: empty source key list")
    val dupNames = (groupCols ++ aggs.map(_.name)).groupBy(identity)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(dupNames.isEmpty, s"duplicate MV column names: $dupNames")
    val v = AtomicPublish.currentVersion(spark, sourceTable).getOrElse(
      throw new IllegalStateException(
        s"materialized view: source $sourceTable has no version log — " +
          "publish it through AtomicPublish first"))
    val snapshot = computeGroups(
      withDims(spark, AtomicPublish.readAt(spark, sourceTable, v), joins),
      groupCols, aggs)
    // null-group refusal from the STAGED parquet footers (round 17,
    // guide §7.2): the pre-round-17 shape ran refuseNullGroups as a
    // count() action BEFORE publishing — a second full evaluation of
    // the corpus group-by just to prove no group key is null. The
    // footer null counts answer the same question driver-side for
    // free; a violation throws inside the publish callback, so the
    // staging is reclaimed and nothing is ever published.
    AtomicPublish.publish(spark, mvPath) { p =>
      snapshot.write.parquet(p)
      refuseNullGroupsStaged(spark, p, groupCols, "create")
    }
    writeMeta(spark, mvPath,
      MvMeta(sourceTable, keys, groupCols, aggs, v, joins))
  }

  /** Broadcast-join the fact frame with every dimension (inner, FK
    * equality). Dims read their CURRENT published version — they are
    * snapshot inputs of the computation they appear in. */
  private def withDims(spark: SparkSession, fact: DataFrame,
                       joins: Seq[JoinSpec]): DataFrame =
    joins.foldLeft(fact)((df, j) =>
      df.join(broadcast(AtomicPublish.read(spark, j.dimPath)), j.keys))

  /** NULL group values are REFUSED loudly: the view's rows are merged
    * by group key, and the merge protocol's SQL-join semantics never
    * match (so never update or delete) NULL keys — a null group would
    * silently go stale forever. Coalesce nullable group columns
    * upstream (`coalesce(col, 'unknown')`). The check runs on the
    * group-by OUTPUT — one row per group, metadata-cheap. */
  private def refuseNullGroups(grouped: DataFrame, groupCols: Seq[String],
                               where: String): Unit = {
    val nNull = grouped.filter(
      groupCols.map(col(_).isNull).reduce(_ || _)).count()
    require(nNull == 0,
      s"materialized view ($where): $nNull group(s) with NULL key values " +
        "— null groups cannot be incrementally merged; coalesce the group " +
        "columns in the source first")
  }

  /** [[refuseNullGroups]] over a JUST-WRITTEN staged directory, from
    * the parquet footers' per-column null counts — zero Spark jobs.
    * Footer counts are per LEAF, so they answer only for group columns
    * that are top-level primitive leaves: a struct key's leaf counts a
    * null FIELD of a non-null struct, which is no null group. Any nested
    * group column, or a file without statistics (never the case for our
    * own staging writes), falls back to the loud count. */
  private def refuseNullGroupsStaged(spark: SparkSession, stagedPath: String,
                                     groupCols: Seq[String],
                                     where: String): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(stagedPath)
    val fs = sp.getFileSystem(conf)
    val wanted = groupCols.map(_.toLowerCase).toSet
    var nNull = 0L
    var loud = false
    fs.listStatus(sp)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val path = c.getPath.toArray
            if (path.headOption.exists(n => wanted(n.toLowerCase))) {
              val st = c.getStatistics
              if (path.length > 1 || st == null || !st.isNumNullsSet) loud = true
              else nNull += st.getNumNulls
            }
          }
        } finally r.close()
      }
    if (loud)
      nNull = spark.read.parquet(stagedPath)
        .filter(groupCols.map(col(_).isNull).reduce(_ || _)).count()
    require(nNull == 0,
      s"materialized view ($where): $nNull group(s) with NULL key values " +
        "— null groups cannot be incrementally merged; coalesce the group " +
        "columns in the source first")
  }

  /** The view's current contents (reconciles its pending merges). */
  def read(spark: SparkSession, mvPath: String): DataFrame =
    AtomicPublish.read(spark, mvPath)

  /** Run `f` with AQE off, restoring the session conf after.
    *
    * CONCURRENCY CONTRACT (documented per ADVICE r16): the toggle is
    * session-global, so refresh assumes no OTHER query runs on the
    * same SparkSession during its (sub-second) collect windows — the
    * maintenance-loop shape every caller in this repo has. Concurrent
    * multi-tenant sessions should refresh through their own session
    * (`spark.newSession`), which shares the data but not the conf. AQE
    * materializes every exchange as its own scheduler job round to
    * re-optimize downstream stages; for the refresh's BOUNDED queries
    * (outputs capped at [[InListMax]] rows, inputs ∝ the
    * change batch by construction) those rounds buy nothing — there is
    * no skew to split and nothing worth coalescing in a ≤1000-row
    * shuffle — while each round costs a job launch, the dominant term
    * of a per-micro-batch refresh. The big-refresh fallback (outputs
    * unbounded) keeps AQE. */
  private def withoutAqe[A](spark: SparkSession)(f: => A): A = {
    // limit.initialNumPartitions: a non-AQE `limit(n).collect()` pays
    // take-SCALING — one job over 1 partition, then 4, 16, … until n
    // rows are in hand; these queries rarely satisfy the cap from one
    // partition, so the scaling rounds are pure job-launch overhead.
    // All-partitions-in-one-job is right when the per-partition output
    // is a handful of group rows.
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.limit.initialNumPartitions" -> Int.MaxValue.toString)
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Advance the view to the source's current version via the change
    * feed + partial recompute. No-op (and zero scans) when the source
    * hasn't committed since the last refresh. */
  def refresh(spark: SparkSession, mvPath: String): RefreshStats = {
    val meta = readMeta(spark, mvPath)
    val toV = AtomicPublish.currentVersion(spark, meta.sourceTable).getOrElse(
      throw new IllegalStateException(
        s"materialized view: source ${meta.sourceTable} lost its version log"))
    if (toV == meta.sourceVersion)
      return RefreshStats(meta.sourceVersion, toV, 0L, 0L, 0L)
    require(toV > meta.sourceVersion,
      s"materialized view at $mvPath consumed version ${meta.sourceVersion} " +
        s"but the source is at $toV — the source was restored/rebuilt " +
        "behind the view; fullRefresh to re-base")
    val gCols = meta.groupCols.map(col)
    // AFFECTED-GROUP DERIVATION from the window's ADDED SEGMENTS
    // (round-16 optimization, guide §1.2/§2.4): the pre-round-16 path
    // materialized the full classified change feed (a reconciled
    // fromVersion key-scan + a per-key lag window + per-segment
    // classification joins — ~7 Spark jobs per refresh) only to derive
    // group sets the raw segments already determine:
    //   post groups  = groups of ALL rows of the new non-delete
    //                  segments (every upsert row is an insert or an
    //                  update landing side; plain appends are inserts);
    //   changed keys = ALL keys of the new upsert/delete segments —
    //                  a SUPERSET of the feed's update/delete keys
    //                  whose extras (pure inserts, re-deletes) probe
    //                  the fromVersion snapshot and match NOTHING, so
    //                  the derived pre-group set is identical.
    // Fold commits contribute no segments (content-preserving);
    // restore/republish windows fall back to changesBetween's
    // documented loud refusal. MaterializedViewSpec pins refreshed ≡
    // recomputed across upserts/deletes/moves/folds.
    val added = AtomicPublish.addedSegmentsBetween(spark, meta.sourceTable,
      meta.sourceVersion, toV).getOrElse {
      AtomicPublish.changesBetween(spark, meta.sourceTable,
        meta.sourceVersion, toV) // throws the documented refusal
      sys.error("unreachable: addedSegmentsBetween refused a window " +
        "changesBetween accepts")
    }
    val side = AtomicPublish.mergeSidecarsFor(spark, meta.sourceTable, added)
    val dataDirs = added.filterNot(d => side.get(d).exists(_._1 == "delete"))
    val mergeDirs = added.filter(side.contains)
    // typed signature, not names (round 17): a same-name type-evolved
    // segment must take the per-segment union below; footers come from
    // the cached segment descriptors
    def scanSegs(dirs: Seq[String]): DataFrame =
      if (AtomicPublish.segmentsUniform(spark, meta.sourceTable, dirs))
        AtomicPublish.committedScan(spark, meta.sourceTable, dirs)
      else dirs.map(d => AtomicPublish.committedScan(spark, meta.sourceTable, Seq(d)))
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    // group columns may live on a DIM side, so post-image rows join the
    // dims (broadcast) before projecting
    // no inner distinct: `affected` below distincts the union once —
    // a distinct per input leg is one extra exchange per refresh each
    val postGroups =
      if (dataDirs.isEmpty) None
      else Some(withDims(spark, scanSegs(dataDirs), meta.joins)
        .select(gCols: _*))
    val keyNotNull = meta.keys.map(col(_).isNotNull).reduce(_ && _)
    val changedKeys =
      if (mergeDirs.isEmpty) None
      else Some(mergeDirs
        .map(d => AtomicPublish.committedScan(spark, meta.sourceTable, Seq(d))
          .select(meta.keys.map(col): _*))
        .reduce(_ unionByName _).filter(keyNotNull).distinct())
    val fromSnapshot = AtomicPublish.readAt(spark, meta.sourceTable,
      meta.sourceVersion)
    // small single-column key sets ship as a literal IN: the probe then
    // prunes at the SEGMENT level through bloom/zonemap sidecars (and
    // at row-group level below), instead of row-scanning the snapshot
    // against a broadcast — the difference between touching the few
    // segments holding the changed keys and the corpus
    val changedKeyRows =
      if (meta.keys.size == 1 && changedKeys.nonEmpty)
        graft.engine.JobLabel(spark, "mv refresh: changed keys") {
          withoutAqe(spark) { changedKeys.get.limit(InListMax + 1).collect() }
        }
      else Array.empty[org.apache.spark.sql.Row]
    val preGroups = withDims(spark,
      if (changedKeys.isEmpty) fromSnapshot.limit(0)
      else if (meta.keys.size == 1 && changedKeyRows.length <= InListMax) {
        if (changedKeyRows.isEmpty) fromSnapshot.limit(0)
        else fromSnapshot.filter(col(meta.keys.head)
          .isin(changedKeyRows.map(_.get(0)).toIndexedSeq: _*))
      } else fromSnapshot.join(broadcast(changedKeys.get), meta.keys,
        "left_semi"),
      meta.joins)
      .select(gCols: _*)
    val affected = postGroups.map(_.unionByName(preGroups))
      .getOrElse(preGroups).distinct()
    // ONE bounded collect replaces the pre-round-16 null-check count +
    // count + collect triple (three actions, each re-running the feed's
    // broadcast builds — at ≤1000 group rows the driver round-trip is
    // the cheap side of a Spark job launch; guide §5: the driver should
    // do almost no data work, but a refresh is JOB-LAUNCH-bound at the
    // margin, ~30 ms/job × 3 jobs per refresh per micro-batch). The
    // limit+1 row, if present, proves the set exceeded the ceiling —
    // the big-refresh fallback below then re-derives it distributed.
    val affectedRows = graft.engine.JobLabel(spark,
      "mv refresh: affected groups") {
      withoutAqe(spark) { affected.limit(InListMax + 1).collect() }
    }
    if (affectedRows.isEmpty)
      { writeMeta(spark, mvPath, meta.copy(sourceVersion = toV))
        return RefreshStats(meta.sourceVersion, toV, 0L, 0L, 0L) }
    if (affectedRows.length <= InListMax) {
      // the COMPLETE affected-group set is in hand: null-check it
      // driver-side, slice the source by literal IN (single group col —
      // pushes to the scan, zonemaps/row-groups prune) or a broadcast
      // local-relation semi-join, and resolve vanished groups by set
      // difference against the recomputed groups — no left_anti job
      require(!affectedRows.exists(r => (0 until r.length).exists(r.isNullAt)),
        s"materialized view (refresh): group(s) with NULL key values — " +
          "null groups cannot be incrementally merged; coalesce the group " +
          "columns in the source first")
      val nAffected = affectedRows.length.toLong
      val source = withDims(spark,
        AtomicPublish.readAt(spark, meta.sourceTable, toV), meta.joins)
      val affectedLocal = spark.createDataFrame(
        java.util.Arrays.asList(affectedRows: _*),
        org.apache.spark.sql.types.StructType(
          meta.groupCols.map(c => affected.schema(c))))
      val sourceSlice =
        if (meta.groupCols.size == 1) {
          val vals = affectedRows.map(_.get(0))
          source.filter(col(meta.groupCols.head).isin(vals.toIndexedSeq: _*))
        } else source.join(broadcast(affectedLocal), meta.groupCols, "left_semi")
      val recomputed = computeGroups(sourceSlice, meta.groupCols, meta.aggs)
      // ONE action executes the recompute: the result is ≤ nAffected ≤
      // InListMax group rows (key + a few aggregates) — the same
      // conf-capped bound that admitted the IN-list. The merge then
      // upserts a LOCAL relation, so the commit's staging write neither
      // re-scans the source nor re-builds its broadcasts.
      val recRows = graft.engine.JobLabel(spark, "mv refresh: recompute") {
        withoutAqe(spark) { recomputed.collect() }
      }
      val recSet = recRows.map(r => meta.groupCols
        .map(c => r.get(r.fieldIndex(c))).toVector).toSet
      val vanishedRows = affectedRows.filterNot(r =>
        recSet.contains(meta.groupCols.indices.map(r.get).toVector))
      if (vanishedRows.nonEmpty)
        MergeInto.deleteFrom(spark, mvPath, spark.createDataFrame(
          java.util.Arrays.asList(vanishedRows: _*), affectedLocal.schema),
          meta.groupCols)
      if (recRows.nonEmpty)
        MergeInto.upsertInto(spark, mvPath, spark.createDataFrame(
          java.util.Arrays.asList(recRows: _*), recomputed.schema),
          meta.groupCols)
      // record LAST: crash anywhere above re-runs this refresh, and
      // recompute-and-replace converges
      writeMeta(spark, mvPath, meta.copy(sourceVersion = toV))
      RefreshStats(meta.sourceVersion, toV, nAffected,
        recRows.length.toLong, vanishedRows.length.toLong)
    } else {
      // BIG-REFRESH fallback (> InListMax affected groups): the
      // pre-round-16 distributed path — counts and joins over a cached
      // affected set; the extra jobs are noise once the recompute
      // itself is group-set-sized
      val affectedBig = affected.cache()
      try {
        refuseNullGroups(affectedBig, meta.groupCols, "refresh")
        val nAffected = affectedBig.count()
        val source = withDims(spark,
          AtomicPublish.readAt(spark, meta.sourceTable, toV), meta.joins)
        val sourceSlice =
          source.join(broadcast(affectedBig), meta.groupCols, "left_semi")
        val recomputed = computeGroups(sourceSlice, meta.groupCols, meta.aggs)
          .cache()
        try {
          val nRows = recomputed.count()
          // groups that vanished entirely (every source row deleted)
          val vanished = affectedBig
            .join(recomputed, meta.groupCols, "left_anti").cache()
          val nVanished =
            try {
              val n = vanished.count()
              if (n > 0)
                MergeInto.deleteFrom(spark, mvPath, vanished, meta.groupCols)
              n
            } finally { vanished.unpersist(); () }
          if (nRows > 0)
            MergeInto.upsertInto(spark, mvPath, recomputed, meta.groupCols)
          writeMeta(spark, mvPath, meta.copy(sourceVersion = toV))
          RefreshStats(meta.sourceVersion, toV, nAffected, nRows, nVanished)
        } finally { recomputed.unpersist(); () }
      } finally { affectedBig.unpersist(); () }
    }
  }

  /** Re-base the view with a full recompute — the recovery path when
    * the source compacted/restored across the un-refreshed window and
    * the change feed (correctly) refuses to diff it. */
  def fullRefresh(spark: SparkSession, mvPath: String): RefreshStats = {
    val meta = readMeta(spark, mvPath)
    val toV = AtomicPublish.currentVersion(spark, meta.sourceTable).getOrElse(
      throw new IllegalStateException(
        s"materialized view: source ${meta.sourceTable} lost its version log"))
    val snapshot = computeGroups(
      withDims(spark, AtomicPublish.readAt(spark, meta.sourceTable, toV),
        meta.joins),
      meta.groupCols, meta.aggs)
    AtomicPublish.publish(spark, mvPath)(p => snapshot.write.parquet(p))
    val n = read(spark, mvPath).count()
    writeMeta(spark, mvPath, meta.copy(sourceVersion = toV))
    RefreshStats(meta.sourceVersion, toV, n, n, 0L)
  }

  private def computeGroups(df: DataFrame, groupCols: Seq[String],
                            aggs: Seq[AggSpec]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(expr(aggs.head.expr).as(aggs.head.name),
        aggs.tail.map(a => expr(a.expr).as(a.name)): _*)

  // ---------------------------------------------------------------
  // Metadata sidecar (tab-separated, written under the MV table lock)
  // ---------------------------------------------------------------

  private def writeMeta(spark: SparkSession, mvPath: String,
                        meta: MvMeta): Unit =
    AtomicPublish.withTableLock(spark, mvPath) { (fs, root) =>
      val lines = Seq(
        s"source\t${meta.sourceTable}",
        s"keys\t${meta.keys.mkString(",")}",
        s"groups\t${meta.groupCols.mkString(",")}",
        s"version\t${meta.sourceVersion}") ++
        meta.aggs.map(a => s"agg\t${a.name}\t${a.expr}") ++
        meta.joins.map(j => s"join\t${j.dimPath}\t${j.keys.mkString(",")}")
      val out = fs.create(new org.apache.hadoop.fs.Path(root, MetaFile), true)
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }

  def readMeta(spark: SparkSession, mvPath: String): MvMeta = {
    val root = new org.apache.hadoop.fs.Path(mvPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root, MetaFile)
    if (!fs.exists(p)) throw new IllegalStateException(
      s"no materialized-view metadata at $mvPath — create() it first")
    val in = fs.open(p)
    val text =
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8")
      } finally in.close()
    var source = ""; var keys = Seq.empty[String]
    var groups = Seq.empty[String]; var version = -1L
    val aggs = scala.collection.mutable.ArrayBuffer.empty[AggSpec]
    val joins = scala.collection.mutable.ArrayBuffer.empty[JoinSpec]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1).toSeq match {
        case Seq("source", s) => source = s
        case Seq("keys", k) => keys = k.split(",").toSeq
        case Seq("groups", g) => groups = g.split(",").toSeq
        case Seq("version", v) => version = v.toLong
        case Seq("agg", n, e) => aggs += AggSpec(n, e)
        case Seq("join", p, k) => joins += JoinSpec(p, k.split(",").toSeq)
        case _ => throw new IllegalStateException(
          s"torn MV metadata at $mvPath: `$line`")
      }
    }
    require(source.nonEmpty && keys.nonEmpty && groups.nonEmpty &&
      version >= 0 && aggs.nonEmpty,
      s"incomplete MV metadata at $mvPath")
    MvMeta(source, keys, groups, aggs.toSeq, version, joins.toSeq)
  }
}
