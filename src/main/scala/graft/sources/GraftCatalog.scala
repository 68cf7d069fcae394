package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.AtomicPublish

/** NAME-RESOLVED catalog over [[graft.ops.AtomicPublish]] tables — the
  * `TableCatalog` plugin that upgrades the path-only SQL surface
  * (`USING graft OPTIONS (path …)`) to the multi-table lakehouse
  * surface a SQL user reaches for first:
  *
  * {{{
  *   spark.sql.catalog.graft_cat = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft_cat.warehouse = /data/graft
  *
  *   CREATE NAMESPACE graft_cat.db
  *   CREATE TABLE graft_cat.db.t (k BIGINT, v STRING)
  *   SELECT * FROM graft_cat.db.t
  *   SELECT * FROM graft_cat.db.t VERSION AS OF 3
  *   SELECT * FROM graft_cat.db.t TIMESTAMP AS OF '2026-08-16 12:00:00'
  *   SHOW TABLES IN graft_cat.db
  * }}}
  *
  * Layout is convention, not a metastore: namespace `db` is the
  * directory `warehouse/db`, table `t` is the published table at
  * `warehouse/db/t` (a directory whose MANIFEST the commit protocol
  * maintains). That keeps the catalog STATELESS — every Spark session
  * pointing at the warehouse sees the same tables with zero
  * synchronization beyond the table protocol's own, exactly like
  * path-addressed Delta tables under a shared object-store prefix.
  * Single-level namespaces only (`db.t`, not `a.b.t`) — one level is
  * what the flat warehouse layout can make atomic and listable.
  *
  * READS delegate to the existing `graft` DSv2 ([[GraftTableSource]]):
  * name → path resolution here, then the same manifest-resolved,
  * zonemap/bloom-pruning, write-door-welded table — `SELECT` through
  * the catalog and through `OPTIONS (path …)` are the SAME plan.
  * Time travel binds the SQL-standard `VERSION AS OF` /
  * `TIMESTAMP AS OF` clauses to the version log (the catalog door
  * Spark routes them through; the path door spells them
  * `OPTIONS (versionAsOf …)`).
  *
  * WRITES route THROUGH the protocol (round 16): `CREATE TABLE`
  * publishes an EMPTY version-1 segment with the declared schema (a
  * real commit — immediately readable, appendable, MERGEable), and the
  * returned [[GraftManagedTable]] serves the full SQL write surface as
  * protocol commits — `INSERT INTO` = [[AtomicPublish.appendSegment]],
  * `INSERT OVERWRITE` = [[AtomicPublish.publish]] (a new version; the
  * old stays time-travel-readable), CTAS = create + append,
  * `writeTo(t).overwrite(cond)` = [[graft.ops.MergeInto.replaceWhere]],
  * and UPDATE/DELETE/MERGE INTO via the
  * [[graft.plans.GraftDmlRule]] extension rule. The PATH door
  * (`USING graft OPTIONS (path …)`) keeps refusing writes: a bare path
  * is an address, not ownership. `TBLPROPERTIES('merge.keys'='k')`
  * declares the table's merge identity at CREATE (persisted in a
  * `_graft_props.json` sidecar) and routes SQL DML through
  * merge-on-read. DROP deletes the table directory (metadata AND
  * data — the catalog owns the warehouse layout); RENAME is a
  * directory move, refused across namespaces.
  */
object GraftCatalog {
  /** TBLPROPERTY naming the table's merge-key columns
    * (comma-separated) — the merge identity the SQL DML rule routes
    * UPDATE/DELETE/MERGE through. */
  val MergeKeysProp = "merge.keys"

  /** Spark-managed property noise we never persist. */
  private val ReservedProps: Set[String] =
    Set("owner", "provider", "location", "external", "comment",
      "option.path", "path")

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.GraftCatalog")

  private def propsPath(tableRoot: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableRoot, "_graft_props.json")

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `_graft_props.json` sidecar — declared TBLPROPERTIES
    * (last-writer-wins metadata; the data protocol never reads it
    * except through [[MergeKeysProp]] at DML routing time). Shared
    * with `DESCRIBE DETAIL` (graft.plans.GraftDescribeDetailCommand),
    * which reports properties for ANY table root. */
  private[graft] def writeProps(spark: SparkSession, tableRoot: String,
                                props: Map[String, String]): Unit = {
    val p = propsPath(tableRoot)
    val fs = fsOf(spark, p)
    if (props.isEmpty) {
      if (fs.exists(p)) fs.delete(p, false)
      return
    }
    val node = jackson.createObjectNode()
    props.foreach { case (k, v) => node.put(k, v) }
    val out = fs.create(p, true)
    try out.write(jackson.writeValueAsBytes(node)) finally out.close()
  }

  /** A table's properties file; empty when absent, and empty with one
    * warning naming the file when it cannot be read or parsed. */
  private[graft] def readProps(spark: SparkSession,
                               tableRoot: String): Map[String, String] = {
    val p = propsPath(tableRoot)
    try {
      val fs = fsOf(spark, p)
      if (!fs.exists(p)) Map.empty
      else {
        val in = fs.open(p)
        val bytes =
          try {
            val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
            in.readFully(b); b
          } finally in.close()
        val node = jackson.readTree(bytes)
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e =>
          e.getKey -> e.getValue.asText()).toMap
      }
    } catch { case NonFatal(e) =>
      log.warn(s"unreadable table properties file $p: reading no properties", e)
      Map.empty
    }
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog `$name` needs a warehouse root: set " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs(path: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One path component of a name — refuses separators and traversal
    * so a crafted identifier can never escape the warehouse. */
  private def component(part: String, what: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != "..",
      s"graft catalog: invalid $what `$part` — names are single path " +
        "components (no separators, no traversal)")
    part
  }

  private def nsPath(ns: Array[String]): org.apache.hadoop.fs.Path = {
    require(ns.length == 1,
      s"graft catalog: single-level namespaces only, got " +
        s"`${ns.mkString(".")}`")
    new org.apache.hadoop.fs.Path(warehouse, component(ns(0), "namespace"))
  }

  private def tablePath(ident: Identifier): String =
    new org.apache.hadoop.fs.Path(nsPath(ident.namespace()),
      component(ident.name(), "table name")).toString

  private def isPublished(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "MANIFEST")
    fs(p).exists(p)
  }

  /** Name → warehouse path for the SQL utility surface (VACUUM /
    * OPTIMIZE / RESTORE / DESCRIBE HISTORY / `table_changes(...)` —
    * [[graft.plans.GraftSqlParser]]): those statements address the
    * table protocol directly, not a Scan/Write, so they resolve the
    * identifier themselves. Loud if unpublished — a maintenance verb
    * against a typo'd name must never touch the filesystem. */
  private[graft] def resolveTablePath(ident: Identifier): String = {
    val path = tablePath(ident)
    if (!isPublished(path)) throw new NoSuchTableException(ident)
    path
  }

  // ----------------------------------------------------------------
  // Tables
  // ----------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs(dir).exists(dir)) throw new NoSuchNamespaceException(
      name() +: namespace.toSeq)
    fs(dir).listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => isPublished(
        new org.apache.hadoop.fs.Path(dir, t).toString))
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    try isPublished(tablePath(ident))
    catch { case _: IllegalArgumentException => false }

  /** Reads resolve through the `graft` DSv2 — same manifest binding
    * and segment pruning as the path door — but the catalog returns
    * the MANAGED table ([[GraftManagedTable]]): its write door lands
    * real protocol commits (INSERT→append, OVERWRITE→publish,
    * overwrite-by-filter→replaceWhere) instead of refusing, because a
    * warehouse-resolved name is a layout the catalog owns. The
    * path door stays welded. */
  private def load(ident: Identifier,
                   extraOptions: Map[String, String]): Table = {
    val path = tablePath(ident)
    if (!isPublished(path))
      throw new NoSuchTableException(ident)
    val props = readProps(path)
    val keys = props.get(GraftCatalog.MergeKeysProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val source = new GraftTableSource
    source.getManagedTable(new CaseInsensitiveStringMap(
      (extraOptions + ("path" -> path)).asJava), path, keys, props)
  }

  // ----------------------------------------------------------------
  // Table properties — one JSON sidecar at the table root, written at
  // CREATE (the catalog's declaration time). `merge.keys` is the one
  // the engine consumes: it tells the SQL DML rule which columns are
  // the table's merge identity, routing UPDATE/DELETE/MERGE through
  // merge-on-read (write ∝ batch) instead of copy-on-write rewrites.
  // ----------------------------------------------------------------

  private def writeProps(tableRoot: String,
                         props: Map[String, String]): Unit =
    GraftCatalog.writeProps(spark, tableRoot, props)

  private def readProps(tableRoot: String): Map[String, String] =
    GraftCatalog.readProps(spark, tableRoot)

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** `VERSION AS OF n` — the SQL-standard time-travel clause, resolved
    * through the version log exactly like `OPTIONS (versionAsOf …)`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map("versionAsOf" -> version))

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("timestampAsOf" -> (timestamp / 1000L).toString))

  /** CREATE TABLE: one real protocol commit of an EMPTY segment with
    * the declared schema — version 1 of a table every protocol door
    * (appendSegment, upsertInto, time travel, CDF) can use at once. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog: partition transforms are not supported — the " +
        "protocol's layout unit is the commit segment (cluster with " +
        "AtomicPublish.optimizeTable instead)")
    val path = tablePath(ident)
    val ns = nsPath(ident.namespace())
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(
      name() +: ident.namespace().toSeq)
    if (isPublished(path))
      throw new TableAlreadyExistsException(ident)
    // TBLPROPERTIES: persisted verbatim (minus Spark's own reserved
    // entries); `merge.keys` is validated against the declared schema —
    // a typo'd key column would otherwise surface only at first MERGE
    val declared = properties.asScala.toMap
      .filterNot { case (k, _) => GraftCatalog.ReservedProps(k) }
    declared.get(GraftCatalog.MergeKeysProp).foreach { raw =>
      val ks = raw.split(",").map(_.trim).filter(_.nonEmpty)
      require(ks.nonEmpty, s"graft catalog: empty ${GraftCatalog.MergeKeysProp}")
      val missing = ks.filterNot(k =>
        schema.fieldNames.exists(_.equalsIgnoreCase(k)))
      require(missing.isEmpty,
        s"graft catalog: ${GraftCatalog.MergeKeysProp} names column(s) " +
          s"${missing.mkString(", ")} absent from the declared schema")
    }
    AtomicPublish.publish(spark, path) { p =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.parquet(p)
    }
    writeProps(path, declared)
    loadTable(ident)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` — the one ALTER the
    * catalog serves. Properties live in the `_graft_props.json`
    * sidecar (last-writer-wins metadata, like a config file — the
    * table's DATA protocol is untouched). The merge identity is
    * special: `merge.keys` may be DECLARED late (validated against the
    * current schema, exactly as at CREATE) but never CHANGED or
    * DROPPED — committed merge segments were claimed under it, and
    * reinterpreting them under different keys would corrupt every
    * reconciled read. Schema ALTERs still refuse: evolution is
    * admitted at write time ([[graft.engine.GraftConf.AllowSchemaEvolution]]) and recorded
    * by the segments themselves. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isPublished(path)) throw new NoSuchTableException(ident)
    val current = readProps(path)
    val updated = changes.foldLeft(current) {
      case (props, set: TableChange.SetProperty) =>
        val k = set.property()
        require(!GraftCatalog.ReservedProps(k),
          s"graft catalog: TBLPROPERTY `$k` is reserved")
        if (k == GraftCatalog.MergeKeysProp) {
          props.get(k).foreach(old => require(old == set.value(),
            s"graft catalog: ${GraftCatalog.MergeKeysProp} is the table's " +
              s"row identity (currently `$old`) — committed merge segments " +
              "were claimed under it and it cannot be changed; create a " +
              "new table and MERGE the data across"))
          val ks = set.value().split(",").map(_.trim).filter(_.nonEmpty)
          require(ks.nonEmpty,
            s"graft catalog: empty ${GraftCatalog.MergeKeysProp}")
          val schema = AtomicPublish.read(spark, path).schema
          val missing = ks.filterNot(c =>
            schema.fieldNames.exists(_.equalsIgnoreCase(c)))
          require(missing.isEmpty,
            s"graft catalog: ${GraftCatalog.MergeKeysProp} names column(s) " +
              s"${missing.mkString(", ")} absent from the table schema")
        }
        props + (k -> set.value())
      case (props, rm: TableChange.RemoveProperty) =>
        require(rm.property() != GraftCatalog.MergeKeysProp ||
          !props.contains(GraftCatalog.MergeKeysProp),
          s"graft catalog: ${GraftCatalog.MergeKeysProp} is the table's " +
            "row identity and cannot be dropped")
        props - rm.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE ${other.getClass.getSimpleName} is " +
          "not supported — schema evolution is admitted at write time " +
          s"(${graft.engine.GraftConf.AllowSchemaEvolution.key}) and recorded by the segments " +
          "themselves")
    }
    writeProps(path, updated)
    loadTable(ident)
  }

  /** DROP TABLE deletes the table directory — manifest, version log,
    * retained segments, sidecars. The catalog owns the warehouse
    * layout, so this is the one destructive door it provides. */
  override def dropTable(ident: Identifier): Boolean = {
    val path = new org.apache.hadoop.fs.Path(tablePath(ident))
    val f = fs(path)
    if (!isPublished(path.toString)) false
    else f.delete(path, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().sameElements(newIdent.namespace()),
      "graft catalog: RENAME across namespaces is not supported (a " +
        "cross-directory move is not atomic on every filesystem)")
    val from = new org.apache.hadoop.fs.Path(tablePath(oldIdent))
    val to = new org.apache.hadoop.fs.Path(tablePath(newIdent))
    val f = fs(from)
    if (!isPublished(from.toString))
      throw new NoSuchTableException(oldIdent)
    if (isPublished(to.toString))
      throw new TableAlreadyExistsException(newIdent)
    require(f.rename(from, to),
      s"graft catalog: rename $from -> $to failed")
  }

  // ----------------------------------------------------------------
  // Namespaces
  // ----------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new org.apache.hadoop.fs.Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory)
      .map(d => Array(d.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level: no children
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    try { val p = nsPath(namespace); fs(p).exists(p) }
    catch { case _: IllegalArgumentException => false }

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    Map(SupportsNamespaces.PROP_LOCATION ->
      nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val p = nsPath(namespace)
    if (fs(p).exists(p))
      throw new NamespaceAlreadyExistsException(name() +: namespace)
    require(fs(p).mkdirs(p),
      s"graft catalog: could not create namespace directory $p")
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported — namespaces are " +
        "bare warehouse directories")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      if (!cascade && f.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"graft catalog: namespace ${namespace.mkString(".")} is not " +
            "empty — DROP … CASCADE to delete its tables")
      f.delete(p, true)
    }
  }
}
