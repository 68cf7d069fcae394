package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._

import scala.util.control.NonFatal

/** Per-SEGMENT zonemaps for [[AtomicPublish]] tables: at commit time
  * each `data-*` segment gets a sidecar recording every supported
  * top-level column's min/max (plus null evidence), harvested from the
  * PARQUET FOOTERS the write already produced — no second scan of the
  * data. The graft DSv2 source consults them to drop whole segments
  * whose range cannot satisfy the query's pushed data filters BEFORE
  * any of their files reach the scan (see
  * [[graft.sources.GraftTableSource]]) — the manifest-level analogue
  * of parquet's own row-group skipping, one level higher: a 10k-segment
  * daily-append table with a date predicate schedules tasks for the
  * handful of segments the range admits, not the corpus.
  *
  * Pruning here is CONSERVATIVE by construction: a segment is dropped
  * only when its recorded bounds PROVE no row can match. Columns whose
  * chunk statistics are missing or of unsupported physical types are
  * simply absent from the map (never pruned on); unrecognized
  * predicate shapes keep the segment. Parquet writers that truncate
  * binary statistics do so bound-preservingly (min truncated down, max
  * padded up), so truncated stats stay valid prune evidence.
  */
object ZoneMaps {

  /** Sidecar name prefix at the table root: `_graft_zone_<dataDir>`.
    * `_`-prefixed so parquet readers and source stamping ignore it. */
  val ZonePrefix = "_graft_zone_"

  /** One column's zone: `tag` is the comparison domain ("long",
    * "double", "date" = epoch days, "ts" = epoch micros, "string");
    * bounds are None only when every value in the segment is NULL
    * (then any comparison predicate prunes — no non-null row exists).
    * `hasNulls` powers IS NULL pruning. */
  final case class ColZone(tag: String, min: Option[String],
                           max: Option[String], hasNulls: Boolean) {
    def numMin: BigDecimal = BigDecimal(min.get)
    def numMax: BigDecimal = BigDecimal(max.get)
  }

  // ---------------------------------------------------------------
  // Harvesting (commit side)
  // ---------------------------------------------------------------

  /** Per-file footer harvest, shaped for executor shipping: one tuple
    * per (column, chunk-aggregate) —
    * (colName, tag, minOrNull, maxOrNull, hasNulls, trusted).
    * `trusted=false` marks a column whose stats any chunk failed to
    * record; the fold drops such columns entirely. Runs with a fresh
    * Configuration so it works from executors without shipping the
    * driver's (fs defaults come from the classpath core-site, which is
    * how Spark's own parquet footer reads resolve too). */
  private[graft] def harvestFile(path: String)
      : Seq[(String, String, String, String, Boolean, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map
        .empty[String, (String, Option[(String, String)], Boolean, Boolean)]
      // seed every supported column from the SCHEMA with empty bounds:
      // a zero-row file (an empty slice published as a segment) then
      // still yields a zonemap whose bound-less columns PRUNE under any
      // comparison — no rows can match anything
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.foreach { f =>
        if (f.isPrimitive)
          tagOf(f.asPrimitiveType()).foreach { tag =>
            acc(f.getName) = (tag, None, false, true)
          }
      }
      reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { chunk =>
          if (chunk.getPath.size == 1) {
            val name = chunk.getPath.toDotString
            tagOf(chunk.getPrimitiveType).foreach { tag =>
              val stats = chunk.getStatistics
              val rows = block.getRowCount
              val prev = acc.getOrElse(name,
                (tag, None: Option[(String, String)], false, true))
              val next =
                if (stats == null || (rows > 0 && stats.isEmpty))
                  // no usable stats for a chunk that has rows: the
                  // column's bounds can't be trusted for this segment
                  (tag, prev._2, prev._3, false)
                else {
                  val hasNulls = prev._3 || stats.getNumNulls > 0 ||
                    (rows > 0 && !stats.hasNonNullValue)
                  if (!stats.hasNonNullValue) (tag, prev._2, hasNulls, prev._4)
                  else {
                    val mn = statValue(tag, stats.genericGetMin)
                    val mx = statValue(tag, stats.genericGetMax)
                    (mn, mx) match {
                      case (Some(a), Some(b)) =>
                        val merged = prev._2 match {
                          case None => Some((a, b))
                          case Some((pa, pb)) =>
                            Some((boundMin(tag, pa, a), boundMax(tag, pb, b)))
                        }
                        (tag, merged, hasNulls, prev._4)
                      case _ => (tag, prev._2, hasNulls, false) // e.g. NaN
                    }
                  }
                }
              acc(name) = next
            }
          }
        }
      }
      acc.toSeq.map { case (n, (tag, mm, hasNulls, trusted)) =>
        (n, tag, mm.map(_._1).orNull, mm.map(_._2).orNull, hasNulls, trusted)
      }
    } finally reader.close()
  }

  /** Comparison-domain tag for a parquet primitive type, or None for
    * types zonemaps don't prune on (booleans, decimals, nested/repeated
    * — conservative absence, never wrong pruning). */
  private def tagOf(pt: org.apache.parquet.schema.PrimitiveType): Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val lt = pt.getLogicalTypeAnnotation
    if (pt.getRepetition == org.apache.parquet.schema.Type.Repetition.REPEATED) None
    else pt.getPrimitiveTypeName match {
      case INT32 => lt match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
        case _ => Some("long")
      }
      case INT64 => lt match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => Some("ts")
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => None
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
        case _ => Some("long")
      }
      case FLOAT | DOUBLE => Some("double")
      case BINARY => lt match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("string")
        case _ => None
      }
      case _ => None
    }
  }

  /** Render one stat value into the tag's domain; None rejects the
    * column (NaN bounds make double ranges meaningless). */
  private def statValue(tag: String, v: Any): Option[String] = (tag, v) match {
    case (_, null) => None
    case ("double", d: java.lang.Double) =>
      if (d.isNaN) None else Some(d.toString)
    case ("double", f: java.lang.Float) =>
      if (f.isNaN) None else Some(f.doubleValue().toString)
    case ("string", b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case (_, n: java.lang.Number) => Some(n.longValue().toString)
    case _ => None
  }

  private def boundMin(tag: String, a: String, b: String): String =
    if (tag == "string") { if (a <= b) a else b }
    else if (BigDecimal(a) <= BigDecimal(b)) a else b

  private def boundMax(tag: String, a: String, b: String): String =
    if (tag == "string") { if (a >= b) a else b }
    else if (BigDecimal(a) >= BigDecimal(b)) a else b

  /** Harvest a whole segment directory (its `*.parquet` leaves) into a
    * zonemap: every supported top-level primitive column. Footer reads are
    * metadata-only; past a small file count they run ON EXECUTORS
    * (sc.parallelize over paths), so a 100k-file publish harvests at
    * cluster width — the driver only folds per-file summaries. Returns
    * empty when nothing is mappable. */
  def harvestSegment(spark: SparkSession, segDir: String): Map[String, ColZone] = {
    val p = new org.apache.hadoop.fs.Path(segDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => fs.makeQualified(f.getPath).toString)
    if (files.isEmpty) return Map.empty
    val perFile: Seq[Seq[(String, String, String, String, Boolean, Boolean)]] =
      if (files.length <= 64) files.toSeq.map(harvestFile)
      else spark.sparkContext
        .parallelize(files.toSeq, math.min(files.length, 256))
        .map(harvestFile).collect().toSeq
    val folded = scala.collection.mutable
      .Map.empty[String, (String, Option[(String, String)], Boolean, Boolean)]
    perFile.flatten.foreach { case (n, tag, mn, mx, hasNulls, trusted) =>
      val prev = folded.getOrElse(n, (tag, None, false, true))
      val ok = trusted && prev._4 && prev._1 == tag
      val merged = (prev._2, Option(mn).map(m => (m, mx))) match {
        case (None, b) => b
        case (a, None) => a
        case (Some((pa, pb)), Some((a, b))) =>
          Some((boundMin(tag, pa, a), boundMax(tag, pb, b)))
      }
      folded(n) = (tag, merged, prev._3 || hasNulls, ok)
    }
    folded.iterator.collect {
      case (n, (tag, mm, hasNulls, true)) =>
        n.toLowerCase -> ColZone(tag, mm.map(_._1), mm.map(_._2), hasNulls)
    }.toMap
  }

  // ---------------------------------------------------------------
  // Sidecar IO
  // ---------------------------------------------------------------

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.ZoneMaps")

  def write(fs: org.apache.hadoop.fs.FileSystem,
            root: org.apache.hadoop.fs.Path, dataDir: String,
            zones: Map[String, ColZone]): Unit = {
    if (zones.isEmpty) return
    val node = jackson.createObjectNode()
    zones.foreach { case (col, z) =>
      val c = node.putObject(col)
      c.put("t", z.tag)
      z.min.foreach(c.put("min", _))
      z.max.foreach(c.put("max", _))
      c.put("hasNulls", z.hasNulls)
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(root, ZonePrefix + dataDir), true)
    try out.write(jackson.writeValueAsBytes(node)) finally out.close()
  }

  /** Read a segment's zonemap sidecar; empty when absent, and empty with
    * one warning naming the file when it cannot be read or parsed
    * (absence of evidence is never pruning evidence). */
  def read(fs: org.apache.hadoop.fs.FileSystem,
           root: org.apache.hadoop.fs.Path, dataDir: String): Map[String, ColZone] = {
    val p = new org.apache.hadoop.fs.Path(root, ZonePrefix + dataDir)
    try {
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
        node.properties().asScala.map { e =>
          val v = e.getValue
          e.getKey -> ColZone(v.get("t").asText(),
            Option(v.get("min")).map(_.asText()),
            Option(v.get("max")).map(_.asText()),
            Option(v.get("hasNulls")).exists(_.asBoolean()))
        }.toMap
      }
    } catch { case NonFatal(e) =>
      log.warn(s"unreadable zone map sidecar $p: the segment is not pruned", e)
      Map.empty
    }
  }

  // ---------------------------------------------------------------
  // Pruning (scan side)
  // ---------------------------------------------------------------

  /** Can any row of a segment with zonemap `zones` satisfy EVERY
    * filter in `dataFilters`? Filters arrive conjunctive from Spark's
    * scan planning. Unknown shapes and unmapped columns answer true
    * (keep). */
  def mightMatch(zones: Map[String, ColZone],
                 dataFilters: Seq[Expression]): Boolean =
    zones.isEmpty || dataFilters.forall(f => evalOne(zones, f))

  private def zoneFor(zones: Map[String, ColZone], a: Attribute): Option[ColZone] =
    zones.get(a.name.toLowerCase)

  /** Literal → the zone tag's comparison domain. None = incomparable
    * (type family mismatch, e.g. a cast the optimizer left in play) —
    * the caller keeps the segment. */
  private def litValue(tag: String, l: Literal): Option[Any] = {
    import org.apache.spark.sql.types._
    if (l.value == null) return None
    (tag, l.dataType) match {
      case ("string", StringType) => Some(l.value.toString)
      case ("long", ByteType | ShortType | IntegerType | LongType) =>
        Some(BigDecimal(l.value.toString))
      case ("double", ByteType | ShortType | IntegerType | LongType) =>
        Some(BigDecimal(l.value.toString))
      case ("double", FloatType | DoubleType) =>
        val d = l.value.toString.toDouble
        if (d.isNaN) None else Some(BigDecimal(d))
      case ("long" | "date" | "ts", _: DecimalType) =>
        Some(BigDecimal(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal))
      case ("double", _: DecimalType) =>
        Some(BigDecimal(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal))
      case ("date", DateType) => Some(BigDecimal(l.value.toString))
      // both timestamp flavors carry epoch micros as Long — the same
      // domain the INT64 MICROS footer stats live in
      case ("ts", TimestampType | TimestampNTZType) =>
        Some(BigDecimal(l.value.toString))
      case _ => None
    }
  }

  private def cmp(tag: String, zoneBound: String, v: Any): Int =
    if (tag == "string") zoneBound.compareTo(v.asInstanceOf[String])
    else BigDecimal(zoneBound).compare(v.asInstanceOf[BigDecimal])

  // each answers: could some NON-NULL value in [min,max] satisfy the op?
  private def someEq(z: ColZone, v: Any): Boolean =
    z.min.isDefined && cmp(z.tag, z.min.get, v) <= 0 && cmp(z.tag, z.max.get, v) >= 0
  private def someGt(z: ColZone, v: Any): Boolean =
    z.max.isDefined && cmp(z.tag, z.max.get, v) > 0
  private def someGe(z: ColZone, v: Any): Boolean =
    z.max.isDefined && cmp(z.tag, z.max.get, v) >= 0
  private def someLt(z: ColZone, v: Any): Boolean =
    z.min.isDefined && cmp(z.tag, z.min.get, v) < 0
  private def someLe(z: ColZone, v: Any): Boolean =
    z.min.isDefined && cmp(z.tag, z.min.get, v) <= 0

  private def evalOne(zones: Map[String, ColZone], e: Expression): Boolean = {
    def withZone(a: Attribute, l: Literal)(f: (ColZone, Any) => Boolean): Boolean =
      zoneFor(zones, a) match {
        case Some(z) => litValue(z.tag, l) match {
          case Some(v) => f(z, v)
          case None => true
        }
        case None => true
      }
    e match {
      case And(l, r) => evalOne(zones, l) && evalOne(zones, r)
      case Or(l, r) => evalOne(zones, l) || evalOne(zones, r)
      case EqualTo(a: Attribute, l: Literal) => withZone(a, l)(someEq)
      case EqualTo(l: Literal, a: Attribute) => withZone(a, l)(someEq)
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
        withZone(a, l)(someEq)
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
        withZone(a, l)(someEq)
      case GreaterThan(a: Attribute, l: Literal) => withZone(a, l)(someGt)
      case GreaterThan(l: Literal, a: Attribute) => withZone(a, l)(someLt)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => withZone(a, l)(someGe)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => withZone(a, l)(someLe)
      case LessThan(a: Attribute, l: Literal) => withZone(a, l)(someLt)
      case LessThan(l: Literal, a: Attribute) => withZone(a, l)(someGt)
      case LessThanOrEqual(a: Attribute, l: Literal) => withZone(a, l)(someLe)
      case LessThanOrEqual(l: Literal, a: Attribute) => withZone(a, l)(someGe)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => evalOne(zones, EqualTo(a, v.asInstanceOf[Literal])))
      case InSet(a: Attribute, hset) =>
        zoneFor(zones, a) match {
          // InSet carries INTERNAL catalyst values — build the Literal
          // with the raw constructor (Literal.create would re-convert)
          case Some(z) => hset.exists { raw =>
            litValue(z.tag, Literal(raw, a.dataType))
              .forall(v => someEq(z, v))
          }
          case None => true
        }
      case IsNull(a: Attribute) =>
        zoneFor(zones, a).forall(_.hasNulls)
      case IsNotNull(a: Attribute) =>
        zoneFor(zones, a).forall(_.min.isDefined)
      case _ => true
    }
  }
}
