package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-SEGMENT bloom filters for [[AtomicPublish]] tables — the
  * POINT-LOOKUP complement to [[ZoneMaps]]. Zonemaps prune on RANGES:
  * a date predicate over daily-appended segments drops every
  * non-matching day because the segments' min/max don't overlap it.
  * But an EQUALITY probe on a high-cardinality key (`doc_id = X`,
  * `user_id IN (…)`) prunes NOTHING through zonemaps when every
  * segment spans the full key range — the common layout when appends
  * are hash- or arrival-ordered rather than key-ordered. A per-segment
  * bloom answers exactly that question: "can this segment contain this
  * key?" with a bounded false-positive rate, so an id lookup over a
  * 10k-segment table schedules tasks for the handful of segments whose
  * filter fires, not the corpus. The Iceberg/Delta puffin-stats shape.
  *
  * OPT-IN by column ([[graft.engine.GraftConf.BloomColumns]]), unlike the free footer-harvest
  * zonemaps: building a bloom costs one column-pruned scan of the new
  * segment at commit time (∝ THE SEGMENT, never the table — the same
  * cost envelope as the data write itself). Supported domains: the
  * integral family (put/probe as long) and strings; other types are
  * silently unstamped (absence of evidence is never pruning evidence).
  * Pruning is conservative by construction: a bloom's `mightContain`
  * false means PROVABLY absent (no false negatives); unmapped columns,
  * unrecognized predicate shapes, and null probes keep the segment.
  */
object BloomMaps {

  /** Sidecar name prefix at the table root: `_graft_bloom_<dataDir>`. */
  val BloomPrefix = "_graft_bloom_"

  /** False-positive probability per segment filter. */
  private val BloomFpp = 0.01

  /** Row-count ceiling above which a segment is left unstamped (the
    * filter for 1 G rows at 1% fpp is ~1.2 GB — past this size
    * segment-level blooms belong in a coarser tier, and an unstamped
    * segment is simply always kept). At 50 M rows the sidecar is
    * ~60 MB worst-case. */
  private val BloomMaxRows = 50000000L

  /** One column's filter: `tag` is the probe domain ("long" for the
    * integral family, "string"). */
  final case class ColBloom(tag: String, filter: BloomFilter)

  // ---------------------------------------------------------------
  // Harvesting (commit side)
  // ---------------------------------------------------------------

  /** Build the configured columns' blooms for a staged segment — one
    * column-pruned scan per configured column present in the segment
    * (`DataFrame.stat.bloomFilter`, a distributed aggregate). Sized
    * from the exact footer row count (metadata, no scan). Returns
    * empty when unconfigured — the common, zero-cost path. */
  def harvestSegment(spark: SparkSession, segPath: String): Map[String, ColBloom] = {
    import org.apache.spark.sql.types._
    val cols = graft.engine.GraftConf.BloomColumns.get(spark)
    if (cols.isEmpty) return Map.empty
    // footer-schema scan: the staged segment is graft-written, so the
    // datasource resolution job spark.read.parquet pays is pure
    // overhead on every bloom-harvesting commit
    val df = AtomicPublish.segmentScanNoResolve(spark, Seq(segPath))
    val rows = parquetRows(spark, segPath)
    if (rows == 0L || rows > BloomMaxRows) return Map.empty
    cols.flatMap { c =>
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap { f =>
        val tag = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some("long")
          case StringType => Some("string")
          case _ => None
        }
        tag.map { t =>
          f.name.toLowerCase ->
            ColBloom(t, df.stat.bloomFilter(f.name, math.max(rows, 1L), BloomFpp))
        }
      }
    }.toMap
  }

  /** Exact segment row count from the parquet footers (metadata). */
  private def parquetRows(spark: SparkSession, segPath: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(segPath)
    val fs = sp.getFileSystem(conf)
    fs.listStatus(sp)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
  }

  // ---------------------------------------------------------------
  // Sidecar IO
  // ---------------------------------------------------------------

  /** Binary sidecar: int32 column count, then per column UTF name,
    * UTF tag, int32 length, raw `BloomFilter.writeTo` bytes. */
  def write(fs: org.apache.hadoop.fs.FileSystem,
            root: org.apache.hadoop.fs.Path,
            dataDir: String,
            blooms: Map[String, ColBloom]): Unit = {
    if (blooms.isEmpty) return
    val out = fs.create(new org.apache.hadoop.fs.Path(root, BloomPrefix + dataDir), true)
    val dos = new java.io.DataOutputStream(out)
    try {
      dos.writeInt(blooms.size)
      blooms.foreach { case (name, cb) =>
        dos.writeUTF(name)
        dos.writeUTF(cb.tag)
        val bos = new java.io.ByteArrayOutputStream()
        cb.filter.writeTo(bos)
        val bytes = bos.toByteArray
        dos.writeInt(bytes.length)
        dos.write(bytes)
      }
    } finally dos.close()
  }

  /** Read a segment's bloom sidecar; empty (always-keep) when absent
    * or unreadable — a torn sidecar must degrade to no pruning, never
    * to an error on the read path. */
  def read(fs: org.apache.hadoop.fs.FileSystem,
           root: org.apache.hadoop.fs.Path,
           dataDir: String): Map[String, ColBloom] = {
    val p = new org.apache.hadoop.fs.Path(root, BloomPrefix + dataDir)
    try {
      if (!fs.exists(p)) return Map.empty
      val dis = new java.io.DataInputStream(fs.open(p))
      try {
        val n = dis.readInt()
        (0 until n).map { _ =>
          val name = dis.readUTF()
          val tag = dis.readUTF()
          val len = dis.readInt()
          val bytes = new Array[Byte](len)
          dis.readFully(bytes)
          name -> ColBloom(tag,
            BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
        }.toMap
      } finally dis.close()
    } catch { case _: java.io.IOException => Map.empty }
  }

  // ---------------------------------------------------------------
  // Pruning (read side)
  // ---------------------------------------------------------------

  /** Conservative segment test against the scan's pushed data filters
    * (ANDed): false only when some filter PROVES no row matches. */
  def mightMatch(blooms: Map[String, ColBloom],
                 dataFilters: Seq[Expression]): Boolean =
    blooms.isEmpty || dataFilters.forall(f => evalOne(blooms, f))

  private def probe(cb: ColBloom, l: Literal): Option[Boolean] = {
    import org.apache.spark.sql.types._
    if (l.value == null) return None
    (cb.tag, l.dataType) match {
      case ("long", ByteType | ShortType | IntegerType | LongType) =>
        Some(cb.filter.mightContainLong(l.value.toString.toLong))
      case ("string", StringType) =>
        Some(cb.filter.mightContainString(l.value.toString))
      case _ => None
    }
  }

  private def evalOne(blooms: Map[String, ColBloom], e: Expression): Boolean = {
    def withBloom(a: Attribute, l: Literal): Boolean =
      blooms.get(a.name.toLowerCase) match {
        case Some(cb) => probe(cb, l).getOrElse(true)
        case None => true
      }
    e match {
      case And(l, r) => evalOne(blooms, l) && evalOne(blooms, r)
      case Or(l, r) => evalOne(blooms, l) || evalOne(blooms, r)
      case EqualTo(a: Attribute, l: Literal) => withBloom(a, l)
      case EqualTo(l: Literal, a: Attribute) => withBloom(a, l)
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
        withBloom(a, l)
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
        withBloom(a, l)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => withBloom(a, v.asInstanceOf[Literal]))
      case InSet(a: Attribute, hset) =>
        blooms.get(a.name.toLowerCase) match {
          // InSet carries INTERNAL catalyst values — raw Literal ctor
          case Some(cb) => hset.exists { raw =>
            probe(cb, Literal(raw, a.dataType)).getOrElse(true)
          }
          case None => true
        }
      case _ => true
    }
  }
}
