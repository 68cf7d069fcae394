package graft.engine

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Every `spark.graft.*` session knob graft reads, in one place: each
  * entry carries its key, its typed default and a one-line doc, and
  * [[all]] lists them (the bench records their resolved values).
  *
  * [[Entry.get]] reads the session conf on every call — no memo, so a
  * key set or unset between two calls takes effect at the second — and
  * parses the trimmed value. A value that does not parse fails loudly
  * with an `IllegalArgumentException` naming the key and the raw value.
  * Ceilings that nothing needs to tune are constants beside the code
  * they bound, not entries here.
  */
object GraftConf {

  final class Entry[T] private[GraftConf] (val key: String, defaultValue: => T,
                                           val doc: String, kind: String,
                                           parse: String => T,
                                           render: T => String) {
    /** The value an unset key resolves to. */
    def default: T = defaultValue

    /** The session's value, parsed; `None` when the key is unset. */
    def getOption(spark: SparkSession): Option[T] =
      spark.conf.getOption(key).map { raw =>
        try parse(raw.trim)
        catch { case NonFatal(_) =>
          throw new IllegalArgumentException(s"$key must be $kind, got `$raw`")
        }
      }

    def get(spark: SparkSession): T = getOption(spark).getOrElse(default)

    /** [[get]] as the string a user would set. */
    def resolved(spark: SparkSession): String = render(get(spark))
  }

  private val entries = mutable.ArrayBuffer.empty[Entry[_]]

  private def entry[T](key: String, default: => T, doc: String, kind: String,
                       parse: String => T,
                       render: T => String = (v: T) => v.toString): Entry[T] = {
    val e = new Entry[T](key, default, doc, kind, parse, render)
    entries += e
    e
  }
  private def int(key: String, default: => Int, doc: String) =
    entry[Int](key, default, doc, "an Int", _.toInt)
  private def long(key: String, default: => Long, doc: String) =
    entry[Long](key, default, doc, "a Long", _.toLong)
  private def double(key: String, default: => Double, doc: String) =
    entry[Double](key, default, doc, "a Double", _.toDouble)
  private def boolean(key: String, default: => Boolean, doc: String) =
    entry[Boolean](key, default, doc, "true or false", _.toBoolean)
  /** A comma-separated column list; empty means none, and a blank name
    * between commas is refused. */
  private def columns(key: String, doc: String) =
    entry[Seq[String]](key, Nil, doc, "a comma-separated column list", { v =>
      val cols = if (v.isEmpty) Nil else v.split(",", -1).map(_.trim).toSeq
      require(cols.forall(_.nonEmpty))
      cols
    }, _.mkString(","))

  // ---- table protocol: commit lock, retention, sidecars, MERGE ----

  val LockTimeoutMs = long("spark.graft.manifest.lockTimeoutMs", 60000L,
    "how long a committer waits for a table's commit lock before failing")
  val LockStaleMs = long("spark.graft.manifest.lockStaleMs", 600000L,
    "commit-lock age past which its holder is presumed dead and the lock may be broken")
  val RetentionMs = long("spark.graft.manifest.retentionMs", 600000L,
    "how long a superseded data version stays on disk: the reader-safety and time-travel window")
  val BloomColumns = columns("spark.graft.manifest.bloom",
    "columns whose per-segment bloom filters are built at commit (none by default)")
  val MergeCompactAfter = int("spark.graft.merge.compactAfterSegments", 16,
    "pending merge segments at which a MERGE auto-folds the table; 0 disables")
  val AllowSchemaEvolution = boolean("spark.graft.merge.allowSchemaEvolution", false,
    "accept MERGE batches that add columns (older rows read NULL there)")
  val StagingCoalesceBytes = long("spark.graft.staging.coalesceTargetBytes",
    128L * 1024 * 1024,
    "estimated bytes at or under which a staged MERGE source is written as one file")

  // ---- near-dup, kNN and clustering ceilings ----

  val MaxBruteCosines = double("spark.graft.ann.maxBruteCosines", 1e9,
    "cosine evaluations the exact near-dup fallback may plan")
  val MaxDriverPairs = long("spark.graft.cc.maxDriverPairs",
    graft.ops.DedupCluster.maxDriverPairsDefault,
    "near-dup pairs up to which connected components run on the driver (default sized from the heap)")
  val MaxPushdownIds = int("spark.graft.dedupindex.maxPushdownIds", 100000,
    "candidate ids fetched by an IN pushdown before a broadcast semi join takes over")
  val IndexCompactAfter = int("spark.graft.dedupindex.compactAfterSegments", 16,
    "index segments at which an append compacts the index; 0 disables")
  val HammingMaxModeledCost = double("spark.graft.hamming.maxModeledCost", 2e9,
    "modeled index+candidate rows the relational Hamming join may plan")
  val HammingMaxProducts = double("spark.graft.hamming.maxProducts", 3e11,
    "sampled bucket products the partition-local Hamming engine may plan")
  val HammingLocalMinRows = long("spark.graft.hamming.localMinRows", 100000L,
    "corpus rows above which the Hamming join uses the partition-local engine")
  val HammingMaxBucketRows = int("spark.graft.hamming.maxBucketRows", 16000000,
    "rows one Hamming bucket may hold in the local engine's run buffer")
  val HammingOversplit = int("spark.graft.hamming.oversplit", 4,
    "partition multiplier of the local Hamming engine (unset: derived from the sample where one exists)")
  val SemDedupTargetCell = int("spark.graft.semdedup.targetCell", 1024,
    "target rows per semantic-dedup cell; k = ceil(n / targetCell)")
  val SemDedupMaxCellRows = int("spark.graft.semdedup.maxCellRows", 65536,
    "rows one semantic-dedup cell may hold in the local pair loop")
  val SemDedupRouteThreshold = int("spark.graft.semdedup.routeThreshold", 256,
    "leaf cells at which assignment switches from the flat scan to the two-level router")
  val SemDedupMaxDriverCentroidBytes = long(
    "spark.graft.semdedup.maxDriverCentroidBytes", 2000000000L,
    "driver-resident centroid bytes a quantizer fit may hold")

  /** Every entry, in declaration order. */
  val all: Seq[Entry[_]] = entries.toSeq
}
