package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.queries.Registry

/** Shuffle-budget audit: EXECUTE every graded key and record the bytes
  * that actually crossed an exchange (shuffle write), plus input bytes
  * read, via the bench's Spark counters. The committed artifact
  * (`shuffle_audit.json`) quantifies the engine's central scale claim
  * key by key: map-only pipelines shuffle ZERO bytes, aggregates
  * shuffle only their combined partials, and nothing shuffles the
  * corpus when a vocabulary/bloom/broadcast shape can carry it.
  *
  * Usage: graft.tools.ShuffleAudit [sfDir] [outFile]
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "shuffle_audit.json"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Bench.Counters
    spark.sparkContext.addSparkListener(counters)

    val rows = Registry.all.map { q =>
      var n = 0L
      val run = Bench.oneRun(spark, counters) {
        val df = q.build(spark, dir)
        // same count()-elimination guard as Bench: the audit must
        // record the bytes of the key's REAL plan, not of a plan
        // count() legally truncated (see Bench's probe comment)
        n = if (Bench.countEliminationProbe(df)) df.queryExecution.toRdd.count()
            else df.count()
      }
      val w = run.work
      System.err.println(s"[audit] ${q.key} shuffle=${w.shuffleWriteBytes} input=${w.inputBytes}")
      run.sec match {
        case Right(_) =>
          s""""${q.key}":{"rows":$n,"shuffle_bytes":${w.shuffleWriteBytes},"input_bytes":${w.inputBytes}}"""
        case Left(e) =>
          s""""${q.key}":{"error":"${e.getClass.getSimpleName}"}"""
      }
    }
    Files.writeString(Paths.get(out), rows.mkString("{", ",\n", "}\n"))
    println(s"wrote $out")
    spark.stop()
  }
}
