package graft.perfbench

import org.apache.spark.sql.functions._

import graft.ops.{AtomicPublish, MergeInto}

/** Loads the classes a benchmark run's session needs, for the
  * class-data-sharing archive `perfbench/run.py` writes after a build:
  *
  * {{{
  *   java -XX:ArchiveClassesAtExit=<archive> ... graft.perfbench.Warm <scratch dir>
  * }}}
  *
  * A session with the benchmark's conf, then a little of what every
  * workload does: parquet and CSV I/O, a join, an aggregate, a window,
  * a publish and an upsert. Everything it writes stays under the
  * scratch dir. */
object Warm {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val ctx = new Ctx("warm", 0L, 0.0, trace = false, dir,
      Runtime.getRuntime.availableProcessors, None, Map.empty)
    val (spark, _) = ctx.startSession()
    try {
      val t = ctx.path("t")
      spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("g"),
        (col("id") * 1.5).cast("decimal(12,2)").as("v")).write.parquet(s"$t/a")
      val a = spark.read.parquet(s"$t/a")
      a.select(col("k").cast("string"), col("g")).write.csv(s"$t/c")
      spark.read.csv(s"$t/c").count()
      a.createOrReplaceTempView("a")
      spark.sql(
        """SELECT x.g, sum(y.v) AS s, row_number() OVER (ORDER BY x.g) AS rk
          |FROM a x JOIN a y ON x.k = y.k GROUP BY x.g""".stripMargin).collect()
      val table = ctx.path("table")
      AtomicPublish.publish(spark, table)(p => a.write.parquet(p))
      MergeInto.upsertInto(spark, table, a.limit(10), Seq("k"))
      AtomicPublish.currentSegments(spark, table)
    } finally spark.stop()
  }
}
