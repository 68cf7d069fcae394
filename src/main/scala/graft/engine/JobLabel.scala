package graft.engine

import org.apache.spark.sql.SparkSession

/** Job labelling (optimization guide §1.5): protocol code paths wrap
  * their Spark actions so the UI and the bench's per-label counters
  * (`queries_counters` in `bench_details.json`) attribute every job to
  * the operator phase that launched it, instead of the anonymous call
  * site of the enclosing foreachBatch. Descriptions are
  * thread-local and restored on exit, so labels nest correctly and
  * never leak into a caller's own label.
  */
object JobLabel {
  def apply[A](spark: SparkSession, desc: String)(f: => A): A = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f
    finally sc.setJobDescription(old)
  }
}
