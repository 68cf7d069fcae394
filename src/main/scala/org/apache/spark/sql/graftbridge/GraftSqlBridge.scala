/* Bridge into Spark's private[sql] surface — the ONLY file outside the
 * graft namespace. `Dataset.ofRows` (wrap a constructed LogicalPlan as
 * a DataFrame) and the Column↔Expression conversions have no public
 * equivalent in Spark 4.1; every extension library that builds custom
 * logical operators or parameterized expressions uses this same
 * package-placement pattern to reach them. The bench also drains the
 * private[spark] listener bus through it. Nothing else is accessed.
 */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

object GraftSqlBridge {
  /** Wrap an analyzed LogicalPlan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a Catalyst expression as a Column (for expressions carrying
    * non-literal payloads — e.g. bloom bit arrays — that can't ride
    * the FunctionRegistry's Seq[Expression] builder contract). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression backing a classic Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an InternalRow RDD as a STREAMING DataFrame (isStreaming =
    * true) — the shape a V1 streaming Source's getBatch must return;
    * `internalCreateDataFrame` is private[sql] and the built-in
    * FileStreamSource reaches it the same way. */
  def internalCreateStreamingDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Wrap a FileIndex as a V1 parquet DataFrame. The V1 scan
    * (FileSourceScanExec) hands its pushed PARTITION AND DATA filters
    * to `fileIndex.listFiles` when it selects input partitions — which
    * is exactly the hook graft's zonemap/bloom-pruning index needs, so
    * a reconciled merge-on-read read can skip whole segments against a
    * pushed predicate (the DSv2 door does the same through
    * FileTable.fileIndex). `HadoopFsRelation` and
    * `baseRelationToDataFrame` are the same semi-internal surface
    * every lakehouse layer builds its custom file indexes on. */
  def parquetDataFrame(
      spark: SparkSession,
      fileIndex: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        location = fileIndex,
        partitionSchema = org.apache.spark.sql.types.StructType(Nil),
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat =
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(cs))
  }

  /** Apply an extension collector's injected functions to a registry
    * (`SparkSessionExtensions.registerFunctions` is private[sql]; the
    * extension-parity spec needs it to verify injection WITHOUT
    * rebuilding the shared test session). */
  def registerInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit = {
    ext.registerFunctions(reg); ()
  }

  /** Block until the listener bus has delivered every event posted so
    * far (`listenerBus` is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
