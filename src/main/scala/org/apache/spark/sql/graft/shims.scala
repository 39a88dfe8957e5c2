package org.apache.spark.sql.graft

import scala.reflect.ClassTag
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge between custom Catalyst expressions and the public Column API.
  * Spark 4 wraps columns in ColumnNodes; the classic converter is
  * `private[sql]`, so this one-liner lives under org.apache.spark.sql —
  * as do the other `private[sql]` hooks below.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run `df` once and store its rows as local checkpoint blocks in
    * Catalyst's internal format, as `localCheckpoint(eager = true)` does. Its
    * single job counts each partition and drops the counts; this one applies
    * `perPartition` to each partition's stored rows instead and returns the
    * results by partition index. `unpersist` the returned RDD to free the
    * blocks; if this throws, they are freed already.
    */
  def localCheckpoint[U: ClassTag](df: DataFrame)(perPartition: Iterator[InternalRow] => U): (RDD[InternalRow], Array[U]) = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      try (rdd, df.sparkSession.sparkContext.runJob(rdd, perPartition))
      catch {
        case e: Throwable =>
          rdd.unpersist(blocking = false)
          throw e
      }
    }
  }

  /** A frame of `schema` over the partitions of stored rows that `keep`
    * selects by index.
    */
  def scanStored(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType, keep: Int => Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(PartitionPruningRDD.create(rdd, keep), schema)

  /** Drain the async listener bus — `SparkContext.listenerBus` is
    * `private[spark]`, and per-query metrics attribution (ShuffleAudit)
    * needs every TaskEnd event delivered before reading the counters.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
