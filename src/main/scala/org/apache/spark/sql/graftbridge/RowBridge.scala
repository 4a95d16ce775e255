/* Bridge into Spark's catalyst-row entry points for operators that stream
 * whole partitions: `internalCreateDataFrame` is `private[sql]`, so a
 * same-package shim (like ColumnBridge) is the supported-jar way to turn
 * an RDD of InternalRow back into a DataFrame without an encoder pass. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

object RowBridge {

  /** A DataFrame over `rows`, which must hold `schema`'s catalyst values. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** `body` over `df`'s catalyst rows, run as one SQL execution of `df`'s
    * plan named `name`, as a Dataset action is: the jobs it starts (the
    * plan's own shuffles included) run in the session's artifact scope,
    * so their tasks compile under the session's class loader, and query
    * listeners see the executed plan. */
  def withRows[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }
}
