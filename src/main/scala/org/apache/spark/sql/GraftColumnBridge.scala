package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's package-private Column <-> Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils). Lives in the spark.sql
  * package solely to satisfy access control; no Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge to Observation's package-private metrics future: `await` waits at
  * most `timeoutMs` for the action's listener to deliver the observed metrics
  * row, else returns None — the public `get` blocks forever if metrics never
  * land, which an engine loop must not risk.
  */
object GraftObservationBridge {
  def await(o: Observation, timeoutMs: Long): Option[Row] =
    scala.util.Try(scala.concurrent.Await.result(o.future,
      scala.concurrent.duration.Duration(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))).toOption
}

/** Bridge to the package-private internalCreateDataFrame — lets partition-local
  * operators (e.g. multimodal decode) rebuild a DataFrame from an
  * RDD[InternalRow] without a Row conversion round-trip.
  */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession,
             rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
             schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
