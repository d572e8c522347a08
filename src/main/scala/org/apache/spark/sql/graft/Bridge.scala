package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion — the supported
  * way to hand a custom Catalyst expression to the DataFrame API lives
  * behind the sql package boundary, so this shim must too. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into an existing session's registry (the
    * runtime-registration counterpart of `SparkSessionExtensions
    * .injectFunction`, which only applies at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Rebuild a `localCheckpoint`ed frame's LogicalRDD WITHOUT its origin
    * constraints but WITH its effective statistics.
    *
    * Why both halves matter: the checkpoint's LogicalRDD carries the
    * ORIGIN plan's constraints, whose attribute ids are stale after the
    * lineage cut — Spark 4.1's Union constraint rewrite throws
    * `key not found: u#N` on them when the frame is later self-unioned
    * (observed in the star-contraction loop over a union-lineage pair
    * graph). Dropping the constraints by round-tripping through
    * `createDataFrame(rdd, schema)` fixes the crash but ALSO discards the
    * checkpoint's accurate size statistics, which costs the contraction
    * its legitimate late-round small-frame broadcasts (measured 1.6× at
    * the 100× smoke). This shim removes exactly the stale constraints and
    * nothing else. Frames that are not a bare LogicalRDD pass through
    * untouched. */
  def dropOriginConstraints(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val spark =
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val clean = org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark, Some(lr.stats), None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, clean)
      case _ => df
    }

  /** Unpersist a `localCheckpoint`ed frame's pinned RDD blocks. A
    * checkpointed frame's LogicalRDD has NO recompute lineage — its
    * blocks are the only copy — so `DataFrame.unpersist()` never
    * releases them and a long session accumulates pinned storage until
    * the RDD reference happens to be GC'd. Call this only when the
    * frame is DEAD (evicted from a cache, session torn down): any later
    * action on it, or on a plan built over it, fails with a missing
    * checkpoint block instead of recomputing. Frames that are not a
    * bare LogicalRDD pass through untouched (no-op). */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Block until the async listener bus has delivered every queued event
    * — the deterministic drain a listener-snapshotting probe needs
    * (`listenerBus` is private[spark], hence the bridge). */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Start streaming `df` into `sink`, a DSv2 table with
    * `STREAMING_WRITE`, in append mode — what `DataStreamWriter.start()`
    * does for a named format, without a provider class or a registry to
    * look the table up by (`startQuery` is private[sql]). */
  def startStream(df: org.apache.spark.sql.DataFrame, name: String,
      checkpoint: String, sink: org.apache.spark.sql.connector.catalog.Table,
      trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.sparkSession.streams
      .asInstanceOf[org.apache.spark.sql.classic.StreamingQueryManager]
      .startQuery(userSpecifiedName = Some(name),
        userSpecifiedCheckpointLocation = Some(checkpoint),
        df = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
        extraOptions = Map.empty, sink = sink,
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
        trigger = trigger)

  /** `schema` as a parquet write and read back returns it: every field,
    * array element and map value nullable (`asNullable` is
    * private[spark]; the parquet reader applies it to every file schema). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
