package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor (Column is
  * now backend-agnostic); the classic-backend converters live behind
  * `private[sql]`. This bridge — placed inside the `org.apache.spark.sql`
  * namespace, the established pattern for libraries extending Spark with
  * custom Catalyst expressions — re-exports just the two converters the
  * `graft.functions` expressions need. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a sort Column (`col(...).desc` / `.asc`) into a fully
    * converted catalyst [[org.apache.spark.sql.catalyst.expressions.SortOrder]].
    * The lazy wrapper from [[expression]] keeps the backend-agnostic
    * `sql.internal.SortOrder` node inside — which is not serializable, so it
    * must not be embedded in a physical operator that ships to executors. */
  /** Eager ColumnNode→catalyst conversion. [[expression]] returns a LAZY
    * `ColumnNodeExpression` wrapper that only standard Dataset API entry
    * points convert; inside a custom LogicalPlan the analyzer never touches
    * it and it reaches execution unevaluable. Custom nodes must embed the
    * eagerly-converted tree (catalyst UnresolvedAttributes, which generic
    * resolution handles in any node). */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def sortOrder(c: Column): org.apache.spark.sql.catalyst.expressions.SortOrder =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node) match {
      case s: org.apache.spark.sql.catalyst.expressions.SortOrder => s
      case e => org.apache.spark.sql.catalyst.expressions.SortOrder(
        e, org.apache.spark.sql.catalyst.expressions.Ascending)
    }

  /** Wrap a custom LogicalPlan as a DataFrame (classic-backend
    * `Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame, for embedding under custom nodes. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Optimized logical plan of a DataFrame. */
  def optimizedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan

  /** Re-wrap a batch DataFrame's physical plan as a STREAMING DataFrame —
    * the V1 streaming `Source.getBatch` contract (the engine asserts
    * `isStreaming`); exactly FileStreamSource's own spelling
    * (`internalCreateDataFrame(toRdd, schema, isStreaming = true)`,
    * `private[sql]`). Lazy: `toRdd` compiles the plan, nothing executes
    * until the micro-batch runs. */
  def asStreamingBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Re-wrap a V1 `Sink.addBatch` DataFrame as a PURE BATCH frame —
    * ForeachBatchSink's own spelling (`internalCreateDataFrame(toRdd,
    * schema, isStreaming = false)`): the sink body can then run ordinary
    * multi-action batch plans (joins, writes) over the micro-batch
    * without tripping streaming-plan checks; re-executions replay the
    * deterministic physical plan, exactly foreachBatch's semantics. */
  def asPureBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** The session's unique id (`private[sql]` on the classic backend) —
    * identity-hash keys can collide across a GC'd session's lifetime,
    * a real UUID cannot. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** The Hadoop configuration the session's file sources list and read
    * with: the SparkContext's, overlaid with the session's SQL confs
    * (`sessionState` is `private[sql]`). */
  def newHadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Register a Catalyst expression builder as a SQL function on an existing
    * session (the runtime sibling of `SparkSessionExtensions.injectFunction`,
    * for sessions we did not create). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
