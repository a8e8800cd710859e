package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql-private Column ↔ Expression conversions (Spark 4
  * made Column node-backed; `classic.ExpressionUtils` is `private[sql]`).
  * This is the one sanctioned extension seam for libraries that define
  * native Catalyst expressions — everything else in graft stays outside
  * Spark's namespace.
  */
object GraftSqlBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Wrap a custom LogicalPlan as a DataFrame (classic.Dataset.ofRows is
    * private[sql]) — needed by operators that plan whole-node semantics
    * (e.g. graft.plans.TopKPerKey). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted to the context's listener bus so far
    * has reached its listeners (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The analyzed logical plan behind a DataFrame. */
  def planOf(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A fresh Hadoop configuration with the session's SQL settings — the
    * one a write job of this session would start from. */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The session's SQL configuration, typed. */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** EAGER Column → Expression conversion. `toExpression` can return a
    * lazy wrapper still holding `sql.internal` ColumnNodes — fine inside
    * Spark's own operators, but not serializable into task closures of
    * custom SparkPlans. This converts the node tree to pure catalyst
    * expressions up front. */
  def toEagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A task-shippable parquet row reader built on Spark's OWN
    * `ParquetFileFormat.buildReaderWithPartitionValues` (the exact
    * machinery behind every native parquet scan), so a custom DSv2 source
    * gets the real predicate pushdown (row-group + page skipping via
    * `filters`) and column pruning (`requiredSchema`) instead of a shim
    * re-implementation. `returning_batch` is pinned to false: the closure
    * yields plain `InternalRow`s, which is what a row-based
    * `PartitionReader[InternalRow]` must emit. The returned function is
    * serializable (it broadcasts the hadoop conf internally — it is the
    * same closure FileScanRDD ships to executors). */
  def parquetReadFunc(
      spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String])
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    val cs = spark.asInstanceOf[classic.SparkSession]
    val opts = options + (FileFormat.OPTION_RETURNING_BATCH -> "false")
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    fmt.buildReaderWithPartitionValues(
      cs,
      dataSchema,
      new org.apache.spark.sql.types.StructType(),
      requiredSchema,
      filters,
      opts,
      cs.sessionState.newHadoopConfWithOptions(opts))
  }
}
