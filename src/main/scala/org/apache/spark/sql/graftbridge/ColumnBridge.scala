package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The ONE place graft touches Spark-internal (non-public) API. Everything
  * else in the engine builds on the stable public surface; the four escape
  * hatches here each have a pinned contract that must be re-verified on a
  * Spark upgrade (written against Spark 4.1.x):
  *
  *  1. Column <-> Expression conversion. `ExpressionUtils.column/expression`
  *     became `private[sql]` in the Spark 4 Connect refactor, so this
  *     object lives in a subpackage of org.apache.spark.sql solely to reach
  *     it. Contract relied on: a classic-session Column wraps exactly one
  *     catalyst Expression and the two casts are inverses.
  *
  *  2. `CollectTopK` (o.a.s.sql.catalyst.expressions.aggregate, private —
  *     the engine behind pandas-API `nlargest`). Contract relied on:
  *     constructor `(child, num, reverse)`; with reverse=true it keeps the
  *     `num` SMALLEST values by the child type's ordering in a bounded
  *     heap; it is a TypedImperativeAggregate, so map-side partial merge
  *     applies and a per-key ranking shuffles at most k rows per key per
  *     map partition; output array is sorted ascending (rank = position).
  *     If an upgrade breaks it, the fallback is a window row_number <= k
  *     (correct, but shuffles every candidate row) — swap inside
  *     [[collectBottomK]] only, callers are insulated.
  *
  *  3. `classic.SparkSession.internalCreateDataFrame` (private[sql]): an
  *     `RDD[InternalRow]` as a DataFrame, unconverted. Contract relied on:
  *     nothing checks the rows, so each must match the schema; the plan is
  *     a `LogicalRDD` scanning the RDD as is. Fallback: `createDataFrame`
  *     over encoder-converted rows, inside [[internalDataFrame]] only.
  *
  *  4. `ParquetFileFormat.readSchemaFromFooter` with a
  *     `ParquetToSparkSchemaConverter(sessionState.conf)`: the schema
  *     Spark's own parquet inference derives from one footer, without
  *     the one-task job that inference runs to read it. Contract relied
  *     on: inference without `mergeSchema` converts exactly one footer
  *     with a converter built from the same session flags (binary as
  *     string, INT96, timestamp NTZ, `nanosAsLong`), preferring the
  *     Spark schema stored in the footer's key-value metadata; the file
  *     index lists the names `HadoopFSUtils.shouldFilterOutPathName`
  *     keeps; and a missing path raises
  *     `QueryCompilationErrors.dataPathNotExistError` (`PATH_NOT_FOUND`).
  *     Fallback: `spark.read.parquet(path).schema`, inside
  *     [[graft.core.SwapStore.readParquet]] only.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column → Expression conversion for FunctionRegistry builders.
    * `expression` wraps the Column in a lazy ColumnNodeExpression whose
    * dataType reports VOID until session resolution — field extraction on
    * a composed struct result (`pii_counts(x).emails`) then fails at
    * analysis. `ColumnNodeToExpressionConverter` (same contract family as
    * escape hatch #1: classic-session singleton, default parser/conf)
    * converts the node tree to real catalyst expressions up front, which
    * the analyzer resolves like any parsed SQL.
    */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Bounded top-k aggregate: the k smallest values of `c`, sorted
    * ascending, with map-side partial merge (see contract #2 above).
    */
  def collectBottomK(c: Column, k: Int): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
      expression(c), k, true).toAggregateExpression())

  def internalDataFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[InternalRow],
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The Spark schema of a parquet footer, as inference reads it
    * (contract #4).
    */
  def parquetSchema(spark: SparkSession,
                    footer: org.apache.parquet.hadoop.Footer): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat.readSchemaFromFooter(
      footer, new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf))

  /** True when Spark's file index lists a file or dir named `name`
    * (contract #4).
    */
  def listedByFileIndex(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Spark's own `[PATH_NOT_FOUND]` error for a read of `path` (contract #4). */
  def pathNotFound(path: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.dataPathNotExistError(path)
}
