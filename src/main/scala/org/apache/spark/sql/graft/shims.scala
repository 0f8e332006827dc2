package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge into `private[sql]` Spark APIs: wrap a Catalyst [[Expression]] in a
  * user-facing [[Column]] and register SQL functions in the session registry.
  * Lives under `org.apache.spark.sql` solely for access; contains no logic. */
object Shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Nullability-insensitive schema equality (`DataType.sameType` is
    * `private[sql]`): same field names, types and order. */
  def sameType(a: org.apache.spark.sql.types.DataType,
               b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** Schema equality up to nullability, with field names compared
    * case-sensitively whatever the session's case sensitivity
    * (`DataTypeUtils` is `private[sql]`). */
  def equalsIgnoreNullability(a: org.apache.spark.sql.types.DataType,
                              b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.equalsIgnoreNullability(a, b)

  /** Catalyst predicate -> data source [[org.apache.spark.sql.sources.Filter]]
    * (`DataSourceStrategy.translateFilter` is `protected[sql]`): the exact
    * translation Spark's own pushdown performs, reused for file-granular
    * `where` scoping in maintenance procedures. */
  def translateFilter(predicate: Expression,
                      supportNestedPredicatePushdown: Boolean)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown)

  /** A DataFrame over a connector [[org.apache.spark.sql.connector.catalog.Table]]
    * instance with scan options (`Dataset.ofRows` is `private[sql]`): for
    * tables built in-package rather than resolved by a catalog or a
    * `format(...)` load. */
  def tableFrame(spark: SparkSession,
                 table: org.apache.spark.sql.connector.catalog.Table,
                 options: Map[String, String]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          scala.jdk.CollectionConverters.MapHasAsJava(options).asJava)))

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)
  }
}
