package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext
import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the Column API backend-agnostic
  * and scoped the classic converters `private[sql]`, so a library adding
  * native Catalyst expressions needs this one-file shim inside the sql
  * namespace (the same pattern used by typed-Dataset/expression libraries
  * in the wild). Keep it minimal: only what is `private[sql]` or
  * `private[spark]` and has no public form belongs in this package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session builder bound to a running context. Its `getOrCreate` never
    * calls `SparkContext.getOrCreate`, which warns "Using an existing
    * SparkContext" whenever it gets a conf, and the public builder always
    * hands it one (at least a generated app name). */
  def builderOn(sc: SparkContext): classic.SparkSession.Builder =
    classic.SparkSession.builder().sparkContext(sc)
}

/** Input-type contract "one STRING argument", expressible only here:
  * `ExpectsInputTypes.inputTypes` is typed with the `private[sql]`
  * `AbstractDataType`, so a library expression outside the sql namespace
  * cannot write the override itself. Mixing this in gives analysis-time
  * implicit casts for atomics and an analysis ERROR for arrays/structs/
  * binary (which have no implicit cast to string) instead of silently
  * aggregating unstable catalyst-object toStrings. */
trait StringInputCast
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
}
