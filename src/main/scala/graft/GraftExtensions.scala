package graft

import graft.functions.{BlocklistHits, CosineSimilarity, MisraGries, TopKByScore}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Engine extension point: registers graft's native expressions with the
  * session so plain SQL can call them
  * (`spark.sql.extensions=graft.GraftExtensions`, or `.withExtensions` on
  * the builder). The injection path — not a UDF registry — keeps the
  * functions inside Catalyst: they resolve, type-check, constant-fold, and
  * codegen like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    // aggregates take their size parameter as a literal int argument
    ext.injectFunction((
      FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "top_k_by_score(score, id, k)")
        TopKByScore(children.head, children(1), litInt(children(2), "k"))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "misra_gries(item, k)")
        MisraGries(children.head, litInt(children(1), "k")).toAggregateExpression()
      }))
    // variadic: blocklist_hits(text, 'phrase1', 'phrase2', ...) — the
    // phrase list must be literal (the automaton is built at plan time)
    ext.injectFunction((
      FunctionIdentifier("blocklist_hits"),
      new ExpressionInfo(classOf[BlocklistHits].getName, "blocklist_hits"),
      (children: Seq[Expression]) => {
        require(children.length >= 2, "blocklist_hits(text, pattern, ...)")
        BlocklistHits(children.head, children.tail.map(litStr(_, "pattern")))
      }))
  }

  private def litStr(e: Expression, name: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other =>
      throw new IllegalArgumentException(
        s"$name must be a string literal, got $other")
  }

  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$name must be an int literal, got $other")
  }
}
