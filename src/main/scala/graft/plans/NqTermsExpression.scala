package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** N-Quads statement splitter (`graft_nq_terms`): one anchored regex
  * match per line returning all four terms as a struct — null when the
  * line is not a statement (blank, comment, malformed).
  *
  * Why native: built-in `regexp_extract` returns ONE group per call, so
  * extracting subject/predicate/object/graph costs four compiled-regex
  * passes over every line (plus an `rlike` gate — five), and Catalyst
  * can't common-subexpression them because the group index differs. The
  * text-ingest scan is the whole cost of a 100 TB N-Quads load; this is
  * its inner loop, same tier as [[DotProduct]]. One `Matcher` pass,
  * groups read out of the match state.
  *
  * Null semantics double as the grammar gate: `isnotnull(result)` IS the
  * valid-statement filter, so [[graft.rdf.QuadParser]] needs no separate
  * `rlike`.
  */
case class NqTerms(child: Expression) extends UnaryExpression {

  override def dataType: DataType = NqTerms.schema
  override def prettyName: String = "graft_nq_terms"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a string argument, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    NqTerms.split(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("nqTerms")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $tmp = graft.plans.NqTerms.split($c);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NqTerms {

  val schema: StructType = StructType(Seq(
    StructField("s_term", StringType, nullable = false),
    StructField("predicate", StringType, nullable = false),
    StructField("o_term", StringType, nullable = false),
    StructField("g_term", StringType, nullable = true)))

  /** Compiled once per JVM; the pattern itself lives with the grammar in
    * [[graft.rdf.QuadParser.LineRegex]]. Matcher state is per-call (a
    * Matcher is not thread-safe; expression eval is concurrent). */
  private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(graft.rdf.QuadParser.LineRegex)

  /** One regex pass; null ⇔ not a statement line. */
  def split(u: UTF8String): InternalRow = {
    val m = pattern.matcher(u.toString)
    if (!m.matches()) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.group(1)),
      UTF8String.fromString(m.group(2)),
      UTF8String.fromString(m.group(3)),
      if (m.group(4) == null) null else UTF8String.fromString(m.group(4))))
  }

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_nq_terms takes (string); got ${args.length}")
    NqTerms(args.head)
  }
}
