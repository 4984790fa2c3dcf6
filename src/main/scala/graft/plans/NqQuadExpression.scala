package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TermKind

/** N-Quads statement parser, the kernel of `graft_nq_quad`: one anchored
  * regex match per line returning the line's quads — one, or none when
  * the line is not a statement (blank, comment, malformed). Both N-Quads
  * readers call it: [[graft.rdf.QuadParser.parse]] through the SQL
  * function and the DSv2 `nquads` source per line, so the term rules are
  * written once.
  *
  * Why native: built-in `regexp_extract` returns ONE group per call, so
  * extracting the terms and the literal's body, tag and datatype costs a
  * compiled-regex pass each over every line, and Catalyst can't
  * common-subexpression them because the group index differs. The
  * text-ingest scan is the whole cost of a 100 TB N-Quads load; this is
  * its inner loop, same tier as [[DotProduct]]. One `Matcher` pass,
  * groups read out of the match state.
  *
  * The array doubles as the grammar gate: `inline` of it drops every
  * non-statement line in the same pass that extracts the terms, so
  * [[graft.rdf.QuadParser]] needs no separate `rlike` or filter (a
  * filter on a projected struct would be pushed below the projection and
  * run the match twice). Datatype and language tag are null unless the
  * object is a literal that carries one; `"x"^^<>` keeps its empty
  * datatype.
  */
object NqQuad {

  /** The engine's quad shape. */
  val schema: StructType = StructType(Seq(
    StructField("subject", StringType, nullable = false),
    StructField("subjectKind", StringType, nullable = false),
    StructField("predicate", StringType, nullable = false),
    StructField("objectValue", StringType, nullable = false),
    StructField("objectKind", StringType, nullable = false),
    StructField("datatype", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("graph", StringType, nullable = true)))

  /** `graft_nq_quad`'s result type: the quads of one line. */
  val dataType: ArrayType = ArrayType(schema, containsNull = false)

  private val none: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Compiled once per JVM; the pattern itself lives with the grammar in
    * [[graft.rdf.QuadParser.LineRegex]]. Matcher state is per-call (a
    * Matcher is not thread-safe; expression eval is concurrent). */
  private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(graft.rdf.QuadParser.LineRegex)

  private val Iri = UTF8String.fromString(TermKind.Iri)
  private val BNode = UTF8String.fromString(TermKind.BNode)
  private val Literal = UTF8String.fromString(TermKind.Literal)

  private def str(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** `<iri>` / `_:label` → its iri / label. */
  private def body(term: String): UTF8String =
    if (term == null) null
    else if (term.startsWith("_:")) UTF8String.fromString(term.substring(2))
    else UTF8String.fromString(term.substring(1, term.length - 1))

  private def kind(term: String): UTF8String =
    if (term.startsWith("_:")) BNode else Iri

  def compute(line: UTF8String): ArrayData = {
    val q = parse(line.toString)
    if (q == null) none
    else new GenericArrayData(Array[Any](new GenericInternalRow(q)))
  }

  /** One regex pass: the quad's fields in [[schema]] order, as
    * `UTF8String`s; null ⇔ not a statement line. */
  def parse(line: String): Array[Any] = {
    val m = pattern.matcher(line)
    if (!m.matches()) return null
    val o = m.group(3)
    val literal = m.group(4) != null
    Array[Any](body(m.group(1)), kind(m.group(1)), str(m.group(2)),
      if (literal) NtUnescape.compute(str(m.group(4))) else body(o),
      if (literal) Literal else kind(o),
      str(m.group(6)), str(m.group(5)), body(m.group(7)))
  }
}
