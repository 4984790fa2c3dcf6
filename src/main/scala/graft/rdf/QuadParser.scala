package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDF text SOURCE: N-Quads / N-Triples lines → the engine's quad
  * relation — the inverse of the S8/S9 sinks ([[QuadEmitter.renderNQuads]]
  * / [[QuadEmitter.renderNTriples]]), closing the serialization loop
  * source-side (VERDICT r4 "Missing" #2; the reference parses vocab files
  * into graphs at load time, `cam/etl/__init__.py:55-62`).
  *
  * Spark-first shape: the whole parse is ONE native function over a text
  * scan — a line-anchored master regex splits the terms, their lead
  * characters classify IRI / bnode / literal, and literal bodies unescape
  * through [[graft.plans.NtUnescape]], all inside the kernel
  * [[graft.plans.NqQuad]]. No UDF, no per-row driver logic: at 100 TB
  * this is an embarrassingly parallel scan that whole-stage-codegens, and
  * text-file splits distribute it for free (N-Quads is line-delimited, so
  * a split boundary is always a record boundary).
  *
  * Tolerance contract (matching line-oriented RDF loader practice): blank
  * lines and `#` comment lines are skipped; anything else that fails the
  * grammar is DROPPED from [[parse]] but surfaced relationally by
  * [[rejects]] — pipelines gate on `rejects(lines).isEmpty` (fail-fast,
  * §5.2 invariant style) or log them, their choice. A parser that errors
  * the whole 1000-executor ingest on line 10⁹-and-3 is not a usable
  * source; one that silently eats bad lines is not a trustworthy one.
  */
object QuadParser {

  /** One N-Quads statement, anchored: subject (IRI | bnode), predicate
    * IRI, object (IRI | bnode | literal with optional `@lang` / `^^<dt>`),
    * optional graph (IRI | bnode), terminating dot, optional comment.
    * Group 1 = subject term, 2 = predicate IRI, 3 = object term,
    * 4 = literal body (absent unless the object is a literal), 5 = its
    * language tag, 6 = its datatype IRI, 7 = graph term (absent — the
    * N-Triples case). Matched natively by [[graft.plans.NqQuad]]. */
  val LineRegex: String =
    "^[ \\t]*(<[^>]*>|_:[^ \\t]+)[ \\t]+<([^>]*)>[ \\t]+" +
      "(<[^>]*>|_:[^ \\t]+|\"((?:[^\"\\\\]|\\\\.)*)\"" +
      "(?:@([A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*)|\\^\\^<([^>]*)>)?)" +
      "(?:[ \\t]+(<[^>]*>|_:[^ \\t]+))?[ \\t]*\\.[ \\t]*(?:#.*)?$"

  private def isBlankOrComment(line: Column): Column = {
    val t = trim(line)
    (t === "") || t.startsWith("#")
  }

  /** Parse a `value: string` relation of N-Quads/N-Triples lines into the
    * engine quad shape: `subject, subjectKind, predicate, objectValue,
    * objectKind, datatype, lang, graph` (graph null on triple lines).
    * Malformed lines are dropped — audit them via [[rejects]].
    *
    * The whole parse is ONE native regex pass per line
    * ([[graft.plans.NqQuad]] returns a line's zero or one quads, and
    * `inline` expands them — blanks/comments/malformed all fall out of
    * the same match). */
  def parse(lines: DataFrame): DataFrame =
    lines.select(inline(call_function("graft_nq_quad", col("value"))))

  /** Data lines that fail the statement grammar (blank/comment lines are
    * legal, never rejects). Empty ⇔ [[parse]] was lossless on this input. */
  def rejects(lines: DataFrame): DataFrame = {
    lines.filter(!isBlankOrComment(col("value")) &&
      size(call_function("graft_nq_quad", col("value"))) === 0)
  }

  /** File source: read a text dir/glob as N-Quads (or N-Triples — the
    * graph column is simply null on triple lines). */
  def readNQuads(s: SparkSession, path: String): DataFrame =
    parse(s.read.text(path))
}
