package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL parser — textual queries compile onto the [[Bgp]] /
  * [[PropertyPath]] algebra, closing the serving loop: the reference
  * exposes its emitted graph through a SPARQL endpoint (`cam/graphdb.py`,
  * `fuseki/config.ttl`), and its code drives it with literal query
  * strings. The subset here is the serving surface those call sites use —
  * the geocode lookup (`cam/web/app.py:49-58`: PREFIX + BIND + BGP), the
  * compound-name component query (`cam/compound_naming.py:14-22`:
  * property function with list args), DESCRIBE (`cam/graphdb.py:60-71`),
  * and the documented getParts / text:query shapes
  * (`etl-notes-data-loading.md:100,128-149`):
  *
  * {{{
  * [PREFIX pfx: <iri>]*
  * SELECT [DISTINCT] ?v … | * | (COUNT|SUM|MIN|MAX|AVG(?v|*) AS ?a) …
  * | (GROUP_CONCAT(?v [; SEPARATOR="s"]) AS ?a) | (SAMPLE(?v) AS ?a)
  * | (expr AS ?a)                       (SELECT expression, no aggregates)
  * | CONSTRUCT { template triples (`;` lists) } | CONSTRUCT WHERE { … }
  * | ASK (full-grammar body)
  * | DESCRIBE <iri> [<iri> …] | DESCRIBE ?v WHERE { … } (CBD/solution)
  * [FROM <g>]* [FROM NAMED <g>]*         (§13.2 dataset clause — declared
  *                                        default-graph union / GRAPH set)
  * WHERE {
  *   [GRAPH ?g|<iri> { group }]
  *   [SERVICE [SILENT] <endpoint> { triples }] (registered-relation
  *                                             federation)
  *   [{ SELECT … }]                          (sub-select, joined on shared vars)
  *   ?s <p> ?o .                             (predicate may be ?var, or a
  *    …                                       path: ^p, p1/p2, p1|p2,
  *                                            p+, p*, p?)
  *   ?s <p1> ?a ; <p2> [ <p3> ?b ; … ] .     (predicate lists + anonymous
  *                                            blank-node groups;
  *                                            COUNT(DISTINCT ?v) supported)
  *   [?s <fn> (?a ?b …) .]                   (property function, registry)
  *   [(?x ?y) <fn> (args) .]                 (list subject form)
  *   [BIND(<iri>|"lit" AS ?v)]              (constant → pushed to scans)
  *   [BIND(expr AS ?v)]                      (CONCAT/STR/STRLEN/UCASE/
  *                                            LCASE/SUBSTR/REPLACE/
  *                                            STRBEFORE/STRAFTER/
  *                                            ENCODE_FOR_URI/ABS/CEIL/
  *                                            FLOOR/ROUND/MD5/SHA1/
  *                                            SHA256/geof:distance,
  *                                            + - * / on ?v/ints)
  *   [OPTIONAL { triples [OPTIONAL { … }] [FILTER(…)] }] (any FILTER
  *                                            clause below except LANG/
  *                                            DATATYPE/is* tests)
  *   [MINUS { triples }]
  *   [FILTER(?v op "lit"|<iri>|number|?w [&&|'||' …])]  (op on two vars
  *                                                     = lexical compare;
  *                                                     mixed &&/|| = DNF,
  *                                                     && binds tighter)
  *   [FILTER(REGEX(?v, "pat" [, "i"]) | STRSTARTS/STRENDS(?v, "s")
  *           | CONTAINS(?v, "s") | [!]BOUND(?v)
  *           | STR(?v) op "lit" | ?v [NOT] IN ("lit", <iri>, …)
  *           [&&|'||' …])]
  *   [FILTER(expr op expr)]                  (BIND expression grammar on
 *                                            both sides; numeric unless
 *                                            both sides string-typed)
 *   [FILTER(geof:sfWithin(?w, "POLYGON…") | geof:sfContains(…))]
 *                                           (bare boolean calls — the
 *                                            GeoSPARQL point-in-polygon
 *                                            tests, native SfRelate)
 *   [FILTER [NOT] EXISTS { triples }]
  *   [VALUES ?v { "lit" <iri> … }]
  * }
  * [GROUP BY ?v …] [HAVING(expr op expr [&& …])] (arithmetic over
  *                                            AGG(?v|*), ?alias, numbers)
  * [ORDER BY [DESC(]?v[)] …] [LIMIT n] [OFFSET n]
  * }}}
  *
  * Every FILTER clause parses to one list entry in disjunctive normal
  * form: a disjunction of `&&` groups of [[FilterAtom]]s. Each clause
  * compiles to one row filter over the solution relation, except the
  * term tests (LANG/DATATYPE/is*), which run as pattern-scan predicates.
  * Parsing is recursive descent over a token list — deliberately no
  * dependency, no reflection, loud errors with the offending token.
  * The compiled plan is exactly what hand-built [[Bgp]] calls produce:
  * per-pattern filtered scans hash-joined on shared variables, Catalyst
  * optimizing the rest. Disconnected groups (a cross join at scale) are
  * rejected unless `graft.sparql.allowCartesian=true` — SPARQL's
  * cartesian semantics made opt-in rather than silent.
  */
object SparqlParser {

  /** `(COUNT([DISTINCT] ?v) AS ?alias)`-style projection aggregate.
    * `sep` is GROUP_CONCAT's SEPARATOR (SPARQL default: one space). */
  final case class Agg(func: String, variable: String, alias: String,
      distinct: Boolean = false, sep: String = " ")

  /** HAVING over COMPUTED aggregates (r11 — §11.1 defines HAVING as a
    * constraint over any expression of the group solution, e.g.
    * `HAVING (SUM(?bal) / COUNT(?addr) > 500)`): a precedence-correct
    * arithmetic tree whose leaves are set-function calls, projected
    * aliases, and numbers. Every aggregate leaf computes as a hidden
    * column in the SAME aggregation pass — one shuffle regardless of
    * how many HAVING clauses reference how many aggregates. */
  sealed trait HExpr
  final case class HAgg(func: String, variable: String,
      distinct: Boolean = false) extends HExpr
  final case class HVar(name: String) extends HExpr
  final case class HNum(value: Double) extends HExpr
  final case class HArith(op: String, l: HExpr, r: HExpr) extends HExpr

  /** A property-function invocation `subj <fnIri> (args)` — subject
    * and/or object position may be an RDF list of terms (the Jena
    * property-function calling convention the reference uses for
    * `cnf:getParts` and `text:query`). Resolution happens at execute
    * time against the caller's registry. */
  final case class PropFnCall(subjects: Seq[Bgp.Term], fnIri: String,
      objects: Seq[Bgp.Term], graph: Option[Bgp.Term])

  /** A compound-path triple `s path o` (non-trivial paths only; a plain
    * predicate parses to a [[Bgp.Pattern]]). Graph scope pre-filters the
    * quad relation when constant. */
  final case class PathPattern(s: Bgp.Term, path: PropertyPath.Path,
      o: Bgp.Term, graph: Option[Bgp.Term])

  final case class Query(
      distinct: Boolean,
      projection: Seq[String], // empty = SELECT *
      aggregates: Seq[Agg], // non-empty ⇒ GROUP BY query
      groupBy: Seq[String],
      patterns: Seq[Bgp.Pattern],
      optionals: Seq[OptGroup],
      minuses: Seq[Seq[Bgp.Pattern]],
      filters: Seq[Seq[Seq[FilterAtom]]],
      // one entry per FILTER clause, in DNF: a disjunction of && groups
      orderBy: Seq[(String, Boolean)], // var, descending
      limit: Option[Int],
      verb: String = "select", // select | construct | ask | describe
      template: Seq[Bgp.Template] = Nil,
      values: Seq[(String, Seq[String])] = Nil, // VALUES ?v { … }
      binds: Seq[(String, String, String)] = Nil, // var, value, termKind
      paths: Seq[PathPattern] = Nil,
      propFns: Seq[PropFnCall] = Nil,
      subqueries: Seq[Query] = Nil,
      unions: Seq[Seq[Seq[Bgp.Pattern]]] = Nil, // each: ≥2 branches
      describeIris: Seq[String] = Nil, // DESCRIBE <a> [<b> …]
      describeVar: Option[String] = None, // DESCRIBE ?v WHERE { … }
      selectOrder: Seq[String] = Nil, // SELECT-list column order
      offset: Option[Int] = None,
      having: Seq[(HExpr, String, HExpr)] = Nil,
      // HAVING clauses: arithmetic of aggregates (§11.1)
      aggExprs: Seq[(String, HExpr)] = Nil,
      // SELECT (arith-of-aggregates AS ?alias) — §11.1 projection
      // expressions (r11); leaves share the single aggregation pass
      existsFilters: Seq[(Boolean, Seq[Bgp.Pattern])] = Nil,
      // (negated, group): FILTER [NOT] EXISTS { … }
      exprBinds: Seq[(String, BindExpr)] = Nil, // BIND(expr AS ?v)
      valuesMulti: Seq[(Seq[String], Seq[Seq[Option[String]]])] = Nil,
      // VALUES (?a ?b) { (x y) (x UNDEF) … }: vars + rows, None = UNDEF
      fromGraphs: Seq[String] = Nil, // FROM <g> — default-graph union
      fromNamed: Seq[String] = Nil, // FROM NAMED <g> — GRAPH-visible set
      serviceGroups: Seq[(String, Boolean, Query)] = Nil,
      // SERVICE [SILENT] <endpoint> { group }: (iri, silent, body) —
      // the body is a FULL group graph pattern, parsed as a synthetic
      // `SELECT * WHERE { … }` sub-query evaluated at the endpoint
      // (r10; was triples-only)
      serviceTexts: Seq[String] = Nil,
      // r14, 1:1 with serviceGroups: the body re-rendered as
      // self-contained SPARQL text (tokens are prefix-expanded before
      // parsing, so no prologue is needed) — what goes over the wire
      // when the endpoint is a live remote (§18.6 remote evaluation)
      unionQueries: Seq[Seq[Query]] = Nil,
      // UNION whose branches need the FULL group grammar (FILTER /
      // BIND / OPTIONAL / … inside a branch): each branch is a
      // synthetic `SELECT * WHERE { … }` sub-query; branch solutions
      // pad each other's variables with NULL and union as bags
      // (§18.2.2.5 multiset union) — r11. Plain-BGP unions stay on the
      // `unions` fast path.
      minusQueries: Seq[Query] = Nil,
      // full-grammar MINUS bodies (r11): anti-join on shared vars
      existsQueries: Seq[(Boolean, Query)] = Nil,
      // full-grammar FILTER [NOT] EXISTS bodies (r11): (anti-)semi-join
      orderExprBinds: Seq[(String, BindExpr)] = Nil)
      // ORDER BY [DESC](expr) sort keys that are EXPRESSIONS (r14):
      // each computes as a hidden column named in orderBy, applied
      // before the final projection and dropped after the sort

  /** One OPTIONAL group: its patterns, the FILTERs scoped INSIDE the
    * group (they constrain the group's MATCH — unmatched rows keep
    * their NULLs, unlike an outer FILTER, which drops unmatched
    * solutions; the left-join-with-condition semantics), and any
    * NESTED OPTIONAL groups — `A OPTIONAL { B OPTIONAL { C } }`
    * evaluates as LeftJoin(A, LeftJoin(B, C)) per SPARQL §18.2.2.6,
    * with group filters applied over the group's own join result. */
  final case class OptGroup(patterns: Seq[Bgp.Pattern],
      filters: Seq[Seq[Seq[FilterAtom]]] = Nil, // DNF clauses
      nested: Seq[OptGroup] = Nil,
      exists: Seq[(Boolean, Seq[Bgp.Pattern])] = Nil)
      // FILTER [NOT] EXISTS inside the group (r14): (anti-)semi-join
      // applied to the GROUP's solutions before it left-joins outward

  /** A registered property function: `(quads, subjectTerms, objectTerms)
    * → solution relation` whose columns are named after the `Var` terms;
    * `Const` terms are constraints the function must apply itself. */
  type PropertyFunction =
    (DataFrame, Seq[Bgp.Term], Seq[Bgp.Term]) => DataFrame

  /** BIND expression AST — the projection-expression subset SPARQL's
    * BIND/SELECT expressions need most: string builders (CONCAT, STR,
    * STRLEN, UCASE, LCASE, SUBSTR, REPLACE) and `+ - * /` arithmetic
    * (operands cast to double; integer literals only — the tokenizer
    * reserves '.' for the triple terminator). */
  sealed trait BindExpr
  final case class BVar(n: String) extends BindExpr
  final case class BStr(v: String) extends BindExpr
  final case class BNum(v: Double) extends BindExpr
  final case class BCall(fn: String, args: Seq[BindExpr]) extends BindExpr
  final case class BArith(op: String, l: BindExpr, r: BindExpr)
      extends BindExpr
  /** SPARQL `IF(cond, then, else)` — the condition is one comparison
    * over this grammar (the effective-boolean-value subset FILTERs
    * already speak); both branches render as strings (the solution
    * relation's lexical-form column type). */
  final case class BIf(l: BindExpr, op: String, r: BindExpr,
      t: BindExpr, f: BindExpr) extends BindExpr

  private val BindFns =
    Seq("CONCAT", "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "REPLACE",
      "COALESCE", "IF",
      // r9 builtins: SPARQL 1.1 §17.4.3 string accessors, RFC 3986
      // encoding, §17.4.4 numerics, §17.4.6 hashes
      "STRBEFORE", "STRAFTER", "ENCODE_FOR_URI",
      "ABS", "CEIL", "FLOOR", "ROUND", "MD5", "SHA1", "SHA256",
      // r10 term constructors (§17.4.2): the write twins of the r9
      // accessors — STRLANG/STRDT build tagged/typed literals, IRI/URI
      // and BNODE build resource terms (kind/lang/datatype recorded via
      // [[ctorMeta]] and stamped on CONSTRUCT templates), UUID/STRUUID
      // mint fresh per-solution identifiers, NOW reads the injectable
      // clock ([[withClock]])
      "STRLANG", "STRDT", "IRI", "URI", "BNODE", "UUID", "STRUUID", "NOW",
      // r10 §17.4.5 date/time accessors (lexical-field extraction)
      "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
      // r14: remaining §17.4.6 hashes, and term accessors usable in
      // BIND position over CONSTRUCTOR-bound variables (resolved
      // statically via [[ctorMeta]] — see resolveAccessors; FILTER
      // keeps routing accessors to the pattern-scan TermTest path,
      // whose branches precede the expression branch)
      "SHA384", "SHA512",
      "LANG", "DATATYPE", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL")

  /** One atomic FILTER test: a FILTER clause is a disjunction of `&&`
    * groups of these. */
  sealed trait FilterAtom
  final case class CmpLit(v: String, op: String, value: String,
      numeric: Boolean) extends FilterAtom
  final case class CmpVar(v1: String, op: String, v2: String)
      extends FilterAtom
  final case class InList(v: String, neg: Boolean, vals: Seq[String])
      extends FilterAtom
  final case class BoundTest(v: String, neg: Boolean) extends FilterAtom
  final case class StrFn(fn: String, v: String, arg: String, flags: String)
      extends FilterAtom
  /** `FILTER(expr op expr)` over the BIND expression grammar — e.g.
    * `FILTER(?bal * 2 >= 19000)`, `FILTER(SUBSTR(?v, 2, 1) = "7")`.
    * Compared numerically (double) unless both sides are string-typed. */
  final case class ExprCmp(l: BindExpr, op: String, r: BindExpr)
      extends FilterAtom
  /** A bare boolean-valued function call in FILTER position — the
    * GeoSPARQL simple-feature tests (`FILTER(geof:sfWithin(?wkt,
    * "POLYGON(…)"))`) are the registered vocabulary; compiled by
    * [[bindBool]] to a Column predicate like any comparison. */
  final case class ExprBool(e: BindExpr) extends FilterAtom
  /** SPARQL term-accessor test — `LANG(?v) = "en"`,
    * `LANGMATCHES(LANG(?v), "en")`, `DATATYPE(?v) = <xsd:dateTime>`,
    * `[!]isIRI/isLiteral/isBlank(?v)`. These read the TERM columns
    * (`lang`/`datatype`/`objectKind`/`subjectKind`) that live on the
    * quad relation, not the solution relation, so they compile to
    * [[Bgp.Pattern.scanFilter]] predicates on the pattern that binds
    * the variable — pushed into the store scan, never a residual. For
    * the is* tests `op` is "=" (plain) or "!=" (negated); `arg` is the
    * compared tag/IRI (empty for is*). */
  final case class TermTest(v: String, fn: String, op: String,
      arg: String) extends FilterAtom

  // -- tokenizer ---------------------------------------------------------

  private[rdf] def tokenize(s: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '<') {
        // '<' is the FILTER comparator when followed by '=', whitespace
        // or a number (ADVICE r7 — IRIs never start that way), else an
        // IRI opener scanned to its '>'
        val nxt = if (i + 1 < s.length) s.charAt(i + 1) else ' '
        if (nxt == '=') { out += "<="; i += 2 }
        else if (nxt.isWhitespace || nxt.isDigit || nxt == '-') {
          out += "<"; i += 1
        } else {
          val j = s.indexOf('>', i)
          require(j > 0, s"unterminated IRI at offset $i")
          out += s.substring(i, j + 1); i = j + 1
        }
      } else if (c == '#') {
        // comment to end of line (§19.4) — '#' inside IRIs and string
        // literals never reaches here (their branches scan atomically)
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (c == '"' || c == '\'') {
        // string literal, all four §19.8 forms: short/long ("""…"""),
        // either quote char. Every form canonicalizes to ONE
        // double-quoted token (requote: inner quote chars and raw
        // newlines become ECHAR escapes), so the rest of the grammar
        // tests t.startsWith("\"") only.
        val q = c
        if (i + 2 < s.length && s.charAt(i + 1) == q &&
          s.charAt(i + 2) == q) {
          val close = s"$q$q$q"
          val j = s.indexOf(close, i + 3)
          require(j > 0, s"unterminated long string at offset $i")
          out += requote(s.substring(i + 3, j)); i = j + 3
        } else {
          // backslash-escaped quotes stay inside the literal (ADVICE r7)
          var j = i + 1
          while (j < s.length && s.charAt(j) != q) {
            if (s.charAt(j) == '\\' && j + 1 < s.length) j += 2 else j += 1
          }
          require(j < s.length, s"unterminated literal at offset $i")
          out += requote(s.substring(i + 1, j)); i = j + 1
        }
      } else if (c == '|' && i + 1 < s.length && s.charAt(i + 1) == '|') {
        out += "||"; i += 2 // FILTER disjunction (path alternation is one |)
      } else if ("{}()./|+^[];,".indexOf(c) >= 0) { out += c.toString; i += 1 }
      else if (c == '&' && i + 1 < s.length && s.charAt(i + 1) == '&') {
        out += "&&"; i += 2
      } else if ("=<>!".indexOf(c) >= 0) {
        if (i + 1 < s.length && s.charAt(i + 1) == '=') {
          out += s.substring(i, i + 2); i += 2
        } else { out += c.toString; i += 1 }
      } else {
        var j = i
        while (j < s.length && !s.charAt(j).isWhitespace &&
          "{}()./|+^[];,<>\"=!&".indexOf(s.charAt(j)) < 0) j += 1
        // decimal continuation (r13): an INTEGER token immediately
        // followed by '.' and a digit is one decimal literal
        // ("2.0", "-3.5") — a triple-terminating '.' always has the
        // object separated by whitespace or follows a non-integer
        // token, so the merge can't eat a statement separator
        if (j < s.length && s.charAt(j) == '.' && j + 1 < s.length &&
          s.charAt(j + 1).isDigit &&
          s.substring(i, j).matches("-?[0-9]+")) {
          var k = j + 1
          while (k < s.length && s.charAt(k).isDigit) k += 1
          out += s.substring(i, k); i = k
        } else {
          // a path quantifier glued to a prefixed name ("ex:edge*",
          // "ex:edge?") splits into its own token (r14, W3C sample:
          // `*`/`?` are not stop-chars like `+`, so the quantifier was
          // swallowed into the name and expanded into a nonexistent
          // IRI). A variable token starts with '?' and is never split;
          // the bare "*" of `SELECT *`/`COUNT(*)` is length 1.
          var tok = s.substring(i, j)
          i = j
          val quants = List.newBuilder[String]
          while (tok.length > 1 && !tok.startsWith("?") &&
            (tok.last == '*' || tok.last == '?')) {
            quants += tok.last.toString
            tok = tok.dropRight(1)
          }
          out += tok
          quants.result().reverse.foreach(out += _)
        }
      }
    }
    out.result()
  }

  /** Canonical double-quoted token from raw string-literal CONTENT:
    * escape pairs pass through untouched; bare `"` and raw line breaks
    * (legal inside long strings) become ECHAR escapes, so every token
    * is one double-quoted single-line string whatever the source form. */
  private def requote(content: String): String = {
    val b = new StringBuilder("\"")
    var k = 0
    while (k < content.length) {
      val ch = content.charAt(k)
      if (ch == '\\' && k + 1 < content.length) {
        b.append(ch).append(content.charAt(k + 1)); k += 2
      } else {
        if (ch == '"') b.append("\\\"")
        else if (ch == '\n') b.append("\\n")
        else if (ch == '\r') b.append("\\r")
        else b.append(ch)
        k += 1
      }
    }
    b.append('"').toString
  }

  private val RdfTypeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** Leading `PREFIX pfx: <iri>` declarations become a token-rewrite
    * pass: every later `pfx:local` token (and the `a` keyword in
    * predicate position — handled by the path parser) expands to its
    * full bracketed IRI before the grammar sees it. String literals are
    * their own tokens, so their content is never rewritten. */
  private[rdf] def applyPrefixes(tokens: List[String]): List[String] = {
    var ts = tokens
    val prefixes = Map.newBuilder[String, String]
    while (ts.headOption.exists(_.equalsIgnoreCase("PREFIX"))) {
      ts match {
        case _ :: pfx :: iri :: rest =>
          require(pfx.endsWith(":"),
            s"PREFIX needs 'pfx:', got '$pfx'")
          require(iri.startsWith("<") && iri.endsWith(">"),
            s"PREFIX needs '<iri>', got '$iri'")
          prefixes += ((pfx.dropRight(1),
            iri.substring(1, iri.length - 1)))
          ts = rest
        case _ => throw new IllegalArgumentException(
          "incomplete PREFIX declaration")
      }
    }
    val pfx = prefixes.result()
    if (pfx.isEmpty) ts
    else ts.map { t =>
      val ci = t.indexOf(':')
      if (ci > 0 && !t.startsWith("<") && !t.startsWith("\"") &&
        !t.startsWith("?")) {
        pfx.get(t.substring(0, ci)) match {
          case Some(base) => "<" + base + t.substring(ci + 1) + ">"
          case None => t
        }
      } else t
    }
  }

  // -- recursive descent -------------------------------------------------

  private class P(var ts: List[String]) {
    def peek: String = ts.headOption.getOrElse("<eof>")
    def peek2: String = ts.drop(1).headOption.getOrElse("<eof>")
    // Watchdog (r14, W3C syntax-negative sample): a truncated query
    // ("SELECT ?x WHERE { ?x <p> ?v", "ASK { ?s <p>") used to spin a
    // grammar loop at end-of-input forever, accumulating "<eof>"
    // pseudo-terms until the heap died — a driver DoS now that
    // [[SparqlServer]] accepts query text over HTTP. Reading past the
    // end a bounded number of times is legal (several sites probe one
    // "<eof>" sentinel and throw their own message); reading past it
    // repeatedly can only be a non-consuming loop, so fail loudly.
    private var eofReads = 0
    def eat(): String = {
      val h = peek
      if (ts.isEmpty) {
        eofReads += 1
        require(eofReads < 64,
          "unexpected end of query — unterminated group or triple")
      }
      ts = ts.drop(1)
      h
    }
    def expect(t: String): Unit = {
      val h = eat()
      require(h.equalsIgnoreCase(t), s"expected '$t', got '$h'")
    }
    def is(t: String): Boolean = peek.equalsIgnoreCase(t)
    // fresh anonymous-bnode variable names for `[ … ]` object groups
    private var anonN = 0
    def freshAnon(): String = { anonN += 1; s"_anon$anonN" }
    /** Consume and return the body of an already-OPENED `{ … }` group
      * (balanced; the closing brace is eaten, not returned) — the
      * capture that lets SERVICE / UNION / MINUS / EXISTS bodies
      * re-parse under the full grammar as synthetic sub-queries. */
    def captureBalanced(): List[String] = {
      val body = List.newBuilder[String]
      var depth = 1
      while (depth > 0) {
        val tok = eat()
        require(tok != "<eof>", "unterminated group")
        if (tok == "{") depth += 1
        else if (tok == "}") depth -= 1
        if (depth > 0) body += tok
      }
      body.result()
    }
  }

  /** Does a captured group body need the full group grammar (anything
    * beyond plain triples)? */
  private def needsFullGrammar(body: List[String]): Boolean =
    body.exists(t => Seq("FILTER", "BIND", "OPTIONAL", "MINUS", "VALUES",
      "SELECT", "SERVICE", "UNION", "GRAPH").exists(t.equalsIgnoreCase))

  private def asSubQuery(body: List[String]): Query =
    parseQuery(new P(List("SELECT", "*", "WHERE", "{") ++ body ++
      List("}")))

  /** Minimal literal unescape for quoted tokens: `\"` and `\\`. */
  /** Bare (unquoted) literal tokens legal in a VALUES data block:
    * SPARQL's NumericLiteral and BooleanLiteral shorthands (§4.1.2) —
    * the lexical form carries into the binding column verbatim. */
  private def isBareLiteralTok(t: String): Boolean =
    t.matches("[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") ||
      t.equalsIgnoreCase("true") || t.equalsIgnoreCase("false")

  /** Decode a double-quoted token to its value: the §19.8 ECHAR set
    * (\t \b \n \r \f \" \' \\) and UCHAR (\uXXXX, \UXXXXXXXX). An
    * escape outside the grammar keeps both characters — "\d+" stays a
    * regex-ready backslash-d, the engine's documented lenient read. */
  private[rdf] def unquote(t: String): String = {
    val s0 = t.substring(1, t.length - 1)
    val b = new StringBuilder
    var k = 0
    while (k < s0.length) {
      val ch = s0.charAt(k)
      if (ch == '\\' && k + 1 < s0.length) {
        s0.charAt(k + 1) match {
          case 'n' => b.append('\n'); k += 2
          case 't' => b.append('\t'); k += 2
          case 'r' => b.append('\r'); k += 2
          case 'b' => b.append('\b'); k += 2
          case 'f' => b.append('\f'); k += 2
          case '"' => b.append('"'); k += 2
          case '\'' => b.append('\''); k += 2
          case '\\' => b.append('\\'); k += 2
          case 'u' if k + 6 <= s0.length =>
            b.append(Integer.parseInt(
              s0.substring(k + 2, k + 6), 16).toChar)
            k += 6
          case 'U' if k + 10 <= s0.length =>
            b.appendAll(java.lang.Character.toChars(
              Integer.parseInt(s0.substring(k + 2, k + 10), 16)))
            k += 10
          case other => b.append('\\').append(other); k += 2
        }
      } else { b.append(ch); k += 1 }
    }
    b.toString
  }

  private[rdf] def term(t: String): Bgp.Term =
    if (t.startsWith("?")) Bgp.Var(t.substring(1))
    else if (t.startsWith("<")) Bgp.Const(t.substring(1, t.length - 1))
    else if (t.startsWith("\"")) Bgp.Const(unquote(t))
    else if (t.nonEmpty && t.forall(c => c.isDigit)) Bgp.Const(t)
    else throw new IllegalArgumentException(s"expected term, got '$t'")

  /** Optional typed-literal suffix after a quoted token: `@tag`
    * (language) or `^^<iri>` (datatype; the tokenizer splits `^^` into
    * two caret tokens, and a prefixed datatype like `xsd:integer` is
    * already IRI-expanded by [[applyPrefixes]]). Returns
    * `(lang, datatype)` — at most one is set, per RDF's literal
    * taxonomy. */
  private def literalSuffix(p: P): (Option[String], Option[String]) =
    if (p.peek.startsWith("@") && p.peek.length > 1)
      (Some(p.eat().substring(1)), None)
    else if (p.is("^") && p.peek2 == "^") {
      p.eat(); p.eat()
      val dt = p.eat()
      require(dt.startsWith("<"),
        s"a datatype must be an IRI (after prefix expansion), got '$dt'")
      (None, Some(dt.substring(1, dt.length - 1)))
    } else (None, None)

  /** Compile a parsed literal suffix into the quad-scan term predicate
    * for a constant-object pattern: `"x"@en` matches only the
    * lang-tagged literal (tags compare case-insensitively per BCP 47),
    * `"1"^^<dt>` only the dt-typed literal. A bare `"x"` keeps the
    * engine's documented lenient value-match. */
  private def suffixFilter(lang: Option[String], dt: Option[String])
      : Option[Column] = (lang, dt) match {
    case (Some(tag), _) => Some(
      col("objectKind") === graft.model.TermKind.Literal &&
        lower(col("lang")) === tag.toLowerCase)
    case (_, Some(d)) => Some(
      col("objectKind") === graft.model.TermKind.Literal &&
        col("datatype") === d)
    case _ => None
  }

  /** Property-path grammar over the predicate position:
    * `path := seq ('|' seq)*; seq := elt ('/' elt)*;
    * elt := '^'? primary ('+'|'*'|'?'|'{'n(','m)?'}')?;
    * primary := <iri> | 'a' | '(' path ')' | '!' negatedSet;
    * negatedSet := setElt | '(' setElt ('|' setElt)* ')';
    * setElt := '^'? (<iri> | 'a')`.
    * Returns Left(plain predicate IRI) for the trivial single-step case
    * so it compiles to a [[Bgp.Pattern]] (scan-filter pushdown), else
    * Right(compound path). */
  private def path(p: P): Either[String, PropertyPath.Path] = {
    import PropertyPath._
    def stepIri(): String = {
      val t = p.eat()
      if (t == "a") RdfTypeIri
      else {
        require(t.startsWith("<"),
          s"predicate must be an IRI, a variable, or a path, got '$t'")
        t.substring(1, t.length - 1)
      }
    }
    // SPARQL 1.1 §9.1 negated property set: `!setElt` or
    // `!(setElt|setElt|…)` where a `^` member negates the REVERSE
    // direction. Compiles to PropertyPath.Negated — a scan-level NOT IN
    // per direction, never an enumeration of the predicate vocabulary.
    def negatedSet(): Path = {
      val fwd = Seq.newBuilder[String]
      val inv = Seq.newBuilder[String]
      var sawFwd = false; var sawInv = false
      def setElt(): Unit = {
        val isInv = p.is("^")
        if (isInv) p.eat()
        val iri = stepIri()
        if (isInv) { inv += iri; sawInv = true }
        else { fwd += iri; sawFwd = true }
      }
      if (p.is("(")) {
        p.eat(); setElt()
        while (p.is("|")) { p.eat(); setElt() }
        p.expect(")")
      } else setElt()
      Negated(if (sawFwd) Some(fwd.result()) else None,
        if (sawInv) Some(inv.result()) else None)
    }
    def quantInt(): Int = {
      val t = p.eat()
      require(t.nonEmpty && t.forall(_.isDigit),
        s"path quantifier bound must be a non-negative integer, got '$t'")
      t.toInt
    }
    def primary(): Path =
      if (p.is("(")) { p.eat(); val inner = alt(); p.expect(")"); inner }
      else if (p.is("!")) { p.eat(); negatedSet() }
      else Step(stepIri())
    def elt(): Path = {
      val inv = p.is("^")
      if (inv) p.eat()
      var e = primary()
      if (p.is("+")) { p.eat(); e = OneOrMore(e) }
      else if (p.is("*")) { p.eat(); e = ZeroOrMore(e) }
      else if (p.is("?")) { p.eat(); e = ZeroOrOne(e) }
      else if (p.is("{")) {
        // `p{n}` / `p{n,m}` / `p{,m}` — the bounded-repetition store
        // extension (Jena/Virtuoso/Stardog); `{n,}` (unbounded above)
        // is rejected: use `p{n,k}/p*` for that shape.
        p.eat()
        val mn = if (p.is(",")) 0 else quantInt()
        val mx = if (p.is(",")) { p.eat(); quantInt() } else mn
        p.expect("}")
        e = Repeat(e, mn, mx)
      }
      if (inv) Inverse(e) else e
    }
    def seq(): Path = {
      var e = elt()
      while (p.is("/")) { p.eat(); e = Then(e, elt()) }
      e
    }
    def alt(): Path = {
      var e = seq()
      while (p.is("|")) { p.eat(); e = Alternative(e, seq()) }
      e
    }
    alt() match {
      case Step(iri) => Left(iri)
      case compound => Right(compound)
    }
  }

  /** One group's triple-ish statements: plain patterns, variable
    * predicates, compound paths, property-function calls (object and/or
    * subject lists), `;` predicate-object lists, and `[ … ]` anonymous
    * blank-node groups (the Turtle-in-SPARQL syntax the reference's
    * golden queries use, `etl-queries.md:47-58`). Appends into the
    * supplied builders. */
  private def tripleish(p: P, g: Option[Bgp.Term],
      pats: scala.collection.mutable.Builder[Bgp.Pattern, Seq[Bgp.Pattern]],
      paths: scala.collection.mutable.Builder[PathPattern, Seq[PathPattern]],
      fns: scala.collection.mutable.Builder[PropFnCall, Seq[PropFnCall]])
      : Unit = {

    // object position: a term, or `[ predObjList ]` binding a fresh
    // anonymous variable (SPARQL treats a bnode label as a variable that
    // cannot be projected — a fresh name no user query can collide with).
    // A constant literal object may carry `@tag`/`^^<dt>` — compiled to
    // a scan-level term predicate on the pattern (suffixFilter), so the
    // typed match pushes into the store scan like every other constant.
    def objTerm(): (Bgp.Term, Option[Column]) =
      if (p.is("[")) {
        p.eat()
        val anon = Bgp.Var(p.freshAnon())
        predObjList(anon)
        p.expect("]")
        (anon, None)
      } else {
        val tok = p.eat()
        val t = term(tok)
        if (tok.startsWith("\"")) {
          val (lang, dt) = literalSuffix(p)
          (t, suffixFilter(lang, dt))
        } else (t, None)
      }

    // `pred obj (';' pred obj)*` with a fixed subject
    def predObjList(subj: Bgp.Term): Unit = {
      var more = true
      while (more) {
        val predTok = p.peek
        if (predTok.startsWith("?")) {
          p.eat()
          val pv = Bgp.Var(predTok.substring(1))
          val (o, sf) = objTerm()
          pats += Bgp.Pattern(subj, pv, o, g, sf)
          // `,` object list (§4.2.2): same subject AND predicate
          while (p.is(",")) {
            p.eat()
            val (o2, sf2) = objTerm()
            pats += Bgp.Pattern(subj, pv, o2, g, sf2)
          }
        } else {
          val parsed = path(p)
          // an argument list in object position ⇒ property function
          if (p.is("(")) {
            p.eat()
            val b = Seq.newBuilder[Bgp.Term]
            while (!p.is(")")) b += term(p.eat())
            p.expect(")")
            val fnIri = parsed match {
              case Left(iri) => iri
              case Right(_) => throw new IllegalArgumentException(
                "a property-function predicate must be a plain IRI")
            }
            fns += PropFnCall(Seq(subj), fnIri, b.result(), g)
          } else parsed match {
            case Left(iri) =>
              val (o, sf) = objTerm()
              pats += Bgp.Pattern(subj, Bgp.Const(iri), o, g, sf)
              while (p.is(",")) { // `,` object list (§4.2.2)
                p.eat()
                val (o2, sf2) = objTerm()
                pats += Bgp.Pattern(subj, Bgp.Const(iri), o2, g, sf2)
              }
            case Right(cp) =>
              paths += PathPattern(subj, cp, term(p.eat()), g)
              while (p.is(",")) {
                p.eat()
                paths += PathPattern(subj, cp, term(p.eat()), g)
              }
          }
        }
        if (p.is(";")) p.eat() else more = false
      }
    }

    var more = true
    while (more) {
      // subject: a term or an RDF list (property-function result vars)
      if (p.is("(")) {
        p.eat()
        val b = Seq.newBuilder[Bgp.Term]
        while (!p.is(")")) b += term(p.eat())
        p.expect(")")
        val subjList = b.result()
        val predTok = p.eat()
        require(predTok.startsWith("<"),
          s"a list subject needs a property-function IRI, got '$predTok'")
        p.expect("(")
        val args = Seq.newBuilder[Bgp.Term]
        while (!p.is(")")) args += term(p.eat())
        p.expect(")")
        fns += PropFnCall(subjList,
          predTok.substring(1, predTok.length - 1), args.result(), g)
      } else predObjList(term(p.eat()))
      if (p.is(".")) { p.eat(); more = !p.is("}") && !kw(p) }
      else more = false
    }
  }

  /** `expr := mul (('+'|'-') mul)*`; `mul := atom (('*'|'/') atom)*`
    * (each level left-assoc — XPath/SPARQL §17.3 precedence, r14);
    * `atom := ?v | "lit" | <iri> | int | FN(args) | '(' expr ')'`. */
  private def bindExpr(p: P): BindExpr = {
    def atom(): BindExpr =
      if (p.is("(")) { p.eat(); val e = full(); p.expect(")"); e }
      // unary minus (§17.3 UnaryExpression): a standalone '-' token
      // before an atom; the glued form ('-?v' as one token) is handled
      // in the leaf branch below
      else if (p.is("-")) { p.eat(); BArith("-", BNum(0), atom()) }
      else if (p.is("IF")) {
        // IF(expr op expr, then, else) — the condition grammar is the
        // expression-FILTER comparison, reusing its compiler
        p.eat(); p.expect("(")
        val l = full()
        val op = p.eat()
        require(Seq("=", "!=", "<", ">", "<=", ">=").contains(op),
          s"IF needs a comparison condition, got operator '$op'")
        val r = full()
        p.expect(",")
        val t = full()
        p.expect(",")
        val f = full()
        p.expect(")")
        BIf(l, op, r, t, f)
      } else if (BindFns.exists(p.is) ||
          (p.peek.startsWith("<") && p.peek2 == "(")) {
        // a bare name from BindFns, or an IRI-named extension function
        // (prefixed names are already IRI-expanded) — GeoSPARQL's geof:
        // vocabulary arrives this way
        val t = p.eat()
        val fn =
          if (t.startsWith("<")) t.substring(1, t.length - 1)
          else t.toUpperCase
        p.expect("(")
        val args = Seq.newBuilder[BindExpr]
        // zero-arg calls: UUID(), STRUUID(), NOW(), BNODE()
        if (!p.is(")")) {
          args += full()
          while (p.is(",")) { p.eat(); args += full() }
        }
        p.expect(")")
        BCall(fn, args.result())
      } else {
        val tok = p.eat()
        if (tok.startsWith("?")) BVar(tok.substring(1))
        else if (tok.startsWith("-?"))
          BArith("-", BNum(0), BVar(tok.substring(2)))
        else if (tok.startsWith("\"")) {
          // expressions operate on the lexical form — a typed-literal
          // suffix ("…"^^geo:wktLiteral / @tag) parses and drops
          literalSuffix(p)
          BStr(unquote(tok))
        } else if (tok.startsWith("<"))
          BStr(tok.substring(1, tok.length - 1))
        else BNum(tok.toDouble)
      }
    // XPath/SPARQL §17.3 operator precedence (r14, W3C sample caught a
    // flat left-to-right chain evaluating ?v + 2 * 3 as (?v+2)*3):
    // multiplicative binds tighter than additive, each level
    // left-associative
    def mul(): BindExpr = {
      var e = atom()
      while (p.is("*") || p.is("/")) {
        val op = p.eat()
        e = BArith(op, e, atom())
      }
      e
    }
    def full(): BindExpr = {
      var e = mul()
      while (p.is("+") || p.is("-")) {
        val op = p.eat()
        e = BArith(op, e, mul())
      }
      e
    }
    full()
  }

  /** Injectable clock for NOW() — SPARQL §17.4.5.1 pins one instant per
    * query execution; the engine additionally lets callers PIN the
    * instant (tests, reproducible batch runs). Thread-local because the
    * value is captured at plan-build time on the calling thread. */
  private val clockTl = new ThreadLocal[String]
  def withClock[T](isoInstant: String)(f: => T): T = {
    clockTl.set(isoInstant)
    try f finally clockTl.remove()
  }
  private def clockNow(): String =
    Option(clockTl.get()).getOrElse(java.time.Instant.now().toString)

  /** (kind, lang, datatype) of a constructed term. */
  private type CtorMeta = (String, Option[String], Option[String])

  /** Term metadata a constructor BIND stamps on its variable — the
    * constructed term's kind/lang/datatype where statically known.
    * CONSTRUCT templates consult this so a BIND(STRDT(…)) object
    * round-trips the N-Quads sink with its datatype. */
  private def ctorMeta(e: BindExpr): Option[CtorMeta] =
    e match {
      case BCall("STRLANG", Seq(_, BStr(tag))) =>
        Some((graft.model.TermKind.Literal, Some(tag), None))
      case BCall("STRDT", Seq(_, BStr(dt))) =>
        Some((graft.model.TermKind.Literal, None, Some(dt)))
      case BCall("IRI" | "URI", _) =>
        Some((graft.model.TermKind.Iri, None, None))
      // UUID() is an IRI-valued constructor (urn:uuid:…), §17.4.5.2
      case BCall("UUID", _) =>
        Some((graft.model.TermKind.Iri, None, None))
      // NOW() yields an xsd:dateTime literal (§17.4.5.1)
      case BCall("NOW", _) =>
        Some((graft.model.TermKind.Literal, None,
          Some("http://www.w3.org/2001/XMLSchema#dateTime")))
      case BCall("BNODE", _) =>
        Some((graft.model.TermKind.BNode, None, None))
      case _ => None
    }

  /** Rewrite term-accessor calls over CONSTRUCTOR-bound variables to
    * their statically-known answers (r14): `BIND(STRDT("1", xsd:int) AS
    * ?x) BIND(DATATYPE(?x) AS ?d)` folds to the constant datatype IRI,
    * because [[ctorMeta]] knows the constructed term's kind/lang/
    * datatype at parse time. `meta` maps each prior expression-BIND
    * variable to its ctor metadata. Accessors over PATTERN-bound
    * variables stay unresolved and fail loudly in [[bindCol]] — their
    * term metadata lives on the quad relation at the scan (TermTest). */
  private def resolveAccessors(e: BindExpr,
      meta: Map[String, CtorMeta]): BindExpr = {
    import graft.model.TermKind
    def bool(b: Boolean) = BStr(if (b) "true" else "false")
    def rec(e: BindExpr): BindExpr = e match {
      case BCall("LANG", Seq(BVar(n))) if meta.contains(n) &&
          meta(n)._1 == TermKind.Literal =>
        // §17.4.2.3: lang of a plain/typed literal is ""
        BStr(meta(n)._2.getOrElse(""))
      case BCall("DATATYPE", Seq(BVar(n))) if meta.contains(n) &&
          meta(n)._1 == TermKind.Literal =>
        // §17.4.2.7: lang-tagged → rdf:langString, plain → xsd:string
        BStr(meta(n) match {
          case (_, _, Some(dt)) => dt
          case (_, Some(_), None) =>
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
          case _ => "http://www.w3.org/2001/XMLSchema#string"
        })
      case BCall("ISIRI" | "ISURI", Seq(BVar(n))) if meta.contains(n) =>
        bool(meta(n)._1 == TermKind.Iri)
      case BCall("ISBLANK", Seq(BVar(n))) if meta.contains(n) =>
        bool(meta(n)._1 == TermKind.BNode)
      case BCall("ISLITERAL", Seq(BVar(n))) if meta.contains(n) =>
        bool(meta(n)._1 == TermKind.Literal)
      case BCall(f, args) => BCall(f, args.map(rec))
      case BArith(op, l, r) => BArith(op, rec(l), rec(r))
      case BIf(l, op, r, t, fv) =>
        BIf(rec(l), op, rec(r), rec(t), rec(fv))
      case other => other
    }
    rec(e)
  }

  /** Variables a BIND/FILTER expression references (connectivity edges
    * for the cartesian guard — r12). */
  private def bindExprVars(e: BindExpr): Set[String] = e match {
    case BVar(n) => Set(n)
    case BCall(_, args) => args.flatMap(bindExprVars).toSet
    case BArith(_, l, r) => bindExprVars(l) ++ bindExprVars(r)
    case BIf(l, _, r, t, f) =>
      Seq(l, r, t, f).flatMap(bindExprVars).toSet
    case _ => Set.empty
  }

  /** Compile a BIND expression onto the solution's binding columns. */
  private def bindCol(e: BindExpr): Column = e match {
    case BVar(n) => col(n)
    case BStr(v) => lit(v)
    case BNum(v) => lit(v)
    case BCall("CONCAT", args) =>
      concat(args.map(a => bindCol(a).cast("string")): _*)
    case BCall("STR", Seq(a)) => bindCol(a).cast("string")
    case BCall("STRLEN", Seq(a)) =>
      length(bindCol(a).cast("string")).cast("long")
    case BCall("UCASE", Seq(a)) => upper(bindCol(a).cast("string"))
    case BCall("LCASE", Seq(a)) => lower(bindCol(a).cast("string"))
    case BCall("SUBSTR", Seq(a, st)) =>
      val s = bindCol(a).cast("string")
      s.substr(bindCol(st).cast("int"), length(s))
    case BCall("SUBSTR", Seq(a, st, ln)) =>
      bindCol(a).cast("string")
        .substr(bindCol(st).cast("int"), bindCol(ln).cast("int"))
    case BCall("REPLACE", Seq(a, pat, rep)) =>
      regexp_replace(bindCol(a).cast("string"),
        bindCol(pat).cast("string"), bindCol(rep).cast("string"))
    // SPARQL 1.1 §17.4.3.13/.14: substring before/after the FIRST
    // occurrence of the delimiter; no occurrence → "" per spec
    case BCall("STRBEFORE", Seq(a, b)) =>
      val (s, d) = (bindCol(a).cast("string"), bindCol(b).cast("string"))
      when(instr(s, d) > 0, substring(s, lit(1), instr(s, d) - 1))
        .otherwise("")
    case BCall("STRAFTER", Seq(a, b)) =>
      val (s, d) = (bindCol(a).cast("string"), bindCol(b).cast("string"))
      when(instr(s, d) > 0,
        substr(s, instr(s, d) + length(d), length(s))).otherwise("")
    // §17.4.2.8: percent-encode everything but RFC 3986 unreserved.
    // url_encode is java.net.URLEncoder form-encoding, which deviates
    // three ways (ADVICE r9): space → '+' (re-map to %20), '~' → %7E
    // (unreserved, must stay raw), '*' left raw (reserved, must become
    // %2A)
    case BCall("ENCODE_FOR_URI", Seq(a)) =>
      regexp_replace(regexp_replace(regexp_replace(
        url_encode(bindCol(a).cast("string")),
        "\\+", "%20"), "%7E", "~"), "\\*", "%2A")
    // §17.4.4 numerics — CEIL/FLOOR/ROUND surface as integer lexical
    // forms (the engine's solution columns are strings; "7", not "7.0")
    case BCall("ABS", Seq(a)) => abs(bindCol(a).cast("double"))
    case BCall("CEIL", Seq(a)) =>
      ceil(bindCol(a).cast("double")).cast("long")
    case BCall("FLOOR", Seq(a)) =>
      floor(bindCol(a).cast("double")).cast("long")
    // §17.4.4.1 ROUND ties toward +∞ (ROUND(-2.5) = -2), unlike Spark
    // round's HALF_UP-away-from-zero (ADVICE r9) — floor(x + 0.5)
    case BCall("ROUND", Seq(a)) =>
      floor(bindCol(a).cast("double") + lit(0.5)).cast("long")
    // §17.4.6 hash functions — lowercase hex, same as every store
    case BCall("MD5", Seq(a)) => md5(bindCol(a).cast("string"))
    case BCall("SHA1", Seq(a)) => sha1(bindCol(a).cast("string"))
    case BCall("SHA256", Seq(a)) => sha2(bindCol(a).cast("string"), 256)
    case BCall("SHA384", Seq(a)) => sha2(bindCol(a).cast("string"), 384)
    case BCall("SHA512", Seq(a)) => sha2(bindCol(a).cast("string"), 512)
    // term accessors in BIND position resolve statically against the
    // ctor metadata of a PRIOR constructor BIND (resolveAccessors);
    // reaching bindCol unresolved means the argument is pattern-bound —
    // its term metadata lives on the quad relation at the scan, which
    // the FILTER TermTest path reads; reject loudly with the fix
    case BCall(f @ ("LANG" | "DATATYPE" | "ISIRI" | "ISURI" |
        "ISBLANK" | "ISLITERAL"), Seq(_)) =>
      throw new IllegalArgumentException(
        s"$f(…) in BIND position requires its argument to be bound by " +
          "a term constructor (STRLANG/STRDT/IRI/BNODE/NOW) in a prior " +
          "BIND — for pattern-bound variables use FILTER, where term " +
          "accessors compile to pattern-scan predicates")
    // §17.4.2 term constructors — the VALUE column is the term's
    // lexical form; kind/lang/datatype ride separately via [[ctorMeta]]
    // (stamped onto CONSTRUCT templates, where term identity is
    // observable). STRLANG/STRDT require a CONSTANT tag/datatype — the
    // only forms the reference's data uses (lang-tagged names,
    // etl_pndb.py:240,314; 7 custom datatypes, cam/etl/namespaces.py).
    case BCall("STRLANG", Seq(a, BStr(_))) => bindCol(a).cast("string")
    case BCall("STRDT", Seq(a, BStr(_))) => bindCol(a).cast("string")
    case BCall("STRLANG" | "STRDT", args) if args.sizeIs == 2 =>
      throw new IllegalArgumentException(
        "STRLANG/STRDT need a constant tag/datatype second argument")
    case BCall("IRI" | "URI", Seq(a)) => bindCol(a).cast("string")
    // BNODE(): a fresh label per solution; BNODE(str): the same label
    // for the same lexical argument within the query (§17.4.2.9's
    // within-result-set stability, made deterministic via hashing)
    case BCall("BNODE", Nil) => expr("uuid()")
    case BCall("BNODE", Seq(a)) => md5(bindCol(a).cast("string"))
    // fresh per call per solution — Spark's uuid() is RFC 4122 v4,
    // evaluated per row (nondeterministic expression, never collapsed)
    case BCall("UUID", Nil) => concat(lit("urn:uuid:"), expr("uuid()"))
    case BCall("STRUUID", Nil) => expr("uuid()")
    // xsd:dateTime lexical form from the injectable clock — every call
    // in one query execution sees the SAME instant (§17.4.5.1)
    case BCall("NOW", Nil) => lit(clockNow())
    // §17.4.5 date/time accessors, computed LEXICALLY over the
    // xsd:dateTime/xsd:date form (the engine's binding columns carry
    // lexical values; field extraction by position is TZ-free and
    // engine-agnostic — both sides of the oracle read the same text).
    // SECONDS is xsd:decimal (fraction kept); TZ is the §17.4.5.8
    // string form ("Z", "+05:30", "" when absent).
    case BCall("YEAR", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "^(-?\\d{4,})", 1).cast("int")
    case BCall("MONTH", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "^-?\\d{4,}-(\\d{2})", 1).cast("int")
    case BCall("DAY", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "^-?\\d{4,}-\\d{2}-(\\d{2})", 1).cast("int")
    case BCall("HOURS", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"), "T(\\d{2})", 1).cast("int")
    case BCall("MINUTES", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "T\\d{2}:(\\d{2})", 1).cast("int")
    case BCall("SECONDS", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", 1).cast("double")
    case BCall("TZ", Seq(a)) =>
      regexp_extract(bindCol(a).cast("string"),
        "(Z|[+-]\\d{2}:\\d{2})$", 1)
    // GeoSPARQL geof:distance over POINT wktLiterals (GeoFunctions);
    // r11: a constant LINESTRING operand takes the min-over-segments
    // point-to-polyline distance — the reference's road-match metric
    case BCall(GeoFunctions.DistanceFn, Seq(g1, BStr(line), BStr(units)))
        if line.toUpperCase.startsWith("LINESTRING") =>
      GeoFunctions.distanceToLineConst(bindCol(g1), line, units)
    case BCall(GeoFunctions.DistanceFn, Seq(BStr(line), g2, BStr(units)))
        if line.toUpperCase.startsWith("LINESTRING") =>
      GeoFunctions.distanceToLineConst(bindCol(g2), line, units)
    case BCall(GeoFunctions.DistanceFn, Seq(g1, g2, BStr(units))) =>
      GeoFunctions.distance(bindCol(g1), bindCol(g2), units)
    // GeoSPARQL non-topological (constructive) functions (r12):
    // geof:envelope/boundary/convexHull/getSRID and the even-odd
    // set ops — native expressions, constant operands
    // fold at optimization time (GeomConstruct/GeomOverlay)
    case BCall(GeoFunctions.EnvelopeFn, Seq(g)) =>
      GeoFunctions.envelope(bindCol(g))
    case BCall(GeoFunctions.BoundaryFn, Seq(g)) =>
      GeoFunctions.boundaryGeom(bindCol(g))
    case BCall(GeoFunctions.ConvexHullFn, Seq(g)) =>
      GeoFunctions.convexHull(bindCol(g))
    case BCall(GeoFunctions.GetSridFn, Seq(g)) =>
      GeoFunctions.getSrid(bindCol(g))
    case BCall(GeoFunctions.IntersectionFn, Seq(a, b)) =>
      GeoFunctions.intersection(bindCol(a), bindCol(b))
    case BCall(GeoFunctions.UnionFn, Seq(a, b)) =>
      GeoFunctions.unionGeom(bindCol(a), bindCol(b))
    case BCall(GeoFunctions.DifferenceFn, Seq(a, b)) =>
      GeoFunctions.differenceGeom(bindCol(a), bindCol(b))
    case BCall(GeoFunctions.SymDifferenceFn, Seq(a, b)) =>
      GeoFunctions.symDifference(bindCol(a), bindCol(b))
    // geof:buffer(g, r, units) — planar dilation in uom:degree (the
    // coordinates' own unit under CRS84); uom:metre (r14)
    // routes through the local equirectangular projection at the
    // geometry's own latitude
    case BCall(GeoFunctions.BufferFn, Seq(g, r, BStr(units))) =>
      units match {
        case u if u == GeoFunctions.UomNs + "degree" =>
          GeoFunctions.bufferGeom(bindCol(g), bindCol(r))
        case u if u == GeoFunctions.UomNs + "metre" ||
            u == GeoFunctions.UomNs + "meter" =>
          GeoFunctions.bufferGeomMetres(bindCol(g), bindCol(r))
        case other => throw new IllegalArgumentException(
          s"geof:buffer units must be <${GeoFunctions.UomNs}degree> " +
            s"or <${GeoFunctions.UomNs}metre>, got <$other>")
      }
    // COALESCE over unbound (null) bindings — OPTIONAL-group variables
    // are the canonical argument; null-skipping is exactly Spark's
    case BCall("COALESCE", args) if args.nonEmpty =>
      coalesce(args.map(a => bindCol(a).cast("string")): _*)
    case BCall(f, args) => throw new IllegalArgumentException(
      s"$f does not take ${args.length} argument(s)")
    case BIf(l, op, r, t, f) =>
      when(exprCmpCol(l, op, r), bindCol(t).cast("string"))
        .otherwise(bindCol(f).cast("string"))
    case BArith(op, l, r) =>
      val (a, b) = (bindCol(l).cast("double"), bindCol(r).cast("double"))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
      }
  }

  /** Compile a bare boolean FILTER call — the GeoSPARQL simple-feature
    * predicates. `sfContains(poly, point)` is `sfWithin` with the
    * arguments swapped (OGC simple-feature relation inverses). */
  private def bindBool(e: BindExpr): Column = e match {
    // constant polygons (the FILTER norm) parse once on the driver;
    // r11: MULTIPOLYGON and multi-ring (holed) constants are first-class
    case BCall(GeoFunctions.SfWithinFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.withinConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfContainsFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.withinConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfWithinFn, Seq(g1, g2)) =>
      GeoFunctions.within(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfContainsFn, Seq(g1, g2)) =>
      GeoFunctions.within(bindCol(g2), bindCol(g1))
    // sfIntersects/sfDisjoint/sfTouches/sfOverlaps are symmetric — the
    // constant polygon may sit in either argument (the reference's
    // ST_Intersects edge, cam/tables/lf_address.py:80, writes
    // area-first)
    case BCall(GeoFunctions.SfIntersectsFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.intersectsConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfIntersectsFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.intersectsConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfDisjointFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.disjointConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfDisjointFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.disjointConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfTouchesFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.touchesConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfTouchesFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.touchesConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfOverlapsFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.overlapsConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfOverlapsFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.overlapsConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfCrossesFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.crossesConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfCrossesFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.crossesConst(bindCol(g2), poly)
    case BCall(GeoFunctions.SfEqualsFn, Seq(g1, BStr(poly)))
        if isPolyConst(poly) =>
      GeoFunctions.equalsConst(bindCol(g1), poly)
    case BCall(GeoFunctions.SfEqualsFn, Seq(BStr(poly), g2))
        if isPolyConst(poly) =>
      GeoFunctions.equalsConst(bindCol(g2), poly)
    // geometry-column × geometry-column forms (r12, VERDICT r11
    // Missing #2): the second argument must be the polygon side (for
    // the symmetric relations a polygon-first write swaps freely, so
    // one orientation serves both)
    case BCall(GeoFunctions.SfIntersectsFn, Seq(g1, g2)) =>
      GeoFunctions.intersects(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfDisjointFn, Seq(g1, g2)) =>
      GeoFunctions.disjoint(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfTouchesFn, Seq(g1, g2)) =>
      GeoFunctions.touches(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfOverlapsFn, Seq(g1, g2)) =>
      GeoFunctions.overlaps(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfCrossesFn, Seq(g1, g2)) =>
      GeoFunctions.crosses(bindCol(g1), bindCol(g2))
    case BCall(GeoFunctions.SfEqualsFn, Seq(g1, g2)) =>
      GeoFunctions.equalsGeom(bindCol(g1), bindCol(g2))
    case other => throw new IllegalArgumentException(
      s"not a boolean FILTER function: $other (supported: " +
        s"<${GeoFunctions.SfWithinFn}>, <${GeoFunctions.SfContainsFn}>, " +
        s"<${GeoFunctions.SfIntersectsFn}>, " +
        s"<${GeoFunctions.SfDisjointFn}>, <${GeoFunctions.SfTouchesFn}>, " +
        s"<${GeoFunctions.SfOverlapsFn}>, <${GeoFunctions.SfCrossesFn}>, " +
        s"<${GeoFunctions.SfEqualsFn}>)")
  }

  /** A constant argument a geof: simple-feature relation can parse on
    * the driver: POLYGON (any ring count) or MULTIPOLYGON. */
  private def isPolyConst(poly: String): Boolean = {
    val u = poly.toUpperCase
    u.startsWith("POLYGON") || u.startsWith("MULTIPOLYGON")
  }

  /** Compile a `FILTER(expr op expr)` comparison: numeric (double) when
    * either side is arithmetic/numeric-typed, lexical (string)
    * otherwise — SPARQL's operator-mapping dichotomy over this engine's
    * string-valued binding columns. */
  private def exprCmpCol(l: BindExpr, op: String, r: BindExpr): Column = {
    def stringy(e: BindExpr): Option[Boolean] = e match {
      case BStr(_) => Some(true)
      case BNum(_) => Some(false)
      case BArith(_, _, _) => Some(false)
      case BCall("STRLEN", _) => Some(false)
      case BCall(f, _)
        if Seq("ABS", "CEIL", "FLOOR", "ROUND",
          GeoFunctions.DistanceFn).contains(f) => Some(false)
      case BCall(_, _) => Some(true)
      case BIf(_, _, _, _, _) => Some(true)
      case BVar(_) => None
    }
    val isStr = (stringy(l), stringy(r)) match {
      case (Some(a), Some(b)) => a && b
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => true // two bare vars: lexical, like CmpVar
    }
    val t = if (isStr) "string" else "double"
    cmp(bindCol(l).cast(t), op, bindCol(r).cast(t))
  }

  private def kw(p: P): Boolean =
    p.is("OPTIONAL") || p.is("MINUS") || p.is("FILTER") ||
      p.is("GRAPH") || p.is("VALUES") || p.is("BIND") ||
      p.is("SERVICE") ||
      p.is("{") // sub-select or UNION group

  /** Plain-pattern-only triples (OPTIONAL / MINUS / CONSTRUCT-WHERE
    * groups keep the r7 grammar: constant or variable predicates, no
    * paths or functions). */
  private def triples(p: P, g: Option[Bgp.Term]): Seq[Bgp.Pattern] = {
    val pats = Seq.newBuilder[Bgp.Pattern]
    val paths = Seq.newBuilder[PathPattern]
    val fns = Seq.newBuilder[PropFnCall]
    var more = true
    while (more) {
      tripleish(p, g, pats, paths, fns)
      more = !p.is("}") && !kw(p) && !p.ts.isEmpty
    }
    require(paths.result().isEmpty && fns.result().isEmpty,
      "property paths / functions are only supported in the required " +
        "group, not in OPTIONAL/MINUS")
    pats.result()
  }

  /** CONSTRUCT template triples: object kind follows the token form —
    * `<iri>` builds an IRI term, a quoted literal builds a literal, and
    * a VARIABLE instantiates as a literal (the flatten-a-value case;
    * use the programmatic [[Bgp.construct]] for IRI-kinded variables). */
  private def templates(p: P): Seq[Bgp.Template] = {
    val out = Seq.newBuilder[Bgp.Template]
    var more = true
    while (more) {
      val s = term(p.eat())
      // `;` predicate lists share the subject — the reference's meili
      // indexer template is written exactly this way
      // (meili/index_addr.py:43-56)
      var moreProps = true
      while (moreProps) {
        val pr0 = p.eat()
        // `a` is rdf:type in predicate position, in templates as in
        // patterns (the reference's meili CONSTRUCT template uses it)
        val pr =
          if (pr0 == "a") "<" + RdfTypeIri + ">" else pr0
        require(pr.startsWith("<"),
          s"template predicate must be a constant IRI, got '$pr'")
        val oTok = p.eat()
        val (o, kind) =
          if (oTok.startsWith("?"))
            (Bgp.Var(oTok.substring(1)), graft.model.TermKind.Literal)
          else if (oTok.startsWith("<"))
            (Bgp.Const(oTok.substring(1, oTok.length - 1)),
              graft.model.TermKind.Iri)
          else if (oTok.startsWith("\""))
            (Bgp.Const(unquote(oTok)), graft.model.TermKind.Literal)
          else throw new IllegalArgumentException(
            s"expected template object term, got '$oTok'")
        // constant-literal objects may carry @tag / ^^<dt> — the built
        // quad gets the term metadata, so CONSTRUCT output keeps full
        // fidelity through the N-Quads sink
        val (lang, dt) =
          if (oTok.startsWith("\"")) literalSuffix(p) else (None, None)
        out += Bgp.Template(s, pr.substring(1, pr.length - 1), o, kind,
          lang = lang, datatype = dt)
        if (p.is(";")) {
          p.eat()
          moreProps = !p.is(".") && !p.is("}") // trailing `;` is legal
        } else moreProps = false
      }
      if (p.is(".")) { p.eat(); more = !p.is("}") }
      else more = false
    }
    out.result()
  }

  def parse(q: String): Query = parsing {
    val p = new P(applyPrefixes(tokenize(q)))
    val parsed = parseQuery(p)
    require(p.ts.isEmpty, s"trailing tokens: ${p.ts.mkString(" ")}")
    parsed
  }

  /** A malformed query or update text. Every failure inside a parse
    * step surfaces as this one type — SPARQL 1.1 Protocol §2.1.4's 400 —
    * while failures after parsing (an unregistered SERVICE, a failed
    * job) keep their own types. */
  final class ParseError(message: String, cause: Throwable)
      extends IllegalArgumentException(message, cause)

  /** Run a parse step, re-raising its failures as [[ParseError]]. The
    * recursive-descent grammar nests one call per `(` or `{`, so a deep
    * enough text overflows the stack; that is a malformed query too. */
  private[rdf] def parsing[T](step: => T): T =
    try step catch {
      case e: ParseError => throw e
      case e: StackOverflowError =>
        throw new ParseError("query nests too deeply to parse", e)
      case scala.util.control.NonFatal(e) =>
        throw new ParseError(Option(e.getMessage).getOrElse(e.toString), e)
    }

  /** Precedence-correct arithmetic over set functions, projected
    * aliases and numbers (r11): `term = AGG([DISTINCT] ?v|*) | ?alias
    * | number | '(' expr ')'`; mul-chains bind tighter than
    * add-chains. Shared by HAVING constraints and SELECT-clause
    * aggregate expressions (§11.1 projection expressions). */
  private def hTerm(p: P): HExpr = {
    if (p.peek.startsWith("?")) HVar(p.eat().substring(1))
    else if (p.is("(")) { p.eat(); val e = hAdd(p); p.expect(")"); e }
    else if (p.peek.headOption.exists(c => c.isDigit || c == '-') ||
      p.peek.headOption.contains('.')) HNum(p.eat().toDouble)
    else {
      val f = p.eat().toUpperCase
      require(Seq("COUNT", "SUM", "MIN", "MAX", "AVG").contains(f),
        s"unsupported aggregate '$f' in an aggregate expression")
      p.expect("(")
      val dist = { val d = p.is("DISTINCT"); if (d) p.eat(); d }
      val arg = p.eat()
      require(arg.startsWith("?") || arg == "*",
        s"aggregate needs a variable or *, got '$arg'")
      p.expect(")")
      HAgg(f, if (arg == "*") "*" else arg.substring(1), dist)
    }
  }
  private def hMul(p: P): HExpr = {
    var l = hTerm(p)
    while (p.is("*") || p.is("/")) { val o = p.eat()
      l = HArith(o, l, hTerm(p)) }
    l
  }
  private def hAdd(p: P): HExpr = {
    var l = hMul(p)
    while (p.is("+") || p.is("-")) { val o = p.eat()
      l = HArith(o, l, hMul(p)) }
    l
  }

  /** One `FILTER( … )` clause, cursor on its `(`, in disjunctive normal
    * form: a disjunction of `&&` groups of [[FilterAtom]]s (mixed
    * `&&`/`||` supported, `&&` binding tighter). The outer group and
    * OPTIONAL groups both parse their FILTERs here. */
  private def filterClause(p: P): Seq[Seq[FilterAtom]] = {
    p.expect("(")
    val dnf = Seq.newBuilder[Seq[FilterAtom]]
    var atoms = Seq.newBuilder[FilterAtom]
    var more = true
    while (more) {
      if (p.is("REGEX") || p.is("STRSTARTS") || p.is("STRENDS") ||
          p.is("CONTAINS")) {
        // SPARQL 1.1 string tests: REGEX(?v, "pat" [, "flags"]),
        // STRSTARTS(?v, "s"), CONTAINS(?v, "s")
        val fn = p.eat().toUpperCase
        p.expect("(")
        val v = p.eat()
        require(v.startsWith("?"),
          s"$fn needs a variable, got '$v'")
        p.expect(",")
        val arg = p.eat()
        require(arg.startsWith("\""),
          s"$fn needs a string literal, got '$arg'")
        var flags = ""
        if (p.is(",")) {
          p.eat()
          val f = p.eat()
          require(fn == "REGEX" && f.startsWith("\""),
            "only REGEX takes a flags argument")
          flags = unquote(f)
        }
        p.expect(")")
        atoms += StrFn(fn, v.substring(1), unquote(arg), flags)
      } else if (p.is("LANG") || p.is("LANGMATCHES") ||
          p.is("DATATYPE")) {
        // term accessors over the quad's term columns — compiled
        // to pattern-scan predicates (see TermTest)
        val fn = p.eat().toUpperCase
        p.expect("(")
        val v =
          if (fn == "LANGMATCHES") {
            // LANGMATCHES(LANG(?v), "range")
            p.expect("LANG"); p.expect("(")
            val x = p.eat(); p.expect(")"); x
          } else p.eat()
        require(v.startsWith("?"),
          s"$fn needs a variable, got '$v'")
        val (op, arg) =
          if (fn == "LANGMATCHES") {
            p.expect(",")
            val a = p.eat()
            require(a.startsWith("\""),
              s"LANGMATCHES needs a string range, got '$a'")
            p.expect(")")
            ("=", unquote(a))
          } else {
            p.expect(")")
            val o = p.eat()
            require(Seq("=", "!=").contains(o),
              s"$fn supports = and != comparisons, got '$o'")
            val a = p.eat()
            val raw =
              if (a.startsWith("\"")) unquote(a)
              else if (a.startsWith("<")) a.substring(1, a.length - 1)
              else a
            (o, raw)
          }
        atoms += TermTest(v.substring(1), fn, op, arg)
      } else if (p.is("BOUND") || p.is("ISIRI") || p.is("ISURI") ||
          p.is("ISLITERAL") || p.is("ISBLANK") || p.is("ISNUMERIC") ||
          p.is("!")) {
        // [!]BOUND(?v) — IS [NOT] NULL on the binding column —
        // and the [!]is* term tests (TermTest)
        val neg = p.is("!")
        if (neg) p.eat()
        val fn = p.eat().toUpperCase
        require(Seq("BOUND", "ISIRI", "ISURI", "ISLITERAL",
          "ISBLANK", "ISNUMERIC").contains(fn),
          s"expected BOUND/isIRI/isLiteral/isBlank/isNumeric, " +
            s"got '$fn'")
        p.expect("(")
        val v = p.eat()
        require(v.startsWith("?"),
          s"$fn needs a variable, got '$v'")
        p.expect(")")
        if (fn == "BOUND") atoms += BoundTest(v.substring(1), neg)
        else atoms += TermTest(v.substring(1),
          if (fn == "ISURI") "ISIRI" else fn,
          if (neg) "!=" else "=", "")
      } else if (p.is("SAMETERM")) {
        // sameTerm(a, b) — §17.4.1.8. The engine's binding
        // columns carry lexical forms, so this compiles to the
        // expression comparison (numeric when a side is numeric);
        // the lexical-form deviation ("01" vs "1" as integers)
        // is the same one the = operator carries here
        p.eat(); p.expect("(")
        val l = bindExpr(p)
        p.expect(",")
        val r = bindExpr(p)
        p.expect(")")
        atoms += ExprCmp(l, "=", r)
      } else if ((BindFns.exists(p.is) && !p.is("STR")) ||
          p.is("(") || p.peek.headOption.exists(_.isDigit) ||
          p.peek.startsWith("\"") || // literal-first: "a" < ?x
          (p.peek.startsWith("-") && p.peek.length > 1) ||
          (p.peek.startsWith("<") && p.peek2 == "(") ||
          (p.peek.startsWith("?") &&
            Seq("+", "-", "*", "/").contains(p.peek2))) {
        // FILTER(expr op expr) — both sides through the BIND
        // expression grammar (arithmetic, string builders,
        // IRI-named extension functions). STR stays on the
        // legacy lexical-compare path below. A call with no
        // comparison is a bare boolean test (geof:sfWithin).
        val l = bindExpr(p)
        if (Seq("=", "!=", "<", ">", "<=", ">=").exists(p.is)) {
          val op = p.eat()
          atoms += ExprCmp(l, op, bindExpr(p))
        } else atoms += ExprBool(l)
      } else {
        // STR(?v) casts the comparison to the lexical form — on
        // this engine's string-valued binding columns that means
        // forcing the string (not numeric) comparison path
        val strWrapped = p.is("STR")
        if (strWrapped) { p.eat(); p.expect("(") }
        val v = p.eat()
        require(v.startsWith("?"),
          s"FILTER needs a variable, got '$v'")
        if (strWrapped) p.expect(")")
        if (p.is("IN") || p.is("NOT")) {
          // ?v [NOT] IN ("lit", <iri>, …) — an inline allow/deny
          // list, compiled to isin() on the binding column
          val neg = p.is("NOT")
          if (neg) { p.eat(); p.expect("IN") } else p.expect("IN")
          p.expect("(")
          val vs = Seq.newBuilder[String]
          while (!p.is(")")) {
            val t = p.eat()
            if (t != ",") vs += (
              if (t.startsWith("\"")) unquote(t)
              else if (t.startsWith("<")) t.substring(1, t.length - 1)
              else t)
          }
          p.expect(")")
          atoms += InList(v.substring(1), neg, vs.result())
        } else {
          val op = p.eat()
          require(Seq("=", "!=", "<", ">", "<=", ">=").contains(op),
            s"unsupported FILTER operator '$op'")
          if (p.peek.startsWith("?")) {
            // var-vs-var comparison — lexical (string) ordering on
            // the two binding columns, matching the oracle's
            // VARCHAR comparison semantics
            atoms += CmpVar(v.substring(1), op, p.eat().substring(1))
          } else {
            val lit = p.eat()
            val numeric = !strWrapped &&
              !lit.startsWith("\"") && !lit.startsWith("<")
            val raw =
              if (lit.startsWith("\"")) unquote(lit)
              else if (lit.startsWith("<")) // IRI comparate
                lit.substring(1, lit.length - 1)
              else lit
            atoms += CmpLit(v.substring(1), op, raw, numeric)
          }
        }
      }
      // SPARQL gives && higher precedence than ||: each || closes one
      // && group of the disjunction
      if (p.is("&&")) p.eat()
      else if (p.is("||")) {
        p.eat(); dnf += atoms.result(); atoms = Seq.newBuilder[FilterAtom]
      } else more = false
    }
    p.expect(")")
    dnf += atoms.result()
    val clause = dnf.result()
    require(clause.length == 1 ||
      !clause.exists(_.exists(_.isInstanceOf[TermTest])),
      "term-accessor tests (LANG/DATATYPE/is*) compile to " +
        "pattern-scan predicates and cannot join a || group — " +
        "split into separate FILTERs or use UNION")
    clause
  }

  private def parseQuery(p: P): Query = {
    var constructTpl: Seq[Bgp.Template] = Nil
    if (p.is("CONSTRUCT")) {
      p.eat()
      if (p.is("WHERE")) {
        // CONSTRUCT WHERE { … } shortcut (SPARQL 1.1 §10.2.2): the
        // template IS the pattern set — matched statements re-emitted.
        // Variable objects instantiate as literals (the textual
        // template convention documented at [[templates]]).
        p.eat(); p.expect("{")
        val pats = triples(p, None)
        p.expect("}")
        val tpl = pats.map { pt =>
          val pred = pt.p match {
            case Bgp.Const(v) => v
            case Bgp.Var(_) => throw new IllegalArgumentException(
              "CONSTRUCT WHERE needs constant predicates")
          }
          val kind = pt.o match {
            case Bgp.Const(v) if v.startsWith("http") || v.startsWith("urn:")
              => graft.model.TermKind.Iri
            case _ => graft.model.TermKind.Literal
          }
          Bgp.Template(pt.s, pred, pt.o, kind)
        }
        return Query(distinct = false, Nil, Nil, Nil, pats, Nil,
          Nil, Nil, Nil, None, verb = "construct", template = tpl)
      }
      p.expect("{")
      constructTpl = templates(p)
      p.expect("}")
      // fall through (r9): CONSTRUCT's WHERE parses with the FULL
      // group-graph-pattern grammar — FILTER, OPTIONAL, MINUS, BIND,
      // VALUES, UNION, paths, GRAPH — exactly as SELECT's; the template
      // then instantiates over the same solution pipeline. (Previously
      // a plain-triples body: FILTER in CONSTRUCT rejected loudly.)
    }
    // ASK parses with the FULL group-graph-pattern grammar (r9; was a
    // plain-triples body) — the boolean test runs the same solution
    // pipeline as SELECT * and checks non-emptiness
    val isAsk = constructTpl.isEmpty && p.is("ASK")
    if (isAsk) p.eat()
    if (p.is("DESCRIBE") && !p.peek2.startsWith("?")) {
      // the reference's exact serving call: `describe <iri>`
      // (cam/graphdb.py:60-71); multiple IRIs union their CBDs (r9)
      p.eat()
      val t = p.eat()
      require(t.startsWith("<"), s"DESCRIBE needs an IRI, got '$t'")
      val iris = Seq.newBuilder[String] += t.substring(1, t.length - 1)
      // ts.nonEmpty guard: peek's "<eof>" sentinel also starts with '<'
      while (p.ts.nonEmpty && p.peek.startsWith("<"))
        { val x = p.eat(); iris += x.substring(1, x.length - 1) }
      return Query(distinct = false, Nil, Nil, Nil, Nil, Nil,
        Nil, Nil, Nil, None, verb = "describe",
        describeIris = iris.result())
    }
    // DESCRIBE ?v WHERE { … } — the generic form: parse the body exactly
    // like SELECT ?v (full WHERE grammar, modifiers), describe the
    // distinct solutions
    val descVar: Option[String] =
      if (constructTpl.nonEmpty || isAsk) None // head already parsed
      else if (p.is("DESCRIBE")) { p.eat(); Some(p.eat().substring(1)) }
      else { p.expect("SELECT"); None }
    // REDUCED permits (without requiring) duplicate elimination — this
    // engine eliminates, the cheapest conforming choice at scale
    val distinct = {
      val d = !isAsk &&
        (p.is("DISTINCT") || p.is("REDUCED")); if (d) p.eat(); d
    }
    val proj = Seq.newBuilder[String]
    val aggs = Seq.newBuilder[Agg]
    val aggExprsB = Seq.newBuilder[(String, HExpr)]
    val order = Seq.newBuilder[String]
    val selExprs = Seq.newBuilder[(String, BindExpr)]
    descVar.foreach(proj += _)
    if (descVar.isDefined || isAsk) () // no SELECT list to parse
    else if (p.is("*")) p.eat()
    else while (p.peek.startsWith("?") || p.is("(")) {
      // does this '('-group open (possibly through nested parens, as
      // in `((SUM(?v) - …) / … AS ?x)`) with a set function? — routes
      // between plain SELECT expressions and aggregate expressions
      def aggStarts: Boolean = p.ts.drop(1).dropWhile(_ == "(")
        .headOption.exists(t => Seq("COUNT", "SUM", "MIN", "MAX", "AVG",
          "GROUP_CONCAT", "SAMPLE").exists(t.equalsIgnoreCase))
      if (p.is("(") && !aggStarts) {
        // (expr AS ?alias) — SELECT-clause expression, compiled exactly
        // like an expression BIND (a projection column); rejected with
        // aggregates by the projection ⊆ GROUP BY check below
        p.eat()
        val e = bindExpr(p)
        p.expect("AS")
        val a = p.eat()
        require(a.startsWith("?"),
          s"AS needs a variable, got '$a'")
        p.expect(")")
        selExprs += ((a.substring(1), e))
        proj += a.substring(1)
        order += a.substring(1)
      } else if (p.is("(") &&
          Seq("GROUP_CONCAT", "SAMPLE").exists(p.peek2.equalsIgnoreCase)) {
        // (GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR="…"]) AS ?a) /
        // (SAMPLE(?v) AS ?a) — the string-valued set functions keep
        // their dedicated form (SEPARATOR is GROUP_CONCAT-only syntax)
        p.eat()
        val f = p.eat().toUpperCase
        p.expect("(")
        // §18.5.1: every set function takes a DISTINCT modifier (r11;
        // was COUNT-only). SAMPLE is a value-pick where DISTINCT
        // cannot change the result — accepted as the spec's no-op.
        val dist = { val d = p.is("DISTINCT"); if (d) p.eat(); d }
        val v = p.eat()
        require(v.startsWith("?"),
          s"aggregate argument must be a variable, got '$v'")
        // GROUP_CONCAT(?v; SEPARATOR="…") — SPARQL's one parameterized
        // aggregate; default separator is a single space per the spec
        var sep = " "
        if (f == "GROUP_CONCAT" && p.is(";")) {
          p.eat(); p.expect("SEPARATOR"); p.expect("=")
          val st = p.eat()
          require(st.startsWith("\""),
            s"SEPARATOR needs a string literal, got '$st'")
          sep = unquote(st)
        }
        p.expect(")"); p.expect("AS")
        val a = p.eat()
        require(a.startsWith("?"), s"AS needs a variable, got '$a'")
        p.expect(")")
        aggs += Agg(f, v.substring(1),
          a.substring(1), distinct = dist, sep = sep)
        order += a.substring(1)
      } else if (p.is("(")) { // (AGG-EXPR AS ?alias), numeric family
        p.eat()
        // §11.1 projection expressions over aggregates (r11): a bare
        // set-function call keeps the one-Agg fast path; anything with
        // arithmetic becomes an aggregate EXPRESSION whose set-function
        // leaves compute as hidden columns in the same aggregation pass
        val e = hAdd(p)
        p.expect("AS")
        val a = p.eat()
        require(a.startsWith("?"), s"AS needs a variable, got '$a'")
        p.expect(")")
        e match {
          case HAgg(f, v, d) =>
            aggs += Agg(f, v, a.substring(1), distinct = d)
          case _ => aggExprsB += ((a.substring(1), e))
        }
        order += a.substring(1)
      } else { val v = p.eat().substring(1); proj += v; order += v }
    }
    // SPARQL dataset clause (§13.2): FROM <g> composes the query's
    // default graph (union of the named dumps), FROM NAMED <g> the set
    // GRAPH patterns may select from. The reference's meilisearch
    // export uses exactly this form — `CONSTRUCT { ?iri a addr:Address }
    // FROM <urn:ladb:graph:addresses> where { … }`
    // (meili/download_addr_iris.py:13-19).
    val fromG = Seq.newBuilder[String]
    val fromN = Seq.newBuilder[String]
    while (p.is("FROM")) {
      p.eat()
      val named = p.is("NAMED"); if (named) p.eat()
      val t = p.eat()
      require(t.startsWith("<"), s"FROM needs an IRI, got '$t'")
      val iri = t.substring(1, t.length - 1)
      if (named) fromN += iri else fromG += iri
    }
    if (p.is("WHERE")) p.eat() // WHERE is optional before the group
    p.expect("{")
    val pats = Seq.newBuilder[Bgp.Pattern]
    val pths = Seq.newBuilder[PathPattern]
    val fns = Seq.newBuilder[PropFnCall]
    val opts = Seq.newBuilder[OptGroup]
    val mins = Seq.newBuilder[Seq[Bgp.Pattern]]
    val fils = Seq.newBuilder[Seq[Seq[FilterAtom]]]
    val exFils = Seq.newBuilder[(Boolean, Seq[Bgp.Pattern])]
    val eBnds = Seq.newBuilder[(String, BindExpr)]
    val vals = Seq.newBuilder[(String, Seq[String])]
    val valsMulti =
      Seq.newBuilder[(Seq[String], Seq[Seq[Option[String]]])]
    val bnds = Seq.newBuilder[(String, String, String)]
    val subs = Seq.newBuilder[Query]
    val unis = Seq.newBuilder[Seq[Seq[Bgp.Pattern]]]
    val uniQs = Seq.newBuilder[Seq[Query]]
    val minusQs = Seq.newBuilder[Query]
    val exQs = Seq.newBuilder[(Boolean, Query)]
    val svcs = Seq.newBuilder[(String, Boolean, Query)]
    val svcTexts = Seq.newBuilder[String]

    // one VALUES data block, cursor positioned AFTER the keyword —
    // shared by the inline group-pattern position and the trailing
    // end-of-query clause (§10.2, r14)
    def parseValuesBlock(): Unit = {
      if (p.is("(")) {
        // multi-variable form: VALUES (?a ?b) { (x y) (x UNDEF) }
        // — each row is a conjunction over its DEFINED columns
        // (UNDEF leaves the variable unconstrained, SPARQL's
        // compatible-solution semantics), rows disjoin. Inline data
        // blocks are small by construction, so the disjunctive row
        // predicate stays a pushable filter — never a join.
        p.eat()
        val mv = Seq.newBuilder[String]
        while (!p.is(")")) {
          val t = p.eat()
          require(t.startsWith("?"),
            s"VALUES needs variables, got '$t'")
          mv += t.substring(1)
        }
        p.expect(")")
        val mvars = mv.result()
        require(mvars.nonEmpty, "VALUES () needs at least one variable")
        p.expect("{")
        val rows = Seq.newBuilder[Seq[Option[String]]]
        while (!p.is("}")) {
          p.expect("(")
          val row = Seq.newBuilder[Option[String]]
          while (!p.is(")")) {
            val t = p.eat()
            row += (if (t.equalsIgnoreCase("UNDEF")) None
              else if (t.startsWith("\"")) Some(unquote(t))
              else if (t.startsWith("<"))
                Some(t.substring(1, t.length - 1))
              else if (isBareLiteralTok(t)) Some(t)
              else throw new IllegalArgumentException(
                s"VALUES entries must be IRIs, literals or UNDEF, " +
                  s"got '$t'"))
          }
          p.expect(")")
          val r = row.result()
          require(r.length == mvars.length,
            s"VALUES row arity ${r.length} != ${mvars.length} variables")
          rows += r
        }
        p.expect("}")
        valsMulti += ((mvars, rows.result()))
      } else {
        val v = p.eat()
        require(v.startsWith("?"), s"VALUES needs a variable, got '$v'")
        p.expect("{")
        val vs = Seq.newBuilder[String]
        while (!p.is("}")) {
          val t = p.eat()
          require(t.startsWith("<") || t.startsWith("\"") ||
            isBareLiteralTok(t),
            s"VALUES entries must be IRIs or literals, got '$t'")
          vs += (if (t.startsWith("\"")) unquote(t)
            else if (t.startsWith("<")) t.substring(1, t.length - 1)
            else t)
        }
        p.expect("}")
        vals += ((v.substring(1), vs.result()))
      }
    }

    def group(g: Option[Bgp.Term]): Unit = {
      while (!p.is("}")) {
        if (p.is("GRAPH")) {
          // SPARQL 1.1 §13.3: GRAPH replaces the ACTIVE graph for its
          // body — nesting (r12) simply recurses with the new term
          // (the previous active graph resumes after the block); an
          // inner graph VARIABLE shared with an outer pattern joins on
          // it like any other variable
          p.eat()
          val gg = term(p.eat())
          p.expect("{"); group(Some(gg)); p.expect("}")
        } else if (p.is("SERVICE")) {
          // SERVICE [SILENT] <endpoint> { triples } — federation
          // against a REGISTERED endpoint relation (execute's
          // `services` map): the group evaluates as its own BGP over
          // that relation and equi-joins the outer solutions on
          // shared variables — no per-row calls, no driver loop. An
          // HTTP gateway would populate the registry; SILENT turns an
          // unregistered endpoint into a no-op per the spec's
          // ignore-failure semantics.
          p.eat()
          val silent = p.is("SILENT"); if (silent) p.eat()
          val t = p.eat()
          require(t.startsWith("<"),
            s"SERVICE needs an endpoint IRI, got '$t'")
          p.expect("{")
          // capture the balanced body and parse it as a synthetic
          // SELECT * sub-query — the SERVICE group gets the FULL
          // grammar (FILTER, OPTIONAL, BIND, paths, …) exactly as a
          // remote endpoint would evaluate it (§18.6 maps the group
          // to a query executed at the service)
          val body = Seq.newBuilder[String]
          var depth = 1
          while (depth > 0) {
            val tok = p.eat()
            require(tok != "<eof>", "unterminated SERVICE group")
            if (tok == "{") depth += 1
            else if (tok == "}") depth -= 1
            if (depth > 0) body += tok
          }
          val sub = new P(List("SELECT", "*", "WHERE", "{") ++
            body.result() ++ List("}"))
          // body tokens are already prefix-expanded, so the space-join
          // is a self-contained query — the §18.6 text a live remote
          // endpoint receives (string literals are single tokens, so
          // re-joining never corrupts their content)
          svcTexts += body.result()
            .mkString("SELECT * WHERE { ", " ", " }")
          svcs += ((t.substring(1, t.length - 1), silent,
            parseQuery(sub)))
        } else if (p.is("{") && p.peek2.equalsIgnoreCase("SELECT")) {
          // sub-select: an independent query joined on shared variables
          // (the reference's documented getParts shape nests
          // `{ SELECT ?address … LIMIT 1 }` inside GRAPH,
          // etl-notes-data-loading.md:128-149)
          p.eat()
          subs += parseQuery(p)
          p.expect("}")
        } else if (p.is("{")) {
          // `{ … } UNION { … }` alternative groups. Plain-BGP branches
          // compile onto Bgp.selectUnion (padded with NULL for the
          // other branches' variables); a branch using the wider group
          // grammar (FILTER / BIND / OPTIONAL / …) promotes the WHOLE
          // union to synthetic `SELECT * WHERE { … }` sub-queries
          // (r11 — the same capture trick the SERVICE grammar uses).
          // A lone braced group is just grouping.
          p.eat()
          val bodies = List.newBuilder[List[String]]
          bodies += p.captureBalanced()
          while (p.is("UNION")) {
            p.eat(); p.expect("{")
            bodies += p.captureBalanced()
          }
          val bs = bodies.result()
          def asTriples(body: List[String]): Seq[Bgp.Pattern] = {
            val bp = new P(body :+ "}")
            val out = triples(bp, g)
            bp.expect("}")
            out
          }
          if (bs.length == 1) pats ++= asTriples(bs.head)
          else if (!bs.exists(needsFullGrammar)) unis += bs.map(asTriples)
          else uniQs += bs.map(asSubQuery)
        } else if (p.is("OPTIONAL")) {
          // group body: triples, FILTERs SCOPED to the group (a scoped
          // filter constrains what MATCHES, left-join-with-condition,
          // never dropping unmatched solutions the way an outer FILTER
          // would), and NESTED OPTIONAL groups (recursively; each nested
          // group left-joins onto ITS enclosing group's solutions before
          // the enclosing group left-joins outward — §18.2.2.6)
          def optGroup(): OptGroup = {
            p.expect("{")
            val gp = Seq.newBuilder[Bgp.Pattern]
            val gf = Seq.newBuilder[Seq[Seq[FilterAtom]]]
            val gn = Seq.newBuilder[OptGroup]
            val ge = Seq.newBuilder[(Boolean, Seq[Bgp.Pattern])]
            while (!p.is("}")) {
              if (p.is("OPTIONAL")) {
                p.eat()
                gn += optGroup()
              } else if (p.is("FILTER") &&
                  (p.peek2.equalsIgnoreCase("EXISTS") ||
                    p.peek2.equalsIgnoreCase("NOT"))) {
                // FILTER [NOT] EXISTS scoped INSIDE the optional group
                // (r14): constrains what the group MATCHES — an
                // (anti-)semi-join on the group's own solutions
                p.eat()
                val eNeg = p.is("NOT")
                if (eNeg) { p.eat(); p.expect("EXISTS") }
                else p.expect("EXISTS")
                p.expect("{")
                val body = p.captureBalanced()
                require(!needsFullGrammar(body),
                  "FILTER EXISTS inside OPTIONAL supports plain " +
                    "triple-pattern bodies")
                val bp = new P(body :+ "}")
                ge += ((eNeg, triples(bp, g)))
                bp.expect("}")
              } else if (p.is("FILTER")) {
                p.eat()
                val clause = filterClause(p)
                require(!clause.flatten.exists(_.isInstanceOf[TermTest]),
                  "LANG/DATATYPE/is* tests run as pattern-scan " +
                    "predicates of the required group and cannot be " +
                    "scoped inside OPTIONAL — move the FILTER out of the " +
                    "OPTIONAL group")
                gf += clause
              } else gp ++= triples(p, g)
            }
            p.expect("}")
            OptGroup(gp.result(), gf.result(), gn.result(), ge.result())
          }
          p.eat()
          opts += optGroup()
        } else if (p.is("MINUS")) {
          // plain-BGP bodies compile onto Bgp.selectMinus; a body with
          // FILTER/BIND/… re-parses as a synthetic sub-query whose
          // solutions anti-join on the shared variables (§8.3 — r11)
          p.eat(); p.expect("{")
          val body = p.captureBalanced()
          if (needsFullGrammar(body)) minusQs += asSubQuery(body)
          else {
            val bp = new P(body :+ "}")
            mins += triples(bp, g)
            bp.expect("}")
          }
        } else if (p.is("BIND")) {
          p.eat(); p.expect("(")
          if ((p.peek.startsWith("<") || p.peek.startsWith("\"")) &&
            p.peek2.equalsIgnoreCase("AS")) {
            // BIND of a constant term — the reference's serving queries
            // pin the entity IRI this way (cam/web/app.py:53,
            // cam/compound_naming.py:18); the variable becomes a
            // literal column AND a constant constraint pushed into
            // every pattern's scan filter
            val t = p.eat()
            val (v, kind) =
              if (t.startsWith("<"))
                (t.substring(1, t.length - 1), graft.model.TermKind.Iri)
              else (unquote(t), graft.model.TermKind.Literal)
            p.expect("AS")
            val a = p.eat()
            require(a.startsWith("?"),
              s"BIND AS needs a variable, got '$a'")
            p.expect(")")
            bnds += ((a.substring(1), v, kind))
          } else {
            // expression BIND — compiles to a projection column over
            // the solution relation (r8)
            val e = bindExpr(p)
            p.expect("AS")
            val a = p.eat()
            require(a.startsWith("?"),
              s"BIND AS needs a variable, got '$a'")
            p.expect(")")
            eBnds += ((a.substring(1), e))
          }
        } else if (p.is("VALUES")) {
          // single-variable VALUES: an inline allow-list of bindings —
          // compiles to isin() on the binding column, i.e. a pushable
          // IN filter, the common "these N entities" serving shape
          p.eat()
          parseValuesBlock()
        } else if (p.is("FILTER") &&
            (p.peek2.equalsIgnoreCase("EXISTS") ||
              p.peek2.equalsIgnoreCase("NOT"))) {
          // FILTER [NOT] EXISTS { … } — the correlated-pattern test,
          // compiled to a (anti-)semi equi-join on the shared variables
          p.eat()
          val neg = p.is("NOT")
          if (neg) { p.eat(); p.expect("EXISTS") } else p.expect("EXISTS")
          p.expect("{")
          // full-grammar EXISTS bodies (FILTER/BIND/… inside) become
          // synthetic sub-queries semi-joined on shared variables (r11)
          val body = p.captureBalanced()
          if (needsFullGrammar(body)) exQs += ((neg, asSubQuery(body)))
          else {
            val bp = new P(body :+ "}")
            exFils += ((neg, triples(bp, g)))
            bp.expect("}")
          }
        } else if (p.is("FILTER")) {
          p.eat()
          fils += filterClause(p)
        } else tripleish(p, g, pats, pths, fns)
      }
    }
    group(None)
    p.expect("}")
    val grp = Seq.newBuilder[String]
    if (p.is("GROUP")) {
      p.eat(); p.expect("BY")
      while (p.peek.startsWith("?")) grp += p.eat().substring(1)
    }
    val hav = Seq.newBuilder[(HExpr, String, HExpr)]
    if (p.is("HAVING")) {
      // HAVING (expr op expr [&& …]) — group filters over aggregate
      // arithmetic, compared numerically
      p.eat(); p.expect("(")
      var more = true
      while (more) {
        val lhs = hAdd(p)
        val op = p.eat()
        require(Seq("=", "!=", "<", ">", "<=", ">=").contains(op),
          s"unsupported HAVING operator '$op'")
        hav += ((lhs, op, hAdd(p)))
        if (p.is("&&")) p.eat() else more = false
      }
      p.expect(")")
    }
    val ord = Seq.newBuilder[(String, Boolean)]
    val ordExprs = Seq.newBuilder[(String, BindExpr)]
    var ordExprN = 0
    if (p.is("ORDER")) {
      p.eat(); p.expect("BY")
      while (p.peek.startsWith("?") || p.is("DESC") || p.is("ASC")) {
        if (p.is("DESC") || p.is("ASC")) {
          val desc = p.eat().equalsIgnoreCase("DESC")
          p.expect("(")
          // the sort key is a full expression (§9.1 OrderCondition) —
          // a bare variable keeps the direct path; anything else
          // becomes a hidden computed column (r14)
          bindExpr(p) match {
            case BVar(n) => ord += ((n, desc))
            case e =>
              ordExprN += 1
              val hidden = s"_ordExpr$ordExprN"
              ordExprs += ((hidden, e))
              ord += ((hidden, desc))
          }
          p.expect(")")
        } else ord += ((p.eat().substring(1), false))
      }
    }
    // LIMIT and OFFSET in either order (both are legal SPARQL)
    var lim: Option[Int] = None
    var off: Option[Int] = None
    var modifiers = true
    while (modifiers) {
      if (p.is("LIMIT") && lim.isEmpty) { p.eat(); lim = Some(p.eat().toInt) }
      else if (p.is("OFFSET") && off.isEmpty) {
        p.eat(); off = Some(p.eat().toInt)
      } else modifiers = false
    }
    // trailing VALUES clause (§10.2: a data block may close the whole
    // query). The engine applies VALUES as a pushable pre-projection
    // filter, which is join-equivalent — EXCEPT under LIMIT/OFFSET,
    // where the spec joins AFTER the slice; reject that combination
    // loudly rather than silently reorder
    if (p.is("VALUES")) {
      require(lim.isEmpty && off.isEmpty,
        "trailing VALUES combined with LIMIT/OFFSET is not supported " +
          "(the engine pushes VALUES below the slice; move the data " +
          "block into the group pattern if pre-slice filtering is " +
          "intended)")
      p.eat()
      parseValuesBlock()
    }
    val parsed = Query(distinct, proj.result(), aggs.result(),
      grp.result(), pats.result(), opts.result(), mins.result(),
      fils.result(), ord.result(), lim, values = vals.result(),
      valuesMulti = valsMulti.result(),
      binds = bnds.result(), paths = pths.result(),
      propFns = fns.result(), subqueries = subs.result(),
      unions = unis.result(), unionQueries = uniQs.result(),
      minusQueries = minusQs.result(), existsQueries = exQs.result(),
      orderExprBinds = ordExprs.result(),
      selectOrder = order.result(),
      offset = off, having = hav.result(), aggExprs = aggExprsB.result(),
      existsFilters = exFils.result(),
      // WHERE-clause BINDs first: a SELECT expression may reference them
      exprBinds = eBnds.result() ++ selExprs.result(),
      fromGraphs = fromG.result(),
      fromNamed = fromN.result(),
      serviceGroups = svcs.result(),
      serviceTexts = svcTexts.result(),
      verb = if (constructTpl.nonEmpty) "construct"
        else if (isAsk) "ask"
        else if (descVar.isDefined) "describe" else "select",
      template = constructTpl,
      describeVar = descVar)
    // with aggregates, projected plain variables must be grouped
    // (projection ⊆ groupBy — SPARQL allows grouping by a variable
    // without projecting it, ADVICE r7)
    require((parsed.aggregates.isEmpty && parsed.aggExprs.isEmpty) ||
      parsed.projection.toSet.subsetOf(parsed.groupBy.toSet),
      "with aggregates, every projected variable must be GROUPed BY")
    require(parsed.having.isEmpty || parsed.aggregates.nonEmpty ||
      parsed.aggExprs.nonEmpty,
      "HAVING requires an aggregating SELECT")
    parsed
  }

  // -- execution ---------------------------------------------------------

  private def cmp(c: Column, op: String, l: Column): Column = op match {
    case "=" => c === l
    case "!=" => c =!= l
    case "<" => c < l
    case ">" => c > l
    case "<=" => c <= l
    case ">=" => c >= l
  }

  private def substitute(t: Bgp.Term,
      binds: Map[String, String]): Bgp.Term = t match {
    case Bgp.Var(n) if binds.contains(n) => Bgp.Const(binds(n))
    case other => other
  }

  private def termVars(t: Bgp.Term): Set[String] = t match {
    case Bgp.Var(n) => Set(n)
    case _ => Set.empty
  }

  /** The variables a sub-query (SERVICE body, here) can bind in its
    * solution relation — projection/aggregate aliases when declared,
    * else the pattern/path/bind variables of the group. */
  private def queryVars(q: Query): Set[String] = {
    if (q.aggregates.nonEmpty)
      return (q.projection ++ q.aggregates.map(_.alias)).toSet
    if (q.projection.nonEmpty) return q.projection.toSet
    def optVars(og: OptGroup): Set[String] =
      og.patterns.flatMap(pt => termVars(pt.s) ++ termVars(pt.p) ++
        termVars(pt.o)).toSet ++ og.nested.flatMap(optVars)
    q.patterns.flatMap(pt => termVars(pt.s) ++ termVars(pt.p) ++
      termVars(pt.o) ++ pt.g.toSeq.flatMap(termVars)).toSet ++
      q.optionals.flatMap(optVars) ++
      q.paths.flatMap(pp => termVars(pp.s) ++ termVars(pp.o)) ++
      q.unions.flatMap(_.flatten.flatMap(pt => termVars(pt.s) ++
        termVars(pt.p) ++ termVars(pt.o))) ++
      q.binds.map(_._1) ++ q.exprBinds.map(_._1)
  }

  /** Evaluate one compound-path triple to its solution relation. */
  private def evalPath(quads: DataFrame, pp: PathPattern): DataFrame = {
    val scoped = pp.graph match {
      case Some(Bgp.Const(g)) => quads.filter(col("graph") === g)
      case Some(Bgp.Var(_)) => throw new IllegalArgumentException(
        "a GRAPH variable cannot scope a property path")
      case None => quads
    }
    var df = PropertyPath.eval(scoped, pp.path)
    val cols = Seq.newBuilder[Column]
    pp.s match {
      case Bgp.Const(v) => df = df.filter(col("src") === v)
      case Bgp.Var(n) => cols += col("src").as(n)
    }
    pp.o match {
      case Bgp.Const(v) => df = df.filter(col("dst") === v)
      case Bgp.Var(n) => cols += col("dst").as(n)
    }
    val out = cols.result()
    require(out.nonEmpty, "a path triple needs at least one variable")
    df.select(out: _*).distinct()
  }

  /** Join a set of solution components on their shared columns, greedily
    * picking a connected component each step. Disconnected remainders
    * (a cross join — the SPARQL cartesian) require
    * `graft.sparql.allowCartesian=true`. */
  private def joinComponents(parts: Seq[DataFrame],
      allowCartesian: Boolean): DataFrame = {
    require(parts.nonEmpty, "WHERE clause binds nothing")
    var acc = parts.head
    var rest = parts.tail
    while (rest.nonEmpty) {
      val accCols = acc.columns.toSet
      rest.indexWhere(df =>
        df.columns.exists(accCols.contains)) match {
        case -1 =>
          require(allowCartesian,
            "disconnected patterns cross-join (the SPARQL cartesian) — " +
              "set graft.sparql.allowCartesian=true to allow")
          acc = acc.crossJoin(rest.head)
          rest = rest.tail
        case i =>
          val nxt = rest(i)
          val shared = acc.columns.toSet
            .intersect(nxt.columns.toSet).toSeq
          acc = acc.join(nxt, shared)
          rest = rest.patch(i, Nil, 1)
      }
    }
    acc
  }

  /** Parse and execute against a quad relation. `functions` resolves
    * property-function IRIs (`cnf:getParts`, `text:query`-style) to
    * their relational implementations — see [[PropertyFunctions]].
    *
    * The quad relation is idempotently materialized on entry: a BGP of
    * K patterns compiles to K filtered scans of `quads`, and a deep ETL
    * lineage (e.g. a 25-emit explosion over a multiway join) would be
    * re-derived K times — the store-serving architecture (a SPARQL
    * endpoint reads a preloaded store, not the pipeline that built it)
    * demands the corpus be a scan, not a recomputation. Callers that
    * already hand in a materialized store (the session-preloaded quad
    * relation, a DSv2 N-Quads read, a cached relation) pay nothing —
    * [[graft.operators.Checkpoints.cutOnce]] detects the materialized
    * root and skips. */
  def execute(quads: DataFrame, sparql: String,
      functions: Map[String, PropertyFunction] = Map.empty,
      services: Map[String, DataFrame] = Map.empty): DataFrame = {
    // §17.4.5.1: NOW() returns THE SAME instant for every occurrence in
    // a query execution — resolve the clock ONCE here, not per bindCol
    // compile site (ADVICE r10: two NOW()s in one query could diverge),
    // while an outer withClock pin still wins
    val pinned = clockTl.get() != null
    if (!pinned) clockTl.set(java.time.Instant.now().toString)
    try executeQuery(
      graft.operators.Checkpoints.cutOnce(quads, eager = false),
      parse(sparql), functions, services)
    finally if (!pinned) clockTl.remove()
  }

  /** The reference's remote-vocab fetch, client side
    * (`cam/remote_concepts.py:23`: `requests.post(sparql_endpoint,
    * data=query)`): a full SPARQL TEXT posted to an endpoint, executed
    * there in its entirety. The endpoint is a registered relation —
    * the same registry SERVICE federation uses — and the posted text
    * runs over that relation unmodified; an unregistered endpoint is
    * the reference's non-200 `RuntimeError`, loudly. */
  def executeRemote(endpoint: String, sparql: String,
      services: Map[String, DataFrame]): DataFrame =
    services.get(endpoint) match {
      case Some(store) => execute(store, sparql, services = services)
      // a REAL http(s) endpoint with no registered relation goes over
      // the wire (r13 — the reference's actual POST,
      // cam/remote_concepts.py:23): SPARQL 1.1 Protocol via
      // [[HttpVocab.selectRemote]]; connection/HTTP failures raise
      // loudly, matching the reference's non-200 RuntimeError.
      // OPT-IN ONLY (ADVICE r13): without the session flag, a typo'd
      // registered-endpoint name or an untrusted SERVICE IRI embedded
      // in query text must fail loudly and LOCALLY, not reach the
      // network (nondeterministic CI failures, SSRF surface).
      case None if (endpoint.startsWith("http://") ||
          endpoint.startsWith("https://")) && remoteEnabled =>
        // generous read timeout: the endpoint runs a full engine query
        // before the first response byte (a cold plan can take tens of
        // seconds), and the connect timeout still fails fast on a dead
        // host
        HttpVocab.selectRemote(
          org.apache.spark.sql.SparkSession.active, endpoint, sparql,
          timeoutMs = 300000)
      case None => throw new IllegalArgumentException(
        s"Failed to fetch from <$endpoint>: unregistered SPARQL " +
          s"endpoint; registered: " +
          services.keys.toSeq.sorted.mkString(", ") +
          (if (!remoteEnabled && (endpoint.startsWith("http://") ||
            endpoint.startsWith("https://")))
            s"; live remote execution is disabled — set " +
              s"$RemoteEnabledKey=true to POST to real endpoints"
          else ""))
    }

  /** Session flag gating live driver-side HTTP POSTs to unregistered
    * http(s) endpoints (`spark.graft.sparql.remote.enabled`, default
    * false). Registered relations and the in-process [[SparqlServer]]
    * specs that opt in are unaffected. */
  val RemoteEnabledKey = "spark.graft.sparql.remote.enabled"
  private def remoteEnabled: Boolean =
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
      .get(RemoteEnabledKey, "false")).toOption.contains("true")

  private val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  private val RdfLangString =
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
  /** XSD numeric type hierarchy (§17.4.2.4 / XPath operand types). */
  private val NumericDatatypes: Seq[String] = Seq(
    "integer", "decimal", "float", "double", "long", "int", "short",
    "byte", "nonNegativeInteger", "positiveInteger", "nonPositiveInteger",
    "negativeInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte").map("http://www.w3.org/2001/XMLSchema#" + _)

  /** The atoms of the FILTER clauses without `||`: the only atoms that
    * may run as scan predicates or connect pattern groups. */
  private def conjunctiveAtoms(q: Query): Seq[FilterAtom] =
    q.filters.collect { case Seq(grp) => grp }.flatten

  /** Compile each [[TermTest]] into a quad-column predicate on every
    * pattern binding its variable — object position always; subject
    * position for the kind tests (subjects are never literals, so
    * LANG/DATATYPE are object-only). SPARQL accessor semantics: LANG of
    * a plain literal is "" (→ `lang IS NULL` here), tags compare
    * case-insensitively; DATATYPE of a plain literal is xsd:string, of
    * a lang-tagged one rdf:langString; accessor application to a
    * non-literal is a type error → the row filters out (the
    * `kind = literal` conjunct). */
  private def attachTermFilters(q: Query): Seq[Bgp.Pattern] = {
    val termTests = conjunctiveAtoms(q).collect { case t: TermTest => t }
    if (termTests.isEmpty) return q.patterns
    def pred(tf: TermTest, kindCol: Column): Column = tf.fn match {
      case "ISIRI" =>
        if (tf.op == "=") kindCol === graft.model.TermKind.Iri
        else kindCol =!= graft.model.TermKind.Iri
      case "ISLITERAL" =>
        if (tf.op == "=") kindCol === graft.model.TermKind.Literal
        else kindCol =!= graft.model.TermKind.Literal
      case "ISBLANK" =>
        if (tf.op == "=") kindCol === graft.model.TermKind.BNode
        else kindCol =!= graft.model.TermKind.BNode
      case "LANG" =>
        // never-null operand shapes (isNotNull &&) keep the negation
        // three-valued-logic-safe: LANG(?v) != "en" must KEEP plain
        // literals (LANG = ""), not null them out
        val langEq =
          if (tf.arg.isEmpty) col("lang").isNull
          else col("lang").isNotNull &&
            lower(col("lang")) === tf.arg.toLowerCase
        kindCol === graft.model.TermKind.Literal &&
          (if (tf.op == "=") langEq else !langEq)
      case "LANGMATCHES" =>
        val m =
          if (tf.arg == "*") col("lang").isNotNull
          else col("lang").isNotNull &&
            (lower(col("lang")) === tf.arg.toLowerCase ||
              lower(col("lang")).startsWith(tf.arg.toLowerCase + "-"))
        kindCol === graft.model.TermKind.Literal && m
      case "DATATYPE" =>
        val eff = coalesce(col("datatype"),
          when(col("lang").isNotNull, RdfLangString).otherwise(XsdString))
        kindCol === graft.model.TermKind.Literal &&
          (if (tf.op == "=") eff === tf.arg else eff =!= tf.arg)
      // §17.4.2.4 isNumeric: a literal whose DATATYPE is numeric —
      // a lexically-numeric PLAIN literal is xsd:string and fails,
      // exactly the distinction the gate's distractor pins
      case "ISNUMERIC" =>
        val hit = kindCol === graft.model.TermKind.Literal &&
          col("datatype").isNotNull &&
          col("datatype").isin(NumericDatatypes: _*)
        if (tf.op == "=") hit else !hit
      case other =>
        throw new IllegalArgumentException(s"unknown term test '$other'")
    }
    val kindTests = Set("ISIRI", "ISLITERAL", "ISBLANK")
    termTests.foldLeft(q.patterns) { (pats, tf) =>
      var hit = false
      def and(pt: Bgp.Pattern, c: Column): Bgp.Pattern =
        pt.copy(scanFilter = Some(pt.scanFilter.map(_ && c).getOrElse(c)))
      val out = pats.map { pt =>
        if (pt.o == Bgp.Var(tf.v)) {
          hit = true; and(pt, pred(tf, col("objectKind")))
        } else if (kindTests.contains(tf.fn) && pt.s == Bgp.Var(tf.v)) {
          hit = true; and(pt, pred(tf, col("subjectKind")))
        } else pt
      }
      require(hit, s"FILTER ${tf.fn}(?${tf.v}): ?${tf.v} must be bound " +
        (if (kindTests.contains(tf.fn)) "in subject or object position "
        else "in object position ") + "by a triple pattern")
      out
    }
  }

  /** §13.2 dataset-clause semantics: when any FROM/FROM NAMED is
    * declared, the dataset is exactly what's declared — unscoped
    * patterns see the UNION of the FROM graphs, GRAPH-scoped patterns
    * only the FROM NAMED set (an absent set ⇒ no matches, per spec).
    * Compiles to per-pattern scan predicates conjoined into
    * [[Bgp.Pattern.scanFilter]], so the graph restriction pushes into
    * the store scan with the rest; subqueries inherit the outer
    * dataset (they cannot declare their own). Paths and property
    * functions are scoped at their evaluation sites via
    * [[datasetFilter]]. */
  private def applyDataset(q: Query): Query = {
    if (q.fromGraphs.isEmpty && q.fromNamed.isEmpty) return q
    def f(inGraphBlock: Boolean): Column = {
      val set = if (inGraphBlock) q.fromNamed else q.fromGraphs
      if (set.isEmpty) lit(false) else col("graph").isin(set: _*)
    }
    def sp(p: Bgp.Pattern): Bgp.Pattern = {
      val g = f(p.g.isDefined)
      p.copy(scanFilter = Some(p.scanFilter.map(_ && g).getOrElse(g)))
    }
    q.copy(
      patterns = q.patterns.map(sp),
      optionals = {
        def so(og: OptGroup): OptGroup = og.copy(
          patterns = og.patterns.map(sp), nested = og.nested.map(so),
          exists = og.exists.map { case (n, g2) => (n, g2.map(sp)) })
        q.optionals.map(so)
      },
      minuses = q.minuses.map(_.map(sp)),
      unions = q.unions.map(_.map(_.map(sp))),
      existsFilters = q.existsFilters.map { case (n, g) => (n, g.map(sp)) },
      subqueries = q.subqueries.map(s =>
        s.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed)),
      // full-grammar sub-query bodies inherit the dataset clause the
      // same way sub-selects do (r11)
      unionQueries = q.unionQueries.map(_.map(b =>
        b.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed))),
      minusQueries = q.minusQueries.map(b =>
        b.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed)),
      existsQueries = q.existsQueries.map { case (n, b) =>
        (n, b.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed))
      })
  }

  /** Dataset restriction for the relation-level access paths (paths,
    * property functions) — same set logic as [[applyDataset]]'s
    * per-pattern predicate. */
  private def datasetFilter(q: Query, quads: DataFrame,
      inGraphBlock: Boolean): DataFrame =
    if (q.fromGraphs.isEmpty && q.fromNamed.isEmpty) quads
    else {
      val set = if (inGraphBlock) q.fromNamed else q.fromGraphs
      if (set.isEmpty) quads.filter(lit(false))
      else quads.filter(col("graph").isin(set: _*))
    }

  /** Compile one FILTER atom onto the binding columns `bound`.
    * `ctorEnv` maps constructor-bound variables to their term metadata,
    * so accessors over them fold to constants ([[resolveAccessors]]). */
  private def atomCol(a: FilterAtom, bound: Set[String],
      ctorEnv: Map[String, CtorMeta]): Column = a match {
    case CmpLit(v, op, value, numeric) =>
      if (numeric) cmp(col(v).cast("double"), op, lit(value.toDouble))
      else cmp(col(v), op, lit(value))
    case CmpVar(v1, op, v2) => cmp(col(v1), op, col(v2))
    case InList(v, neg, vs) =>
      val in = col(v).isin(vs: _*)
      if (neg) !in else in
    case BoundTest(v, neg) =>
      require(bound.contains(v),
        s"BOUND(?$v): variable is not bound by any pattern")
      if (neg) col(v).isNull else col(v).isNotNull
    case StrFn(fn, v, arg, flags) => fn match {
      // SPARQL REGEX is a partial match (like Java find/RLIKE); flags
      // ride as an inline group, the "i" case-insensitivity being the
      // one users actually write
      case "REGEX" =>
        col(v).rlike(if (flags.isEmpty) arg else s"(?$flags)$arg")
      case "STRSTARTS" => col(v).startsWith(arg)
      case "STRENDS" => col(v).endsWith(arg)
      case "CONTAINS" => col(v).contains(arg)
    }
    case ExprCmp(l, op, r) => exprCmpCol(resolveAccessors(l, ctorEnv), op,
      resolveAccessors(r, ctorEnv))
    case ExprBool(e) => bindBool(resolveAccessors(e, ctorEnv))
    // term accessors read quad-relation columns (lang/datatype/kind)
    // that exist only at the scan: attachTermFilters applied them there,
    // and the parser keeps them out of || groups and OPTIONAL groups
    case _: TermTest => lit(true)
  }

  /** One FILTER clause as a predicate over the variables `bound`: its
    * `&&` groups disjoined. */
  private def clauseCol(clause: Seq[Seq[FilterAtom]], bound: Set[String],
      ctorEnv: Map[String, CtorMeta]): Column =
    clause.map(_.map(atomCol(_, bound, ctorEnv)).reduce(_ && _))
      .reduce(_ || _)

  /** Filter `rel` by one FILTER clause. */
  private def filterBy(rel: DataFrame, clause: Seq[Seq[FilterAtom]],
      ctorEnv: Map[String, CtorMeta]): DataFrame =
    rel.filter(clauseCol(clause, rel.columns.toSet, ctorEnv))

  /** The variables one FILTER atom reads. */
  private def atomVars(a: FilterAtom): Set[String] = a match {
    case CmpLit(v, _, _, _) => Set(v)
    case CmpVar(v1, _, v2) => Set(v1, v2)
    case InList(v, _, _) => Set(v)
    case BoundTest(v, _) => Set(v)
    case StrFn(_, v, _, _) => Set(v)
    case ExprCmp(l, _, r) => bindExprVars(l) ++ bindExprVars(r)
    case ExprBool(e) => bindExprVars(e)
    case TermTest(v, _, _, _) => Set(v)
  }

  /** §18.2.2.6 LeftJoin(l, r, cond): `l` left-joined to an OPTIONAL
    * group's solutions `r` on their shared variables, with the group's
    * FILTER clauses `cond` — which read variables of both sides — as
    * the join condition. Columns come out as a `using` join orders
    * them: shared, then `l`'s, then `r`'s. */
  private def leftJoin(l: DataFrame,
      r: (DataFrame, Seq[Seq[Seq[FilterAtom]]]), what: String,
      encloser: String): DataFrame = {
    val (opt, cond) = r
    val shared = l.columns.toSet.intersect(opt.columns.toSet).toSeq
    require(shared.nonEmpty,
      s"$what must share at least one variable with $encloser " +
        "(a disconnected OPTIONAL is a cross join)")
    if (cond.isEmpty) l.join(opt, shared, "left")
    else {
      // `-` cannot occur in a SPARQL variable name
      val renamed = opt.select(opt.columns.map(c =>
        if (shared.contains(c)) col(c).as("opt-" + c) else col(c)): _*)
      val bound = (l.columns ++ opt.columns).toSet
      val on = (shared.map(v => col(v) === col("opt-" + v)) ++
        cond.map(clauseCol(_, bound, Map.empty))).reduce(_ && _)
      l.join(renamed, on, "left").select((shared ++
        l.columns.filterNot(shared.contains) ++
        opt.columns.filterNot(shared.contains)).map(col): _*)
    }
  }

  private def executeQuery(quads: DataFrame, q0: Query,
      functions: Map[String, PropertyFunction],
      services: Map[String, DataFrame] = Map.empty): DataFrame = {
    // CONSTRUCT dispatches AFTER the solution pipeline below — its
    // WHERE is a full group graph pattern (filters, OPTIONAL, BIND…),
    // so the template instantiates over exactly the solutions SELECT *
    // would produce (r9; was a patterns-only early return).
    if (q0.verb == "ask") {
      // the boolean is non-emptiness of the FULL solution pipeline
      // (filters, OPTIONAL, paths, VALUES… — everything SELECT * sees)
      val sol = executeQuery(quads, q0.copy(verb = "select"), functions,
        services)
      val exists = !sol.limit(1).isEmpty
      return quads.sparkSession.sql(s"SELECT $exists AS ask")
    }
    if (q0.verb == "describe")
      return q0.describeVar match {
        case Some(v) =>
          // solve the WHERE exactly as SELECT ?v would, then CBD every
          // distinct focus — one relation-valued describe, no driver loop
          val focus = executeQuery(quads,
            q0.copy(verb = "select", distinct = true), functions,
            services)
            .select(col(v))
          QuadEmitter.describeAll(quads, focus)
        case None =>
          // one CBD over every named IRI (`subject IN (…)`, not one job
          // per IRI)
          QuadEmitter.describe(quads, q0.describeIris: _*)
      }

    // constant BINDs substitute into every pattern (the constant pushes
    // into the scan filter — Catalyst can't see through a join key the
    // way it sees through a filter) and come back as literal columns
    val bindMap = q0.binds.map { case (v, value, _) => v -> value }.toMap
    def subPat(pt: Bgp.Pattern): Bgp.Pattern = pt.copy(
      s = substitute(pt.s, bindMap),
      p = substitute(pt.p, bindMap),
      o = substitute(pt.o, bindMap))
    val q1 = q0.copy(
      patterns = q0.patterns.map(subPat),
      paths = q0.paths.map(pp => pp.copy(
        s = substitute(pp.s, bindMap), o = substitute(pp.o, bindMap))),
      propFns = q0.propFns.map(fc => fc.copy(
        subjects = fc.subjects.map(substitute(_, bindMap)),
        objects = fc.objects.map(substitute(_, bindMap)))),
      unions = q0.unions.map(_.map(_.map(subPat))))
    val q = applyDataset(q1.copy(patterns = attachTermFilters(q1)))

    val allowCartesian = quads.sparkSession.conf
      .getOption("graft.sparql.allowCartesian").contains("true")

    // assemble solution components: the BGP (patterns joined inside
    // Bgp.select — its own connectivity is checked here first), each
    // compound path, each property function, each sub-select
    val patternVarSets: Seq[Set[String]] =
      q.patterns.map(pt => termVars(pt.s) ++ termVars(pt.p) ++
        termVars(pt.o) ++ pt.g.toSeq.flatMap(termVars)) ++
        q.paths.map(pp => termVars(pp.s) ++ termVars(pp.o)) ++
        q.propFns.map(fc =>
          (fc.subjects ++ fc.objects).flatMap(termVars).toSet) ++
        q.subqueries.map(sq =>
          if (sq.aggregates.nonEmpty)
            (sq.projection ++ sq.aggregates.map(_.alias)).toSet
          else if (sq.projection.nonEmpty) sq.projection.toSet
          else Set.empty[String]) ++
        q.unions.map(_.flatten.flatMap(pt => termVars(pt.s) ++
          termVars(pt.p) ++ termVars(pt.o) ++
          pt.g.toSeq.flatMap(termVars)).toSet) ++
        q.unionQueries.map(_.flatMap(b => queryVars(b)).toSet) ++
        // a SILENT group whose endpoint is unregistered contributes NO
        // component (skipped below), so its variables must not anchor
        // the connectivity check — they would spuriously reject a query
        // whose evaluated components are connected (ADVICE r9)
        q.serviceGroups.filterNot(g => g._2 && !services.contains(g._1))
          .map { case (_, _, svcQ) => queryVars(svcQ) }
    if (!allowCartesian) {
      // union-find connectivity over shared variables: every pattern
      // with variables must reach every other (var-free patterns are
      // 1-row markers, exempt). A boolean FILTER whose variables span
      // groups is a CONNECTING edge (r12): `?a :wkt ?w . ?z :zone ?p .
      // FILTER(geof:sfIntersects(?w, ?p))` is the GeoSPARQL spatial
      // θ-join, not an accidental cartesian — it evaluates as the
      // cross-product filtered by the relate predicate, which
      // [[graft.plans.SpatialRelateJoinRewrite]] turns into a
      // grid-cover equi-join.
      // only the atoms of pure && clauses are edges: a || group can
      // hold without its comparison, so it never connects
      val conj = conjunctiveAtoms(q)
      val filterEdges = conj.collect {
        case ExprBool(e) => bindExprVars(e)
        // only EQUALITY-shaped comparison FILTERs fully connect
        // (ADVICE r13): `FILTER(?a = ?b)` is an equi-θ-join Catalyst
        // hash-joins; an INEQUALITY (`?a != ?b`, `?a < ?b`) selects on
        // the product but still EVALUATES as a near-full cartesian —
        // those form the soft tier below (warn, don't silence)
        case CmpVar(a, "=", b) => Set(a, b)
        case ExprCmp(l, "=", r) => bindExprVars(l) ++ bindExprVars(r)
      }
      // the soft tier: non-equality comparisons bridging groups keep
      // the query runnable (a deliberate band/range θ-join is a real
      // query shape) but emit a loud warning — the product is paid
      val weakEdges = conj.collect {
        case CmpVar(a, op, b) if op != "=" => Set(a, b)
        case ExprCmp(l, op, r) if op != "=" =>
          bindExprVars(l) ++ bindExprVars(r)
      }
      // BIND(expr AS ?v) connects ?v to the group expr's variables
      // live in (r12): a FILTER over a BIND-computed variable (e.g. a
      // geof: construct fed into a relation test) is connected, not a
      // cartesian.
      val bindEdges = q.exprBinds.collect {
        case (v, e) if bindExprVars(e).nonEmpty => bindExprVars(e) + v
      }
      // OPTIONAL groups left-join onto the solution stream — their
      // variables are reachable through the shared join vars, and a
      // BIND/FILTER over an OPTIONAL-bound variable is connected
      val optEdges = q.optionals.map(og =>
        og.patterns.flatMap(pt => termVars(pt.s) ++ termVars(pt.p) ++
          termVars(pt.o) ++ pt.g.toSeq.flatMap(termVars)).toSet)
      def mergeGroups(sets: Seq[Set[String]]): Seq[Set[String]] = {
        var groups = sets
        var merged = true
        while (merged) {
          merged = false
          var i = 0
          while (i < groups.length && !merged) {
            var j = i + 1
            while (j < groups.length && !merged) {
              if (groups(i).intersect(groups(j)).nonEmpty) {
                groups = groups.patch(j, Nil, 1)
                  .updated(i, groups(i) ++ groups(j))
                merged = true
              }
              j += 1
            }
            i += 1
          }
        }
        groups
      }
      // An OPTIONAL or bare BIND may only act as connectivity when it
      // roots in AT MOST ONE main-pattern group (ADVICE r12): a
      // left-join never removes rows and a computed binding alone never
      // constrains, so an OPTIONAL/BIND spanning TWO main islands would
      // "bridge" them while the main BGP still cross-joins underneath —
      // exactly the cartesian the guard exists to catch. FILTER edges
      // always connect: they select on the product (a θ-join by
      // design). Main groups are computed from pattern edges alone.
      val mainGroups = mergeGroups(patternVarSets.filter(_.nonEmpty))
      def rootsInOneMainGroup(vs: Set[String]): Boolean =
        mainGroups.count(_.intersect(vs).nonEmpty) <= 1
      val withVars = (patternVarSets ++ filterEdges ++
        bindEdges.filter(rootsInOneMainGroup) ++
        optEdges.filter(rootsInOneMainGroup)).filter(_.nonEmpty)
      if (withVars.length > 1) {
        val groups = mergeGroups(withVars)
        // only groups anchored by a MAIN-component variable (pattern /
        // path / property-fn / sub-query / union / service) can
        // cartesian: BIND derivation chains rooted at constants
        // (UUID()→STR→STRLEN) and OPTIONAL-only islands ride or
        // left-join the solution stream — they cannot multiply it
        val mainVars: Set[String] = patternVarSets.flatten.toSet
        val anchored = groups.filter(_.exists(mainVars))
        if (anchored.length > 1) {
          // second chance: groups bridged ONLY by inequality filters
          // run (a deliberate range θ-join) but warn — the engine
          // still evaluates the full product under the filter
          val softGroups = mergeGroups(withVars ++ weakEdges.filter(_.nonEmpty))
            .filter(_.exists(mainVars))
          require(softGroups.length <= 1,
            "disconnected patterns cross-join (the SPARQL cartesian) — " +
              s"variable groups: ${anchored.map(_.toSeq.sorted.mkString("?", " ?", ""))
                  .mkString("{", "} {", "}")}; " +
              "set graft.sparql.allowCartesian=true to allow")
          System.err.println(
            "[graft] warning: pattern groups " +
              anchored.map(_.toSeq.sorted.mkString("?", " ?", ""))
                .mkString("{", "} {", "}") +
              " are connected only by non-equality FILTERs — the join " +
              "evaluates as a filtered cartesian product")
        }
      }
    }

    val components = Seq.newBuilder[DataFrame]
    // dedup = false throughout: SPARQL SELECT is BAG semantics —
    // duplicates arise from projection and stay unless the query says
    // DISTINCT (applied after projection below); pattern matching is
    // set-of-triples either way (Bgp.select doc), so skipping the
    // solution-level distinct also saves a shuffle per BGP
    if (q.patterns.nonEmpty) {
      val base =
        if (q.minuses.nonEmpty)
          Bgp.selectMinus(quads, q.patterns, q.minuses, dedup = false)
        else Bgp.select(quads, q.patterns, dedup = false)
      // each OPTIONAL group left-joins with its SCOPED filters applied
      // to the group's solutions first (left-join-with-condition —
      // unmatched rows keep NULLs; an outer FILTER would drop them)
      // a group's solutions: its own BGP, then nested OPTIONALs
      // left-joined onto IT, then its scoped filters over that result
      // (§18.2.2.6 — the nested LeftJoin happens inside the group
      // before the group joins outward). A scoped filter that reads a
      // variable the group does not bind is returned instead: it is the
      // condition of the LeftJoin that attaches the group.
      def optSolutions(og: OptGroup)
          : (DataFrame, Seq[Seq[Seq[FilterAtom]]]) = {
        var opt = Bgp.select(quads, og.patterns, dedup = false)
        og.nested.foreach { ng =>
          opt = leftJoin(opt, optSolutions(ng), "a nested OPTIONAL",
            "its enclosing group")
        }
        val (own, outer) = og.filters.partition(c =>
          c.flatten.flatMap(atomVars).toSet.subsetOf(opt.columns.toSet))
        own.foreach(c => opt = filterBy(opt, c, Map.empty))
        og.exists.foreach { case (neg, grp) =>
          val ex = Bgp.select(quads, grp)
          val sh = opt.columns.toSet.intersect(ex.columns.toSet).toSeq
          require(sh.nonEmpty,
            "FILTER EXISTS inside OPTIONAL must share a variable with " +
              "the group's patterns")
          opt = opt.join(ex.select(sh.map(col): _*).distinct(), sh,
            if (neg) "left_anti" else "left_semi")
        }
        (opt, outer)
      }
      components += q.optionals.foldLeft(base) { (acc, og) =>
        leftJoin(acc, optSolutions(og), "an OPTIONAL group",
          "the required patterns")
      }
    } else require(q.optionals.isEmpty && q.minuses.isEmpty,
      "OPTIONAL/MINUS need required patterns")
    q.paths.foreach(pp => components +=
      evalPath(datasetFilter(q, quads, pp.graph.isDefined), pp))
    q.propFns.foreach { fc =>
      val fn = functions.getOrElse(fc.fnIri,
        throw new IllegalArgumentException(
          s"unregistered property function <${fc.fnIri}>" +
            (if (functions.isEmpty) "" else
              s"; registered: ${functions.keys.toSeq.sorted.mkString(", ")}")))
      val scoped = fc.graph match {
        case Some(Bgp.Const(g)) =>
          datasetFilter(q, quads, inGraphBlock = true)
            .filter(col("graph") === g)
        case Some(Bgp.Var(_)) => throw new IllegalArgumentException(
          "a GRAPH variable cannot scope a property function")
        case None => datasetFilter(q, quads, inGraphBlock = false)
      }
      components += fn(scoped, fc.subjects, fc.objects)
    }
    q.subqueries.foreach(sq =>
      components += executeQuery(quads, sq, functions, services))
    q.serviceGroups.zipWithIndex.foreach { case ((iri, silent, svcQ), i) =>
      services.get(iri) match {
        case Some(rel) =>
          // the body executes AT the endpoint over its relation, full
          // pipeline (§18.6's remote-evaluation semantics), then joins
          // the outer solutions on shared variables
          components += executeQuery(
            graft.operators.Checkpoints.cutOnce(rel, eager = false),
            svcQ, functions, services)
        // live federation (r14): an unregistered http(s) endpoint with
        // the remote opt-in POSTs the captured body text — §18.6's
        // actual remote evaluation, the SPARQL 1.1 Protocol on the
        // wire; the solution relation joins like any component.
        // SILENT swallows transport/endpoint failures per spec.
        case None if (iri.startsWith("http://") ||
            iri.startsWith("https://")) && remoteEnabled &&
            q.serviceTexts.isDefinedAt(i) =>
          try components += HttpVocab.selectRemote(
            org.apache.spark.sql.SparkSession.active, iri,
            q.serviceTexts(i), timeoutMs = 300000)
          catch { case e: Exception if silent => () }
        case None if silent => () // spec: SILENT failures are ignored
        case None => throw new IllegalArgumentException(
          s"unregistered SERVICE endpoint <$iri>" +
            (if (services.isEmpty) ""
             else s"; registered: ${services.keys.toSeq.sorted
               .mkString(", ")}"))
      }
    }
    q.unions.foreach(branches =>
      components += Bgp.selectUnion(quads, branches, dedup = false))
    // full-grammar UNION (r11): each branch runs the complete pipeline
    // over the same store, then branches pad each other's variables
    // with NULL and union as bags (§18.2.2.5 multiset union)
    q.unionQueries.foreach { branches =>
      val sols = branches.map(bq =>
        executeQuery(quads, bq, functions, services))
      val allVars = sols.flatMap(_.columns).distinct
      components += sols.map { s0 =>
        s0.select(allVars.map { v =>
          if (s0.columns.contains(v)) col(v)
          else lit(null).cast("string").as(v)
        }: _*)
      }.reduce(_ unionByName _)
    }

    // SILENT-skipped SERVICE groups: per §18.6 a failed SILENT service
    // yields a single solution with its variables UNBOUND — surface
    // them as null columns (projecting one must not throw; ADVICE r9)
    val skippedVars = q.serviceGroups.collect {
      case (iri, true, svcQ) if !services.contains(iri) =>
        queryVars(svcQ)
    }.flatten.toSeq.distinct
    val parts = components.result()
    var sol =
      if (parts.isEmpty && skippedVars.nonEmpty)
        // every group was silently skipped: the one empty solution
        quads.sparkSession.range(1).drop("id")
      else joinComponents(parts, allowCartesian)
    skippedVars.filterNot(sol.columns.contains).foreach { v =>
      sol = sol.withColumn(v, lit(null).cast("string"))
    }
    // anonymous `[ … ]` variables are not projectable (SPARQL bnode
    // scoping) — SELECT * must not leak them
    if (q.projection.isEmpty && q.aggregates.isEmpty) {
      val anon = sol.columns.filter(_.startsWith("_anon"))
      if (anon.nonEmpty) sol = sol.drop(anon.toSeq: _*).distinct()
    }
    q.binds.foreach { case (v, value, _) =>
      sol = sol.withColumn(v, lit(value))
    }
    // expression BINDs in authoring order; each constructor BIND feeds
    // the ctor-metadata environment so a LATER accessor call over its
    // variable (DATATYPE/LANG/is*) folds to the known constant (r14)
    var ctorEnv = Map.empty[String, CtorMeta]
    q.exprBinds.foreach { case (v, e) =>
      val re = resolveAccessors(e, ctorEnv)
      sol = sol.withColumn(v, bindCol(re))
      ctorMeta(re).foreach(m => ctorEnv += (v -> m))
    }
    q.values.foreach { case (v, vs) =>
      require(sol.columns.contains(v),
        s"VALUES variable ?$v is not bound by the patterns")
      sol = sol.filter(col(v).isin(vs: _*))
    }
    q.valuesMulti.foreach { case (mvars, rows) =>
      mvars.foreach(v => require(sol.columns.contains(v),
        s"VALUES variable ?$v is not bound by the patterns"))
      // row = conjunction over defined columns (UNDEF unconstrained),
      // rows disjoin — a pushable predicate, inline data is small
      val pred = rows.map { row =>
        mvars.zip(row).collect { case (v, Some(value)) =>
          col(v) === lit(value)
        }.reduceOption(_ && _).getOrElse(lit(true))
      }.reduce(_ || _)
      sol = sol.filter(pred)
    }
    // FILTER [NOT] EXISTS sharing NO variable with the outer solutions
    // is a CONSTANT test per §18.5 (the substituted pattern is the
    // same for every solution): one bounded emptiness probe decides it
    // for all rows — never a cartesian join (r14; was a loud reject)
    def existsJoin(neg: Boolean, ex: DataFrame): Unit = {
      val shared = sol.columns.toSet.intersect(ex.columns.toSet).toSeq
      if (shared.isEmpty) {
        System.err.println(
          "[graft] warning: FILTER [NOT] EXISTS shares no variable " +
            "with the outer patterns — evaluating as a constant " +
            "emptiness probe")
        val any = !ex.isEmpty
        if (if (neg) any else !any) sol = sol.filter(lit(false))
      } else
        sol = sol.join(ex.select(shared.map(col): _*).distinct(), shared,
          if (neg) "left_anti" else "left_semi")
    }
    q.existsFilters.foreach { case (neg, group) =>
      existsJoin(neg, Bgp.select(quads, group))
    }
    // full-grammar EXISTS / MINUS bodies (r11): the body runs the
    // complete pipeline, then (anti-)semi-joins on shared variables —
    // for BGP+local-filter bodies this equals §18's per-solution
    // substitution semantics
    q.existsQueries.foreach { case (neg, eq) =>
      existsJoin(neg, executeQuery(quads, eq, functions, services))
    }
    q.minusQueries.foreach { mq =>
      val neg = executeQuery(quads, mq, functions, services)
      val shared = sol.columns.toSet.intersect(neg.columns.toSet).toSeq
      if (shared.isEmpty)
        // §8.3: disjoint domains are never compatible — MINUS removes
        // NOTHING. A silent no-op is usually an authoring bug, so warn
        // loudly, but honor the spec (r14; was a loud reject)
        System.err.println(
          "[graft] warning: MINUS group shares no variable with the " +
            "required patterns — per SPARQL §8.3 it removes nothing " +
            "(evaluated as a no-op)")
      else
        sol = sol.join(neg.select(shared.map(col): _*).distinct(), shared,
          "left_anti")
    }
    // every FILTER clause applies here, after the EXISTS and MINUS
    // joins: a clause over two pattern groups stays a Filter over their
    // cross join, the shape SpatialRelateJoinRewrite turns into a join
    q.filters.foreach(c => sol = filterBy(sol, c, ctorEnv))
    if (q.verb == "construct") {
      // solution modifiers bind the solution SEQUENCE per spec — only
      // observable through LIMIT/OFFSET (the built graph is a set), so
      // they apply before instantiation
      var s2 = sol
      if (q.orderBy.nonEmpty)
        s2 = s2.orderBy(q.orderBy.map { case (v, desc) =>
          if (desc) col(v).desc else col(v).asc
        }: _*)
      q.offset.foreach(n => s2 = s2.offset(n))
      q.limit.foreach(n => s2 = s2.limit(n))
      // a template variable bound by a term-constructor BIND carries
      // that constructor's kind/lang/datatype (textual templates
      // otherwise instantiate variables as plain literals)
      val meta = q.exprBinds.flatMap { case (v, e) =>
        ctorMeta(e).map(v -> _)
      }.toMap
      val tpl = q.template.map { t =>
        t.o match {
          case Bgp.Var(n) if meta.contains(n) =>
            val (kind, lang, dt) = meta(n)
            t.copy(oKind = kind, lang = lang, datatype = dt)
          case _ => t
        }
      }
      return Bgp.constructFromSolutions(s2, tpl)
        .orderBy(col("subject"), col("predicate"), col("objectValue"))
    }
    if (q.aggregates.nonEmpty || q.aggExprs.nonEmpty) {
      def one(a: Agg): Column = (a.func match {
        case "COUNT" =>
          if (a.variable == "*") count(lit(1))
          else if (a.distinct) countDistinct(col(a.variable))
          else count(col(a.variable))
        case "SUM" =>
          val s =
            if (a.distinct) sum_distinct(col(a.variable).cast("double"))
            else sum(col(a.variable).cast("double"))
          // §18.5.1.2: Sum({}) = 0 — observable only in the global
          // (no GROUP BY) aggregation, where zero solutions still
          // yield one row; grouped aggregation has no empty groups
          if (q.groupBy.isEmpty) coalesce(s, lit(0d)) else s
        case "MIN" => min(col(a.variable))
        case "MAX" => max(col(a.variable))
        case "AVG" =>
          // AVG(DISTINCT) = Σdistinct / |distinct| — composed from two
          // distinct aggregates in the SAME pass (no extra shuffle)
          if (a.distinct) sum_distinct(col(a.variable).cast("double")) /
            countDistinct(col(a.variable))
          else avg(col(a.variable).cast("double"))
        // SPARQL leaves GROUP_CONCAT order and SAMPLE's pick
        // implementation-defined; this engine pins both deterministic
        // (sorted concatenation, minimum) for cross-engine parity
        case "GROUP_CONCAT" =>
          if (a.distinct)
            array_join(sort_array(collect_set(col(a.variable))), a.sep)
          else array_join(sort_array(collect_list(col(a.variable))), a.sep)
        case "SAMPLE" => min(col(a.variable))
      }).as(a.alias)
      // HAVING and SELECT-expression leaves (r11): every distinct
      // set-function leaf computes as a hidden column in the SAME
      // aggregation pass (one shuffle, no re-aggregation)
      def hLeaves(e: HExpr): Seq[HAgg] = e match {
        case a: HAgg => Seq(a)
        case HArith(_, l, r) => hLeaves(l) ++ hLeaves(r)
        case _ => Nil
      }
      val hLeafAggs = (q.having
        .flatMap { case (l, _, r) => hLeaves(l) ++ hLeaves(r) } ++
        q.aggExprs.flatMap { case (_, e) => hLeaves(e) }).distinct
        .zipWithIndex.map { case (a, i) =>
          a -> Agg(a.func, a.variable, s"_havc_$i", distinct = a.distinct)
        }
      val exprs = (q.aggregates ++ hLeafAggs.map(_._2)).map(one)
      sol = sol.groupBy(q.groupBy.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
      val hLeafCols = hLeafAggs.map { case (a, agg) => a -> agg.alias }.toMap
      def hCol(e: HExpr): Column = e match {
        case a: HAgg => col(hLeafCols(a)).cast("double")
        case HVar(v) => col(v).cast("double")
        case HNum(d) => lit(d)
        case HArith(op, l, r) =>
          val (a, b) = (hCol(l), hCol(r))
          op match {
            case "+" => a + b
            case "-" => a - b
            case "*" => a * b
            case "/" => a / b
          }
      }
      q.having.foreach { case (l, op, r) =>
        sol = sol.filter(cmp(hCol(l), op, hCol(r)))
      }
      // §11.1 SELECT projection expressions: materialize each alias
      // from the hidden leaf columns (post-HAVING — HAVING sees the
      // group, not the projection)
      q.aggExprs.foreach { case (alias, e) =>
        sol = sol.withColumn(alias, hCol(e))
      }
      if (hLeafAggs.nonEmpty) sol = sol.drop(hLeafAggs.map(_._2.alias): _*)
      // emit columns in the written SELECT-list order (projected
      // variables and aggregate aliases interleaved as authored —
      // ADVICE r7; grouped-but-unprojected variables drop here)
      if (q.selectOrder.nonEmpty)
        sol = sol.select(q.selectOrder.map(col): _*)
    } else if (q.projection.nonEmpty && q.orderExprBinds.isEmpty)
      sol = sol.select(q.projection.map(col): _*)
    if (q.distinct && q.aggregates.isEmpty) {
      require(q.orderExprBinds.isEmpty,
        "ORDER BY an expression is not supported with DISTINCT " +
          "(§9.1 restricts DISTINCT sort keys to projected variables)")
      sol = sol.distinct()
    }
    // expression sort keys (r14): compute as hidden columns, sort,
    // then drop and apply the deferred projection — Project over Sort
    // preserves the order (narrow transformation)
    q.orderExprBinds.foreach { case (n, e) =>
      sol = sol.withColumn(n, bindCol(e))
    }
    if (q.orderBy.nonEmpty)
      sol = sol.orderBy(q.orderBy.map { case (v, desc) =>
        if (desc) col(v).desc else col(v).asc
      }: _*)
    if (q.orderExprBinds.nonEmpty) {
      sol = sol.drop(q.orderExprBinds.map(_._1): _*)
      if (q.projection.nonEmpty && q.aggregates.isEmpty &&
        q.aggExprs.isEmpty)
        sol = sol.select(q.projection.map(col): _*)
    }
    q.offset.foreach(n => sol = sol.offset(n))
    q.limit.foreach(n => sol = sol.limit(n))
    sol
  }
}
