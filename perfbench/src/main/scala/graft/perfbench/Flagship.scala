package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{dec2, renderLabel, slugify}
import graft.rdf.{EmitQ, PropertyFunctions, SparqlParser}

/** The flagship 25-emit address profile over
  * customer ⋈ nation ⋈ region ⋈ orders-agg, rebuilt here from the
  * public `EmitQ` constructors with the same IRIs, graphs and gates as
  * the catalog's full-fidelity profile, plus the reference-verbatim
  * serving queries the store answers. */
object Flagship {
  val GraphA: String = graft.model.Graphs.Addresses
  val GraphG: String = graft.model.Graphs.GeoNames
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val PlaceT = "https://schema.org/Place"
  val NameP = "https://schema.org/name"
  val DescP = "https://schema.org/description"
  val SegmentP = "https://example.org/def/marketSegment"
  val BalanceP = "https://example.org/def/accountBalance"
  val NationP = "https://example.org/def/nation"
  val RegionP = "https://example.org/def/region"
  val HasPartP = "https://schema.org/hasPart"
  val AddTypeP = "https://schema.org/additionalType"
  val ValueP = "https://schema.org/value"
  val TimeInXsdP = "http://www.w3.org/2006/time#inXSDDateTime"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"
  val PartNationT = "https://example.org/def/part/nationName"
  val PartRegionT = "https://example.org/def/part/regionName"
  val PartSegmentT = "https://example.org/def/part/marketSegment"
  val LifecycleCurrentT = "https://example.org/def/lifecycle/current"
  val GivenNameT = "https://example.org/def/part/geographicalGivenName"
  val CustomerIri = "https://example.org/customer/"

  /** Quads per customer: 22 always, plus the 3-quad lifecycle group
    * when the customer has an order. */
  val QuadsAlways = 22
  val QuadsLifecycle = 3

  /** The flagship input relation. */
  def joined(customer: DataFrame, nation: DataFrame, region: DataFrame,
      orders: DataFrame): DataFrame = {
    val firstOrder = orders.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_dt"))
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        dec2(col("c_acctbal")).cast("string").as("bal_str"),
        col("n_name"), col("r_name"))
      .join(firstOrder, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("first_iso",
        date_format(col("first_dt").cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss"))
  }

  /** The 25 emits. */
  def emits: Seq[EmitQ] = {
    val k = col("c_custkey").cast("string")
    val addr = concat(lit(CustomerIri), k)
    val nameIri = concat(lit("https://example.org/place-name/"), k)
    def bn(sfx: String): Column = concat(k, lit("-" + sfx))
    val gn = concat(lit("gn-given-name-"), k)
    val gnAlt = concat(lit("gn-alt-name-"), k)
    val natIri =
      concat(lit("https://example.org/nation/"), slugify(col("n_name")))
    val regIri =
      concat(lit("https://example.org/region/"), slugify(col("r_name")))
    val lifecycleOn = col("first_iso").isNotNull
    Seq(
      EmitQ.iri(addr, RdfType, lit(PlaceT), GraphA),
      EmitQ.literal(addr, NameP, col("c_name"), GraphA),
      EmitQ.literal(addr, DescP,
        renderLabel(col("c_name"), col("n_name"), col("r_name")),
        GraphA, lang = "en"),
      EmitQ.literal(addr, SegmentP, col("c_mktsegment"), GraphA),
      EmitQ.literal(addr, BalanceP, col("bal_str"), GraphA,
        datatype = XsdDecimal),
      EmitQ.iri(addr, NationP, natIri, GraphA),
      EmitQ.iri(addr, RegionP, regIri, GraphA),
      EmitQ.bnodeObj(addr, HasPartP, bn("nation"), GraphA),
      EmitQ.fromBnodeIri(bn("nation"), AddTypeP, lit(PartNationT), GraphA),
      EmitQ.fromBnodeLiteral(bn("nation"), ValueP, col("n_name"), GraphA,
        lang = "en"),
      EmitQ.bnodeObj(addr, HasPartP, bn("region"), GraphA),
      EmitQ.fromBnodeIri(bn("region"), AddTypeP, lit(PartRegionT), GraphA),
      EmitQ.fromBnodeLiteral(bn("region"), ValueP, col("r_name"), GraphA,
        lang = "en"),
      EmitQ.bnodeObj(addr, HasPartP, bn("segment"), GraphA),
      EmitQ.fromBnodeIri(bn("segment"), AddTypeP, lit(PartSegmentT), GraphA),
      EmitQ.fromBnodeLiteral(bn("segment"), ValueP, col("c_mktsegment"),
        GraphA),
      EmitQ.bnodeObj(addr, HasPartP,
        when(lifecycleOn, bn("lifecycle")), GraphA),
      EmitQ.fromBnodeIri(bn("lifecycle"), AddTypeP,
        when(lifecycleOn, lit(LifecycleCurrentT)), GraphA),
      EmitQ.fromBnodeLiteral(bn("lifecycle"), TimeInXsdP, col("first_iso"),
        GraphA, datatype = XsdDateTime),
      EmitQ.bnodeObj(nameIri, HasPartP, gn, GraphG),
      EmitQ.fromBnodeLiteral(gn, ValueP, col("c_name"), GraphG, lang = "en"),
      EmitQ.fromBnodeIri(gn, AddTypeP, lit(GivenNameT), GraphG),
      EmitQ.bnodeObj(nameIri, HasPartP, gnAlt, GraphG),
      EmitQ.fromBnodeLiteral(gnAlt, ValueP, lower(col("c_name")), GraphG,
        lang = "aus"),
      EmitQ.fromBnodeIri(gnAlt, AddTypeP, lit(GivenNameT), GraphG))
  }

  // ---- serving ---------------------------------------------------------

  private val CnFunc = "https://linked.data.gov.au/def/cn/func/"
  private val TextQueryP = "http://jena.apache.org/text#query"

  /** The property functions the reference's store registers. */
  val functions: Map[String, SparqlParser.PropertyFunction] = Map(
    (CnFunc + "getParts") ->
      PropertyFunctions.getParts(HasPartP, AddTypeP, ValueP),
    (CnFunc + "getLiteralComponents") ->
      PropertyFunctions.getLiteralComponents(HasPartP, AddTypeP, ValueP),
    TextQueryP -> PropertyFunctions.textQuery)

  /** Request kinds of the serving mix, in schedule order within a
    * block. */
  val Kinds: Seq[String] = Seq("geocode", "components", "describe",
    "getparts", "textquery", "page")

  /** The reference-verbatim query of one kind for customer key `k`. */
  def query(kind: String, k: Long): String = kind match {
    case "geocode" =>
      s"""PREFIX func: <https://linked.data.gov.au/def/cn/func/>
         |PREFIX addr: <https://w3id.org/profile/anz-address/>
         |SELECT *
         |WHERE {
         |    BIND(<$CustomerIri$k> AS ?iri)
         |
         |    ?iri addr:hasGeocode ?geocode .
         |    ?geocode <http://www.opengis.net/ont/geosparql#hasGeometry> ?geo .
         |    ?geo <http://www.opengis.net/ont/geosparql#asWKT> ?wkt .
         |}""".stripMargin
    case "components" =>
      s"""PREFIX func: <https://linked.data.gov.au/def/cn/func/>
         |SELECT *
         |WHERE {
         |    BIND(<$CustomerIri$k> AS ?compoundNameObject)
         |
         |    ?compoundNameObject func:getLiteralComponents (?componentType ?componentValue) .
         |}""".stripMargin
    case "describe" => s"describe <$CustomerIri$k>"
    case "getparts" =>
      s"""PREFIX cnf: <https://linked.data.gov.au/def/cn/func/>
         |SELECT ?address ?partIds ?partTypes ?partValuePredicate ?partValue
         |WHERE {
         |  GRAPH <$GraphA> {
         |    {
         |      SELECT ?address
         |      WHERE {
         |        ?address a <$PlaceT>
         |      }
         |      ORDER BY ?address limit 1
         |    }
         |    ?address cnf:getParts (?partIds ?partTypes ?partValuePredicate ?partValue) .
         |  }
         |}""".stripMargin
    case "textquery" =>
      s"""SELECT * WHERE { GRAPH <$GraphA> {
         |  (?iri ?score ?value) <$TextQueryP>
         |    (<$NameP> "Customer#${f"${k / 10}%08d"}*" 1000) .
         |} } ORDER BY DESC(?score) ?iri LIMIT 10""".stripMargin
    case "page" =>
      s"""SELECT ?addr ?name WHERE {
         |  ?addr <$RdfType> <$PlaceT> .
         |  ?addr <$NameP> ?name .
         |  ?addr <$HasPartP> ?b .
         |  ?b <$AddTypeP> <$PartNationT> .
         |  ?b <$ValueP> ?nation .
         |  FILTER(?nation != "NATION_${k % 25}")
         |} ORDER BY ?addr LIMIT 500""".stripMargin
  }
}
