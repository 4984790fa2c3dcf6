package graft.plans

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.DoubleType

/** SparkSessionExtensions entry point (SURVEY §2.12): the native
  * function surface plus the radius-join, relate-join and runtime-bloom
  * optimizer rules.
  *
  * Every session gets it once, when the session is built: the provider
  * is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * which Spark loads from the classpath into each new session and each
  * `newSession()` child (`spark.sql.extensions.test.loadFromCp`, on by
  * default). Naming it in `spark.sql.extensions` still works, but is
  * redundant on this classpath.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RadiusJoinRewrite)
    ext.injectOptimizerRule(_ => SpatialRelateJoinRewrite)
    // Post-operator-batch slot (runs ONCE, after InferFiltersFromConstraints
    // et al.) — the same placement Spark gives its own InjectRuntimeFilter:
    // inside the fixed-point batch, constraint inference would mirror the
    // injected might_contain back onto the build side through the join
    // equality, bloom-filtering the build against itself.
    ext.injectPreCBORule(_ => BloomJoinInject)
  }
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_],
      builder: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every native SQL function the extension injects. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_haversine_km", classOf[HaversineKm], args => {
      require(args.length == 4,
        s"graft_haversine_km takes (lon1, lat1, lon2, lat2); got ${args.length}")
      val d = args.map(a => Cast(a, DoubleType): Expression)
      HaversineKm(d(0), d(1), d(2), d(3))
    }),
    fn("graft_dot", classOf[DotProduct], DotProduct.builder),
    fn("graft_nt_unescape", classOf[NtUnescape], NtUnescape.builder),
    fn("graft_nq_terms", classOf[NqTerms], NqTerms.builder),
    fn("graft_nt_escape", classOf[NtEscape], NtEscape.builder),
    fn("graft_jaro_winkler", classOf[JaroWinkler], JaroWinkler.builder),
    fn("graft_sf_relate", classOf[SfRelate], SfRelate.builder),
    fn("graft_nfc", classOf[NfcNormalize], NfcNormalize.builder),
    fn("graft_wkt_bbox", classOf[WktBbox], WktBbox.builder),
    fn("graft_st_buffer", classOf[GeomBuffer], GeomConstruct.bufferBuilder),
    fn("graft_st_buffer_m", classOf[GeomBufferMetres],
      GeomConstruct.bufferMetresBuilder),
    // Spark's runtime bloom filter, which Spark 4.1 plans but does not
    // register: (xxhash64 key, expected items) builds it, and
    // (filter, xxhash64 key) probes it. The filter must be a constant
    // or a scalar subquery.
    fn("graft_bloom_filter_agg", classOf[BloomFilterAggregate], args => {
      require(args.length == 2, "graft_bloom_filter_agg takes " +
        s"(xxhash64 key, expected items); got ${args.length}")
      new BloomFilterAggregate(args(0), args(1))
    }),
    fn("graft_might_contain", classOf[BloomFilterMightContain], args => {
      require(args.length == 2, "graft_might_contain takes " +
        s"(filter, xxhash64 key); got ${args.length}")
      BloomFilterMightContain(args(0), args(1))
    })) ++
    GeomConstruct.UnaryNames.map { case (name, op) =>
      fn(name, classOf[GeomConstruct], GeomConstruct.unaryBuilder(name, op))
    } ++
    GeomConstruct.BinaryNames.map { case (name, op) =>
      fn(name, classOf[GeomOverlay], GeomConstruct.binaryBuilder(name, op))
    } ++
    GeomConstruct.MeasureNames.map { case (name, op) =>
      fn(name, classOf[GeomMeasure], GeomConstruct.measureBuilder(name, op))
    }
}
