package graft.plans

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}

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

  /** `kernel.compute(args)` as a Catalyst expression: one static call
    * that whole-stage codegen inlines, null in ⇒ null out.
    * `nullResult` says whether `compute` may return null for non-null
    * input. `kernel` is a Scala object. */
  def invoke(kernel: AnyRef, dataType: DataType, nullResult: Boolean,
      args: Seq[Expression]): Expression =
    StaticInvoke(kernel.getClass, dataType, "compute", args,
      returnNullable = nullResult)

  /** The SQL function `name` over [[invoke]]: `accepts` checks the
    * resolved argument types, arity included (a bare `StaticInvoke`
    * would cast them implicitly), and `args` maps the arguments to
    * `compute`'s parameters. */
  private def kernel(name: String, signature: String, obj: AnyRef,
      dataType: DataType, nullResult: Boolean)(
      accepts: Seq[DataType] => Boolean,
      args: Seq[Expression] => Seq[Expression] = identity) =
    fn(name, classOf[KernelCall], params => {
      require(accepts(params.map(_.dataType)), s"$name takes $signature; " +
        s"got ${params.map(_.dataType.simpleString).mkString("(", ", ", ")")}")
      KernelCall(name, params, invoke(obj, dataType, nullResult, args(params)))
    })

  private def strings(n: Int): Seq[DataType] => Boolean =
    _ == Seq.fill(n)(StringType)

  /** Every native SQL function the extension injects. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    // the element-type flags are fixed per plan, so an array<float> is
    // read as floats in place, never cast to array<double> per row
    kernel("graft_dot", "(array<float|double>, array<float|double>)",
        DotProduct, DoubleType, nullResult = true)(
      {
        case Seq(ArrayType(a, _), ArrayType(b, _)) =>
          Seq(a, b).forall(t => t == FloatType || t == DoubleType)
        case _ => false
      },
      args => args ++ args.map(a => Literal(
        a.dataType.asInstanceOf[ArrayType].elementType == FloatType))),
    kernel("graft_nt_unescape", "(string)", NtUnescape, StringType,
      nullResult = false)(strings(1)),
    kernel("graft_nq_quad", "(string)", NqQuad, NqQuad.dataType,
      nullResult = false)(strings(1)),
    kernel("graft_nt_escape", "(string)", NtEscape, StringType,
      nullResult = false)(strings(1)),
    kernel("graft_jaro_winkler", "(string, string)", JaroWinkler, DoubleType,
      nullResult = false)(strings(2)),
    kernel("graft_nfc", "(string)", NfcNormalize, StringType,
      nullResult = false)(strings(1)),
    kernel("graft_wkt_bbox", "(wkt string)", WktBbox, WktBbox.schema,
      nullResult = true)(strings(1)),
    fn("graft_sf_relate", classOf[SfRelate], SfRelate.builder),
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

/** A SQL function that is one [[GraftExtensions.invoke]] call — the
  * shape Spark gives its own `url_encode`. It keeps the function's name
  * in column names and plan strings through analysis; the optimizer's
  * first batch replaces it with the bare `StaticInvoke`. */
case class KernelCall(name: String, parameters: Seq[Expression],
    replacement: Expression)
  extends RuntimeReplaceable with InheritAnalysisRules {

  override def prettyName: String = name

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}
