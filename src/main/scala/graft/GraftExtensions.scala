package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.{CosineSimF, DotProductF, DotProductFD, DotProductL, DupSpansExpr, IntersectCountExpr, MinHashSigExpr, SimHashBitsExpr, SrpSigExpr, WinnowMinsExpr}

/** Session extension wiring: registers the engine's native expressions for
  * SQL use. Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  *   SELECT dot_product_f(embedding, embedding) FROM embeddings
  *   SELECT minhash_sig(shingles)[0] FROM doc_shingles
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  private def wrongArgs(name: String, expected: Int, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`", "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString, "docroot" -> ""))

  /** Evaluate a builder parameter that must be an integer literal. A 2-arg
    * call with a non-foldable or non-integral argument gets a TARGETED
    * analysis error here — falling through to WRONG_NUM_ARGS would report
    * "actual=2, expected=2", and a bare asInstanceOf would surface as a
    * ClassCastException with no SQL context. Only integral literals that fit
    * in INT pass: a wider BIGINT would wrap and a fractional one truncate.
    */
  private def intLiteralArg(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map(
          "funcName" -> s"`$fn`", "paramName" -> s"`$param`",
          "paramType" -> "\"INT\""))
    (e.dataType, e.eval()) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number)
          if n.longValue().isValidInt => n.intValue()
      case _ =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
          messageParameters = Map(
            "sqlExpr" -> s"\"$fn\"", "paramIndex" -> "second",
            "requiredType" -> "\"INT\"", "inputSql" -> s"\"${e.sql}\"",
            "inputType" -> s"\"${e.dataType.sql}\""))
    }
  }

  /** One native SQL function as (name, expression class, builder). `build`
    * receives the function's name (for targeted argument errors); argument
    * lists it does not accept fail analysis with WRONG_NUM_ARGS naming
    * `arity`.
    */
  private def fn(name: String, cls: Class[_], arity: Int)(
      build: String => PartialFunction[Seq[Expression], Expression])
      : (String, Class[_], Seq[Expression] => Expression) =
    (name, cls, args => build(name).applyOrElse(args,
      (a: Seq[Expression]) => wrongArgs(name, arity, a.length)))

  /** The one list of native SQL functions, installed by both
    * [[GraftExtensions.apply]] and [[register]]. Integer parameters (bits,
    * nPlanes, w, k) must be foldable integer literals.
    */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    fn("dot_product_f", classOf[DotProductF], 2)(_ => { case Seq(a, b) => DotProductF(a, b) }),
    fn("dot_product_l", classOf[DotProductL], 2)(_ => { case Seq(a, b) => DotProductL(a, b) }),
    fn("dot_product_fd", classOf[DotProductFD], 2)(_ => { case Seq(a, b) => DotProductFD(a, b) }),
    fn("minhash_sig", classOf[MinHashSigExpr], 1)(_ => { case Seq(a) => MinHashSigExpr(a) }),
    fn("simhash_bits", classOf[SimHashBitsExpr], 2)(n => {
      case Seq(a, b) => SimHashBitsExpr(a, intLiteralArg(n, "bits", b)) }),
    fn("srp_sig", classOf[SrpSigExpr], 2)(n => {
      case Seq(a, b) => SrpSigExpr(a, intLiteralArg(n, "nPlanes", b)) }),
    fn("cosine_sim", classOf[CosineSimF], 2)(_ => { case Seq(a, b) => CosineSimF(a, b) }),
    fn("winnow_mins", classOf[WinnowMinsExpr], 2)(n => {
      case Seq(a, b) => WinnowMinsExpr(a, intLiteralArg(n, "w", b)) }),
    fn("intersect_count", classOf[IntersectCountExpr], 2)(_ => {
      case Seq(a, b) => IntersectCountExpr(a, b) }),
    fn("dup_spans", classOf[DupSpansExpr], 3)(n => {
      case Seq(a, b, k) => DupSpansExpr(a, b, intLiteralArg(n, "k", k)) }),
    // `bloom_filter_agg(xxhash64(x)[, est_items, num_bits])` — Spark's own
    // runtime-filter aggregate (a compact binary sketch), surfaced for
    // explicit semi-join reduction; probe with
    // `bloom_might_contain(scalar-subquery, xxhash64(x))`
    fn("bloom_filter_agg", classOf[BloomFilterAggregate], 3)(_ => {
      case Seq(c) => new BloomFilterAggregate(c).toAggregateExpression()
      case Seq(c, n) => new BloomFilterAggregate(c, n).toAggregateExpression()
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b).toAggregateExpression() }),
    fn("bloom_might_contain", classOf[BloomFilterMightContain], 2)(_ => {
      case Seq(bf, v) => BloomFilterMightContain(bf, v) }))

  /** Register the engine's SQL functions on an already-running session
    * (withExtensions only takes effect at session construction). The typed
    * aggregator exact_count_distinct registers as a UDAF; bounded-state
    * distinct counts are Spark's own `hll_sketch_agg` / `hll_union_agg` /
    * `hll_sketch_estimate`, present in every session.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    functions.foreach { case (name, _, builder) => ColumnBridge.registerFunction(spark, name, builder) }
    spark.udf.register("exact_count_distinct", graft.functions.ExactDistinct.asUdaf)
  }
}
