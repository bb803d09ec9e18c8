package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_dot(array<bigint>, array<bigint>) -> bigint`: exact integer dot
  * product as a native Catalyst expression with whole-stage codegen.
  *
  * This was the engine's first custom expression (SURVEY.md §7.2; the
  * text-hashing pipelines in [[GraftTextHash]] followed in the r21
  * optimization round under the same profiling bar): the
  * built-in higher-order alternative
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` is
  * semantically identical but allocates an intermediate array per row and
  * evaluates two lambda closures per element; at ANN scale (rows × dims)
  * the generated tight loop below wins (~3-6× measured, see
  * SimilarityQueries scaladoc). Used only where profiling justified it —
  * everything else in the engine stays on built-ins.
  *
  * Exactness contract matches the quantized-cosine scheme: inputs are
  * integer-quantized vectors, products/sums stay in Long (overflow-safe for
  * |q| ≤ 10^6, dims ≤ 10^4), so results are bit-identical to the oracle's
  * `list_sum(list_transform(...))`.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<bigint> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) { sum += x.getLong(i) * y.getLong(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long ${ev.value}Acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getLong($i) * $y.getLong($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

/** Idempotent function registration so any session (Verify, Bench, tests —
  * which build their own SparkSessions) can call the graft_* expressions
  * via SQL/expr. */
object GraftFunctions {

  /** One function's registration: its identifier, an [[ExpressionInfo]]
    * naming its real implementing class, and its builder. */
  private def fn(name: String, cls: Class[_ <: Expression], doc: String, arity: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, doc, ""),
      { exprs: Seq[Expression] =>
        require(exprs.length == arity, s"$name takes exactly $arity argument(s)")
        build(exprs)
      })

  /** Every engine expression — single source of truth shared by
    * [[register]] and [[GraftExtensions]]. */
  private[functions] val all = Seq(
    fn("graft_dot", classOf[QuantizedDot],
      "graft_dot(a, b) - exact integer dot product of two bigint arrays.", 2)(
      e => QuantizedDot(e.head, e(1))),
    fn("graft_minhash", classOf[MinhashSigs],
      "graft_minhash(sh) - 16 MinHash signatures of a shingle set.", 1)(
      e => MinhashSigs(e.head)),
    fn("graft_winnow", classOf[WinnowFps],
      "graft_winnow(s) - winnowing fingerprint set of a normalized string.", 1)(
      e => WinnowFps(e.head)),
    fn("graft_ngrams3", classOf[Ngrams3],
      "graft_ngrams3(toks) - all space-joined word 3-grams of a token array.", 1)(
      e => Ngrams3(e.head)),
    fn("graft_ngrams", classOf[NgramsK],
      "graft_ngrams(toks, k) - all space-joined stride-1 word k-grams (k >= 1).", 2)(
      e => NgramsK(e.head, e(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    }
  }
}

/** Session-extension wiring (the `SparkSessionExtensions` path): attach via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) so every session in a
  * cluster gets the engine's function AND optimizer extensions without code
  * changes: `graft_dot` plus the interval-range join rewrite
  * ([[graft.plans.IntervalBinJoinRule]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.IntervalBinJoinRule)
  }
}
