package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float32 vectors.
  *
  * The DataFrame-composable form (`aggregate(zip_with(...))`) runs as an
  * interpreted higher-order function — CodegenFallback, ~50-100x slower
  * per element than a fused loop, and it's the innermost hot path of
  * every similarity join (candidate pairs × 64 dims). This is the case
  * SURVEY.md §7 reserves for a custom Catalyst `Expression`: scalar
  * semantics the built-ins can only express interpreted.
  *
  * Numeric contract: identical IEEE operation order to the HOF form —
  * a single left-to-right fold with each float widened to double before
  * multiply — so plans built with either form produce bit-equal
  * doubles (the DuckDB oracle relies on this).
  */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = (double) $a.getFloat($i);
         |  double yv = (double) $b.getFloat($i);
         |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering graft's native functions, the
  * TopKPerKey planner strategy and the TopKRewrite optimizer rule.
  * Required; `EngineSession` installs it (the config is
  * `spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[CosineF32].getName, "cosine_f32"),
      (children: Seq[Expression]) => CosineF32(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("topk_freq"),
      new ExpressionInfo(classOf[SpaceSavingTopK].getName, "topk_freq"),
      (children: Seq[Expression]) => SpaceSavingTopK.create(children)))
    ext.injectFunction((
      new FunctionIdentifier("minhash16"),
      new ExpressionInfo(classOf[Minhash16].getName, "minhash16"),
      (children: Seq[Expression]) => Minhash16(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[Simhash60].getName, "simhash60"),
      (children: Seq[Expression]) => Simhash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (children: Seq[Expression]) => Shingles3(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("hrw_assign"),
      new ExpressionInfo(classOf[HrwAssign].getName, "hrw_assign"),
      (children: Seq[Expression]) => {
        require(children.size == 2 && children(1).foldable,
          "hrw_assign(key, n) — n must be a literal")
        HrwAssign(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sign_bands_f32"),
      new ExpressionInfo(classOf[SignBandsF32].getName, "sign_bands_f32"),
      (children: Seq[Expression]) =>
        SignBandsF32(children.head, graft.llm.Frag.planes)))
    ext.injectFunction((
      new FunctionIdentifier("dot_f32f64"),
      new ExpressionInfo(classOf[DotF32F64].getName, "dot_f32f64"),
      (children: Seq[Expression]) => DotF32F64(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("l2_f32f64"),
      new ExpressionInfo(classOf[L2F32F64].getName, "l2_f32f64"),
      (children: Seq[Expression]) => L2F32F64(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("charclass_counts"),
      new ExpressionInfo(classOf[CharClassCounts].getName, "charclass_counts"),
      (children: Seq[Expression]) => CharClassCounts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("tokenize_tf"),
      new ExpressionInfo(classOf[TokenizeTf].getName, "tokenize_tf"),
      (children: Seq[Expression]) => TokenizeTf(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bloom_bits"),
      new ExpressionInfo(classOf[BloomBitsAgg].getName, "bloom_bits"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "bloom_bits(hash, m, k)")
        def lit(e: Expression): Int = {
          require(e.foldable, "bloom_bits m/k must be literals")
          e.eval(null).asInstanceOf[Number].intValue()
        }
        BloomBitsAgg(children.head, lit(children(1)), lit(children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "bloom_might_contain(bloom, hash, k)")
        require(children(2).foldable, "bloom_might_contain k must be a literal")
        BloomMightContain(children(0), children(1),
          children(2).eval(null).asInstanceOf[Number].intValue())
      }))
    // whole-operator extension: two-phase top-k-per-key (partial heaps
    // before the exchange — see graft.plans.TopKPerKey), plus the
    // optimizer rule that routes the stock row_number+filter idiom to it
    ext.injectPlannerStrategy(_ => TopKPerKey.TopKStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite())
  }
}
