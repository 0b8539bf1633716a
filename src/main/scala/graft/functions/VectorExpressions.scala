package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._

/** Native Catalyst expression for `array<float>` dot product with
  * whole-stage codegen (SURVEY §4.3: optional, bench-gated — the HOF
  * `aggregate(zip_with(...))` formulation is interpreted per-element and
  * dominated the similarity benchmarks at sf0.1; this generates a tight
  * primitive loop instead).
  *
  * Semantic contract (r12, unified with the HOF form on ALL inputs):
  * `dot_f32(a, b)` ≡ `aggregate(zip_with(a, b, (x, y) ->
  * CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)`.
  * In particular: mismatched lengths → NULL (zip_with pads the shorter
  * side with NULL, which propagates through the fold), any NULL element
  * → NULL, two empty arrays → 0.0. The original min-length loop silently
  * computed a PARTIAL dot for a truncated vector and read NULL slots as
  * 0.0f garbage — exactly the corrupt-row classes the emb_dirty corpus
  * injects — so a malformed embedding now yields the SQL spelling of
  * "undefined" instead of a plausible wrong similarity.
  *
  * Arithmetic contract (oracle parity): identical to the HOF form and the
  * DuckDB fragment — left-to-right accumulation in DOUBLE of
  * (double)a[i] * (double)b[i]. Same op order ⇒ bit-identical results.
  */
case class DotF32(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32 =
    copy(left = l, right = r)
}

/** Mixed-precision sibling of [[DotF32]]: `array<float> · array<double>`.
  *
  * Exists for the IVF assignment hot path (r12 session 5, measured): the
  * vector×centroid cosine runs N×cells times, and with the HOF
  * `aggregate(zip_with(...))` spelling each dot is an interpreted
  * per-element fold — the ×16 scale probe showed assignment COMPUTE
  * (not the within-cell join it exists to shrink) growing linearly with
  * the cell count and dominating the key (12.0 s → 25.0 s when cells
  * went 16 → 64). Centroids are f64 (mean_vec output), embeddings f32,
  * so DotF32 can't serve without a cast that would change assignment
  * arithmetic vs the oracle.
  *
  * Semantic contract (same as DotF32, property-pinned in
  * GenPropertySpec): `dot_f32f64(a, c)` ≡ `aggregate(zip_with(a, c,
  * (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)` —
  * mismatched lengths → NULL, any NULL element → NULL, two empty arrays
  * → 0.0, left-to-right DOUBLE accumulation ⇒ bit-identical to the HOF
  * form and the DuckDB `list_transform` sum.
  */
case class DotF32F64(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f32f64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $a.getFloat($i)) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32F64 =
    copy(left = l, right = r)
}

/** Mean of float vectors: state = (per-dim double sums, count). The
  * Aggregator surface exercises custom partial-merge state (SURVEY §2.10).
  */
object VectorAvg extends Aggregator[Array[Float], (Array[Double], Long), Array[Double]] {
  // Buffer sized lazily from the first vector seen — works for any
  // dimensionality, and a dimension mismatch mid-group fails loudly.
  def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
  def reduce(b: (Array[Double], Long), a: Array[Float]): (Array[Double], Long) = {
    val sums = if (b._2 == 0) new Array[Double](a.length) else b._1
    require(sums.length == a.length,
      s"vector dimension mismatch: ${sums.length} vs ${a.length}")
    var i = 0
    while (i < a.length) { sums(i) += a(i); i += 1 }
    (sums, b._2 + 1)
  }
  def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
    if (x._2 == 0) y
    else if (y._2 == 0) x
    else {
      require(x._1.length == y._1.length,
        s"vector dimension mismatch: ${x._1.length} vs ${y._1.length}")
      var i = 0
      while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
  }
  def finish(r: (Array[Double], Long)): Array[Double] =
    if (r._2 == 0) Array.empty else r._1.map(_ / r._2)
  def bufferEncoder: ExpressionEncoder[(Array[Double], Long)] =
    ExpressionEncoder[(Array[Double], Long)]()
  def outputEncoder: ExpressionEncoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
}
