package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the per-subspace PQ encode and LUT
  * build (the preference-(b) extension point: a codegen'd Expression
  * beats the composed higher-order-function tree).
  *
  * WHY: `zip_with`/`aggregate` are CodegenFallback — every one of the
  * 16 per-codeword dots in the composed pqCodeCol/pqLutCol costs a
  * lambda dispatch plus an intermediate array allocation PER ROW, and
  * the profile (tools/BatchProfile at the 10x fixture, re-runnable
  * from commit c8a8826) measured the
  * encode+LUT stages at ~17 s for 60k rows — ~100x the raw flops —
  * while the 1e8-pair ADC join itself was pair-proportional and fine.
  * These expressions do the same math as ONE flat primitive loop in
  * generated code.
  *
  * PARITY (bit-exact with the composed forms, which the hash gates
  * pin): the per-codeword dot accumulates left-to-right in the
  * subspace element order, exactly like `aggregate(zip_with(cb, sub,
  * (x, y) -> x * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)`; the
  * code argmax key is `dot - ||c||^2/2` with the half-norm summed
  * left-to-right in Scala at CONSTRUCTION time (same double as the
  * `lit` in the composed form); ties break to the smaller code index
  * (the composed (key desc, -code) struct-sort order); LUT entries
  * apply Spark's own `round(x, 0)` semantics (BigDecimal HALF_UP,
  * NaN/Inf passed through) then the non-ANSI double->long cast
  * (NaN -> 0, +/-Inf -> Long.MAX/MIN) — PqSubspaceSpec pins equality
  * against the composed twins on real data.
  */
private[graft] trait PqSubspaceBase extends UnaryExpression {
  def codebook: Array[Array[Double]]
  def offset: Int

  protected val subDim: Int = codebook.head.length
  protected val nCodes: Int = codebook.length
  /** Flat row-major copy for O(1) generated-code access. */
  protected lazy val flatCb: Array[Double] = codebook.flatten

  /** Malformed inputs yield NULL, never garbage (ADVICE r12): parquet
    * array columns are containsNull=true by schema default, so the
    * type check can't reject them without rejecting every real
    * embedding column — instead a vector too short for this subspace
    * (numElements < offset+subDim) or holding a null element in the
    * subspace range returns NULL from both eval and codegen. The
    * composed higher-order twins' behavior on such input is
    * unspecified (null-padded zip_with feeding array_sort);
    * PqSubspaceSpec pins bit-parity on well-formed data and the NULL
    * contract on malformed data. */
  override def nullable: Boolean = true

  /** True when the vector can't supply this subspace's elements. */
  protected def malformed(vec: ArrayData): Boolean = {
    if (vec.numElements() < offset + subDim) return true
    var j = 0
    while (j < subDim) {
      if (vec.isNullAt(offset + j)) return true
      j += 1
    }
    false
  }

  /** Generated twin of `malformed`, declaring boolean `bad`. */
  protected def genGuard(ctx: CodegenContext, vec: String,
      bad: String): String = {
    val j = ctx.freshName("gj")
    s"""
       |boolean $bad = $vec.numElements() < ${offset + subDim};
       |if (!$bad) {
       |  for (int $j = 0; $j < $subDim; $j++) {
       |    if ($vec.isNullAt($offset + $j)) { $bad = true; break; }
       |  }
       |}
     """.stripMargin
  }

  protected def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got ${t.catalogString}")
  }

  /** Left-to-right dot of codeword `c` with the subspace slice. */
  protected def dotAt(vec: ArrayData, c: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < subDim) {
      val x = if (elemIsFloat) vec.getFloat(offset + j).toDouble
              else vec.getDouble(offset + j)
      s += flatCb(c * subDim + j) * x
      j += 1
    }
    s
  }

  /** Generated inner dot loop, writing the sum into `s`. */
  protected def genDot(ctx: CodegenContext, vec: String, cbRef: String,
      c: String, s: String): String = {
    val j = ctx.freshName("j")
    val get = if (elemIsFloat) s"(double) $vec.getFloat($offset + $j)"
              else s"$vec.getDouble($offset + $j)"
    s"""
       |double $s = 0.0;
       |for (int $j = 0; $j < $subDim; $j++) {
       |  $s += $cbRef[$c * $subDim + $j] * ($get);
       |}
     """.stripMargin
  }
}

/** The argmax code of one subspace: max over codewords of
  * (dot - ||c||^2/2), ties to the smaller code. Returns int. */
case class PqSubspaceCode(child: Expression,
    codebook: Array[Array[Double]], offset: Int) extends PqSubspaceBase {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_subspace_code"

  /** Half-norms, summed left-to-right like the composed form's
    * `lit(cw.map(x => x * x).sum / 2)`. */
  private lazy val halfNorms: Array[Double] =
    codebook.map(cw => cw.map(x => x * x).sum / 2)

  override protected def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (malformed(vec)) return null
    var best = 0
    var bestKey = Double.NegativeInfinity
    var c = 0
    while (c < nCodes) {
      val key = dotAt(vec, c) - halfNorms(c)
      if (key > bestKey) { bestKey = key; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val cbRef = ctx.addReferenceObj("pqCb", flatCb, "double[]")
      val hnRef = ctx.addReferenceObj("pqHn", halfNorms, "double[]")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val key = ctx.freshName("key")
      val best = ctx.freshName("best")
      val bestKey = ctx.freshName("bestKey")
      val bad = ctx.freshName("bad")
      s"""
         |${genGuard(ctx, vec, bad)}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $best = 0;
         |  double $bestKey = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $nCodes; $c++) {
         |    ${genDot(ctx, vec, cbRef, c, s)}
         |    double $key = $s - $hnRef[$c];
         |    if ($key > $bestKey) { $bestKey = $key; $best = $c; }
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqSubspaceCode =
    copy(child = newChild)
}

/** The micro-unit LUT of one subspace: per codeword,
  * `CAST(round(dot * 1e6) AS BIGINT)` with Spark's exact round/cast
  * semantics. Returns array<long> of length nCodes. */
case class PqSubspaceLut(child: Expression,
    codebook: Array[Array[Double]], offset: Int) extends PqSubspaceBase {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_subspace_lut"

  override protected def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (malformed(vec)) return null
    val out = new Array[Long](nCodes)
    var c = 0
    while (c < nCodes) {
      out(c) = PqSubspaceLut.microUnits(dotAt(vec, c))
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val cbRef = ctx.addReferenceObj("pqCb", flatCb, "double[]")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val bad = ctx.freshName("bad")
      // microUnits inlined (Janino + Scala-object static forwarders
      // don't mix reliably): Spark round(_, 0) HALF_UP semantics,
      // then the non-ANSI double->long cast
      s"""
         |${genGuard(ctx, vec, bad)}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $out = new long[$nCodes];
         |  for (int $c = 0; $c < $nCodes; $c++) {
         |    ${genDot(ctx, vec, cbRef, c, s)}
         |    double $x = $s * 1.0E6;
         |    if (Double.isNaN($x)) $out[$c] = 0L;
         |    else if ($x == Double.POSITIVE_INFINITY) $out[$c] = Long.MAX_VALUE;
         |    else if ($x == Double.NEGATIVE_INFINITY) $out[$c] = Long.MIN_VALUE;
         |    else $out[$c] = (long) java.math.BigDecimal.valueOf($x)
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqSubspaceLut =
    copy(child = newChild)
}

object PqSubspaceLut {
  /** `CAST(round(d * 1e6, 0) AS BIGINT)` exactly as Spark evaluates
    * it: Round on DoubleType passes NaN/Inf through and otherwise
    * rounds via BigDecimal HALF_UP; the non-ANSI double->long cast
    * maps NaN -> 0 and +/-Inf to Long.MAX/MIN. Public because the
    * generated code calls it. */
  def microUnits(d: Double): Long = {
    val x = d * 1e6
    if (java.lang.Double.isNaN(x)) 0L
    else if (x == Double.PositiveInfinity) Long.MaxValue
    else if (x == Double.NegativeInfinity) Long.MinValue
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }
}
