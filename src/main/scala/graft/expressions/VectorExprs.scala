package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for float-vector dot products.
  *
  * The similarity/dedup hot path evaluates a dot product per candidate
  * PAIR (O(n·k) to O(n²) evaluations). The declarative form —
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — allocates a zipped array
  * and runs the interpreted higher-order-function evaluator per pair;
  * this expression compiles to a tight primitive loop inside whole-stage
  * codegen (measured ~20× faster at 2M pairs, q52).
  *
  * Semantics are identical to the declarative form: elementwise
  * float→double widening, left-to-right summation — so results stay
  * bit-equal to the DuckDB oracle's sequential `list_sum`.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> inputs, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the overlap |a ∩ b| of two ascending,
  * duplicate-free `array<bigint>` — the All-Pairs/PPJoin verify step.
  *
  * q49 verifies every prefix-filter candidate pair against the two
  * docs' full kept-shingle sets. `size(array_intersect(a, b))` builds a
  * hash set of one side and a result array per pair; with both sets
  * encoded as ascending integer ids the overlap is one merge: two
  * cursors, one long compare per step, no allocation.
  *
  * Precondition: both arrays ascending, duplicate-free and null-free
  * (q49's `sort_array(collect_list(sid))` over a per-doc distinct set).
  * Under it the result equals `size(array_intersect(a, b))`. A NULL
  * array yields NULL.
  */
case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> inputs, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlap.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row: the same loop on both paths, and the JIT
    // inlines it into the stage's generated code
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.SortedOverlap.overlap($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlap {
  /** |x ∩ y| of two ascending, duplicate-free long arrays by merge. */
  def overlap(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val u = x.getLong(i)
      val v = y.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** Native Catalyst expression for exact integer-vector dot products
  * surfaced as DECIMAL(38,0).
  *
  * The semantic-dedup verify (q149/q153) evaluates an EXACT dot per
  * candidate pair — and its threshold predicate references the dot
  * three times (dot > 0, 400·dot² ≥ 361·na2·nb2, and the displayed
  * cosine), so the declarative
  * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DECIMAL(38,0))*y), …)`
  * form runs the interpreted higher-order-function evaluator (zipped
  * array allocation + per-element Decimal boxing) up to three times
  * per pair (r17 plan audit: the whole fold is inlined verbatim into
  * the join CONDITION twice plus the projection). This expression is
  * the [[FloatVecDot]] treatment for the integer lattice: a primitive
  * long loop, escalating to BigInteger only if a step would overflow
  * int64 — bit-identical to the Decimal fold for every equal-length,
  * null-free input (both compute the exact integer Σ aᵢ·bᵢ;
  * DECIMAL(38,0) never rounds). Precondition (r17 ADVICE): the call
  * sites must guarantee equal-length arrays with no null elements —
  * on unequal lengths the fold's zip_with null-pads to NULL while this
  * sums the common prefix, and a null element NULLs the fold while
  * ArrayData.getLong on a null slot is undefined. Every wired site
  * (q149/q153 component vectors) is fixed-dimension and null-free.
  */
case class LongVecDotDecimal(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> inputs, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DecimalType(38, 0)
  // a > 38-digit sum degrades to null, the CheckOverflow convention the
  // declarative Decimal fold carried — so the slot must stay nullable
  override def nullable: Boolean = true
  override def prettyName: String = "long_vec_dot_dec"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongVecDotDecimal.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      // one monomorphic static call per row — no lambda interpretation,
      // no zipped-array allocation; the helper stays on primitive longs
      // until an overflow check fails (never, at sane component sizes).
      // dot() returns null when the sum exceeds 38 digits — resultCode
      // must reset isNull AFTER the call (the CheckOverflow pattern),
      // because nullSafeCodeGen has already emitted `isNull = false`
      // (r17 ADVICE: without this the codegen path handed a null Decimal
      // downstream with isNull=false)
      s"""
         |${ev.value} = graft.expressions.LongVecDotDecimal.dot($a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongVecDotDecimal {
  /** Exact Σ aᵢ·bᵢ over the common prefix, as Decimal(38,0). Fast path
    * accumulates in one long (overflow-checked); the BigInteger path
    * continues from the partial sum, so the result is the exact integer
    * either way. */
  def dot(x: ArrayData, y: ArrayData): Decimal = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    var big: java.math.BigInteger = null
    while (i < n && big == null) {
      try {
        s = Math.addExact(s, Math.multiplyExact(x.getLong(i), y.getLong(i)))
        i += 1
      } catch { case _: ArithmeticException =>
        big = java.math.BigInteger.valueOf(s)
      }
    }
    val d =
      if (big == null) Decimal(s)
      else {
        while (i < n) {
          big = big.add(java.math.BigInteger.valueOf(x.getLong(i))
            .multiply(java.math.BigInteger.valueOf(y.getLong(i))))
          i += 1
        }
        Decimal(new java.math.BigDecimal(big))
      }
    // changePrecision is the public path generated code itself uses; a
    // > 38-digit sum degrades to null, the CheckOverflow convention
    if (d.changePrecision(38, 0)) d else null
  }
}

/** Native Catalyst expression for the random-hyperplane LSH sign bucket.
  *
  * The LSH candidate generators (q54/q78/q170 and the SimOps serving
  * seams) bucket every corpus vector by `numPlanes` sign bits; the
  * declarative form evaluated one
  * `aggregate(zip_with(emb, sequence(0, size-1), …))` fold through the
  * interpreted higher-order-function evaluator PER PLANE per row —
  * 8 zipped-array allocations and interpreted lambda walks per corpus
  * vector (×4 tables under q78). This is the [[FloatVecDot]] /
  * `ScriptCountsOf` treatment: ONE primitive pass over the vector
  * accumulating all plane sums, then the sign bits.
  *
  * Bit-identical to the declarative form: per plane the terms
  * `(double)emb[j] * (double)(((firstPlane+p)*31 + j*17) % 13 - 6)` are
  * accumulated left-to-right in double from 0.0 (element-major with one
  * accumulator per plane preserves each plane's term order), the bit is
  * set iff the sum `>= 0` under SPARK's comparison semantics (NaN is
  * greater than everything, so a NaN sum sets the bit — unlike java's
  * NaN >= 0), and a NULL or EMPTY input yields bucket 0, never
  * NULL — the `when(d >= 0, bit).otherwise(0)` fall-through the
  * declarative form carried (empty: `sequence(0, -1)` = [0, -1] makes
  * zip_with null-pad and the fold NULL). ExpressionsSpec pins native ≡ declarative on a fixture with
  * negative/NaN/empty/null inputs; the q54/q78/q170 oracles keep the
  * per-plane `list_sum` replay, so the driver's hash gate re-proves the
  * equivalence on every run.
  */
case class LshBucketOf(child: Expression, firstPlane: Int, numPlanes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> input, got ${t.simpleString}")
    }
  override def dataType: DataType = IntegerType
  // NULL input maps to bucket 0 (see scaladoc) — the result is never null
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else LshBucketOf.bucket(v.asInstanceOf[ArrayData], firstPlane, numPlanes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      final int ${ev.value} = ${childGen.isNull} ? 0 :
        graft.expressions.LshBucketOf.bucket(${childGen.value}, $firstPlane, $numPlanes);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketOf {
  /** All `numPlanes` sign bits in one pass: plane p's bit (1 << p) is set
    * iff Σⱼ (double)x[j] · coef(firstPlane+p, j) ≥ 0, with
    * coef(pp, j) = (pp·31 + j·17) % 13 − 6 in int arithmetic (the SimOps
    * integer plane formula). Terms accumulate in j order per plane. */
  def bucket(x: ArrayData, firstPlane: Int, numPlanes: Int): Int = {
    val n = x.numElements()
    // empty vector: the declarative form's sequence(0, -1) is [0, -1],
    // zip_with null-pads, the fold yields NULL and every plane's
    // when() falls through — bucket 0, NOT the all-bits 0.0 >= 0 case
    if (n == 0) return 0
    val acc = new Array[Double](numPlanes)
    var j = 0
    while (j < n) {
      val v = x.getFloat(j).toDouble
      var p = 0
      while (p < numPlanes) {
        acc(p) += v * (((firstPlane + p) * 31 + j * 17) % 13 - 6).toDouble
        p += 1
      }
      j += 1
    }
    var b = 0
    var p = 0
    while (p < numPlanes) {
      // Spark SQL comparison semantics: NaN > everything, so a NaN sum
      // SETS the bit (java's NaN >= 0 alone would clear it)
      if (acc(p) >= 0 || java.lang.Double.isNaN(acc(p))) b |= 1 << p
      p += 1
    }
    b
  }
}

object VectorExprs {
  /** Dot product of two `array<float>` columns, as double. */
  def vecDot(a: Column, b: Column): Column =
    Bridge.column(FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** L2 norm of an `array<float>` column, as double. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Exact integer dot of two `array<bigint>` columns, as
    * DECIMAL(38,0) — the codegen'd twin of the
    * `aggregate(zip_with(…, CAST AS DECIMAL(38,0) …))` fold. */
  def vecDotDec(a: Column, b: Column): Column =
    Bridge.column(LongVecDotDecimal(Bridge.expression(a), Bridge.expression(b)))

  /** |a ∩ b| of two ascending, duplicate-free `array<bigint>` columns
    * (bigint) — the merge twin of `size(array_intersect(a, b))`. */
  def sortedOverlap(a: Column, b: Column): Column =
    Bridge.column(SortedOverlap(Bridge.expression(a), Bridge.expression(b)))

  /** `numPlanes`-bit LSH sign bucket of an `array<float>` column (int) —
    * the codegen'd twin of the per-plane
    * `aggregate(zip_with(emb, sequence(…), …))` sign fold. */
  def lshBucket(emb: Column, firstPlane: Int, numPlanes: Int): Column =
    Bridge.column(LshBucketOf(Bridge.expression(emb), firstPlane, numPlanes))
}
