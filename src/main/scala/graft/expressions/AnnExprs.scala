package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the ANN family's per-corpus-row
  * broadcast-model scoring (r17 VERDICT #5: "check the ADC/rerank
  * scoring projections for remaining non-codegen expressions").
  *
  * The PQ encode and the IVF cell assignment both score every corpus
  * vector against a small broadcast model array with
  * `filter`/`transform`/`array_min` higher-order functions — all
  * CodegenFallback, so every corpus row paid the interpreted evaluator
  * plus per-codeword struct/array allocations (q88's encode runs the
  * filter+transform+argmin 8× per row; q61/q75/q187 and the q105/q160
  * index builds pay the cell argmin per row, Lloyd rounds included).
  * These expressions run the same arithmetic as one primitive loop.
  *
  * Exactness: the distance/cosine is rounded through [[AnnExprs.round6]]
  * — the same NaN/Infinity passthrough + BigDecimal.valueOf HALF_UP
  * Spark's `round(_, 6)` computes — and the argmin compares (score, id)
  * exactly like `array_min`'s struct ordering: doubles via
  * `SQLOrderingUtil.compareDoubles` (±0.0 equal, NaN greatest), ties to
  * the lower id. ExpressionsSpec pins both natives ≡ their declarative
  * forms on the real corpus model; the q61/q75/q88/q105/q160/q187
  * oracles keep the declarative replay, so the driver's hash gate
  * re-proves equivalence on every run.
  *
  * Precondition (the [[FloatVecDot]] convention): non-null inputs with
  * non-null elements — a NULL input returns NULL here, where the HOF
  * chain would degrade to min-id/array-of-null shapes. Every wired site
  * feeds parquet-sourced non-null vectors and a collect_list model row.
  */
object AnnExprs {

  /** Spark's `round(d, 6)` for doubles: NaN/±Infinity pass through,
    * everything else via BigDecimal.valueOf + HALF_UP at scale 6. */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `(d, id)` strictly better than `(bd, bid)` under array_min's struct
    * ordering. */
  @inline private[expressions] def better(d: Double, id: Long, bd: Double,
      bid: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(d, bd)
    c < 0 || (c == 0 && id < bid)
  }

  /** All [[PqCodesOf.numSub]] PQ codes of `emb` against codebook `cb`:
    * per subspace m, the cidx minimizing round6(csq − 2·dot(slice_m,
    * cvec)) with ties to the lower cidx; a subspace with no codewords
    * yields a null slot (array_min over an empty filter). */
  def pqCodes(emb: Column, cb: Column, numSub: Int): Column =
    Bridge.column(PqCodesOf(Bridge.expression(emb), Bridge.expression(cb), numSub))

  /** Nearest-cell id of `(emb, nrm)` against the broadcast `cells`
    * array: argmin of round6(−dot/(nrm·cn)) with ties to the lower
    * cell_id; null when `cells` is empty. */
  def cellArgMin(emb: Column, nrm: Column, cells: Column): Column =
    Bridge.column(CellArgMin(Bridge.expression(emb), Bridge.expression(nrm),
      Bridge.expression(cells)))
}

/** `array<int>` of the nearest-codeword index per PQ subspace — the
  * native twin of SimOps.pqEncode's per-subspace
  * `array_min(transform(filter(cb, sub = m), …)).code` chain.
  *
  * DELIBERATELY CodegenFallback (r18): the codes feed the shortlist's
  * corpus × queries pair join, and a codegen-supporting expression
  * fuses into the join's whole-stage loop where its evaluation is
  * DEFERRED to the point of use — re-encoding every corpus row once
  * per query (measured 1.4 s → 3.7 s on q88). A fallback expression
  * excludes its Project from whole-stage codegen, so the codes
  * materialize exactly once per corpus row — the same structure the
  * HOF chain had, with the interpreted per-codeword evaluator replaced
  * by one primitive loop. The eval itself is compiled Scala; only the
  * per-row dispatch is interpreted. */
case class PqCodesOf(left: Expression, right: Expression, numSub: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private def cbStruct: Option[StructType] = right.dataType match {
    case ArrayType(s: StructType, _) => Some(s)
    case _ => None
  }
  // field ordinals resolved by NAME so a reordered codebook schema can
  // never silently read the wrong slot
  @transient private lazy val ords: (Int, Int, Int, Int, Int) = {
    val s = cbStruct.get
    (s.fieldIndex("sub"), s.fieldIndex("cidx"), s.fieldIndex("cvec"),
      s.fieldIndex("csq"), s.size)
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType match {
      case ArrayType(FloatType, _) => cbStruct.exists { s =>
        def f(n: String) = s.fields.find(_.name == n).map(_.dataType)
        f("sub").contains(IntegerType) && f("cidx").contains(IntegerType) &&
          (f("cvec") match { case Some(ArrayType(FloatType, _)) => true; case _ => false }) &&
          f("csq").contains(DoubleType)
      }
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<struct<sub:int,cidx:int," +
        s"cvec:array<float>,csq:double>>), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "pq_codes"

  override protected def nullSafeEval(e: Any, c: Any): Any = {
    val (sub, cidx, cvec, csq, nf) = ords
    PqCodesOf.codes(e.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      numSub, sub, cidx, cvec, csq, nf)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqCodesOf {
  def codes(emb: ArrayData, cb: ArrayData, numSub: Int, subOrd: Int,
      cidxOrd: Int, cvecOrd: Int, csqOrd: Int, numFields: Int): ArrayData = {
    val subDim = emb.numElements() / numSub
    val bestD = new Array[Double](numSub)
    val bestC = new Array[Int](numSub)
    val has = new Array[Boolean](numSub)
    val n = cb.numElements()
    var i = 0
    while (i < n) {
      if (!cb.isNullAt(i)) {
        val row = cb.getStruct(i, numFields)
        val m = row.getInt(subOrd)
        if (m >= 0 && m < numSub) {
          val cidx = row.getInt(cidxOrd)
          val cv = row.getArray(cvecOrd)
          val base = m * subDim
          val k = math.min(subDim, cv.numElements())
          var s = 0.0
          var j = 0
          while (j < k) {
            s += emb.getFloat(base + j).toDouble * cv.getFloat(j).toDouble
            j += 1
          }
          val d = AnnExprs.round6(row.getDouble(csqOrd) - 2.0 * s)
          if (!has(m) || AnnExprs.better(d, cidx.toLong, bestD(m), bestC(m).toLong)) {
            bestD(m) = d; bestC(m) = cidx; has(m) = true
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](numSub)
    var m = 0
    while (m < numSub) {
      out(m) = if (has(m)) Int.box(bestC(m)) else null
      m += 1
    }
    new GenericArrayData(out)
  }
}

/** The nearest-cell id — the codegen'd twin of SimOps.assignToCells'
  * `array_min(transform(cells, …)).cell_id` argmin (rounded-cosine,
  * min-cell_id tiebreak). Returns the cells array's cell_id type
  * (int or long). */
case class CellArgMin(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  private def cellStruct: Option[StructType] = third.dataType match {
    case ArrayType(s: StructType, _) => Some(s)
    case _ => None
  }
  @transient private lazy val ords: (Int, Int, Int, Int) = {
    val s = cellStruct.get
    (s.fieldIndex("cell_id"), s.fieldIndex("centroid"), s.fieldIndex("cn"),
      s.size)
  }
  private def idType: DataType =
    cellStruct.flatMap(_.fields.find(_.name == "cell_id"))
      .map(_.dataType).getOrElse(LongType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (first.dataType, second.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) => cellStruct.exists { s =>
        def f(n: String) = s.fields.find(_.name == n).map(_.dataType)
        (f("cell_id").contains(IntegerType) || f("cell_id").contains(LongType)) &&
          (f("centroid") match { case Some(ArrayType(FloatType, _)) => true; case _ => false }) &&
          f("cn").contains(DoubleType)
      }
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, double, array<struct<" +
        s"cell_id:int|bigint,centroid:array<float>,cn:double>>), got " +
        s"${first.dataType.simpleString} / ${second.dataType.simpleString} / " +
        s"${third.dataType.simpleString}")
  }
  override def dataType: DataType = idType
  // no non-null cell: array_min over an empty transform is null
  override def nullable: Boolean = true
  override def prettyName: String = "cell_arg_min"

  override protected def nullSafeEval(e: Any, nr: Any, cs: Any): Any = {
    val (id, cen, cn, nf) = ords
    val r = CellArgMin.argMin(e.asInstanceOf[ArrayData],
      nr.asInstanceOf[Double], cs.asInstanceOf[ArrayData],
      idType == LongType, id, cen, cn, nf)
    if (CellArgMin.none(r, cs.asInstanceOf[ArrayData])) null
    else if (idType == LongType) java.lang.Long.valueOf(r)
    else java.lang.Integer.valueOf(r.toInt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (id, cen, cn, nf) = ords
    val isLong = idType == LongType
    val rv = ctx.freshName("argmin")
    nullSafeCodeGen(ctx, ev, (e, nr, cs) =>
      s"""
         |long $rv = graft.expressions.CellArgMin.argMin(
         |  $e, $nr, $cs, $isLong, $id, $cen, $cn, $nf);
         |if (graft.expressions.CellArgMin.none($rv, $cs)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${if (isLong) rv else s"(int) $rv"};
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object CellArgMin {
  /** Argmin cell id, or Long.MinValue when `cells` contributes no
    * entries — [[none]] tells that sentinel from a real MinValue id. */
  def argMin(emb: ArrayData, nrm: Double, cells: ArrayData, idIsLong: Boolean,
      idOrd: Int, cenOrd: Int, cnOrd: Int, numFields: Int): Long = {
    val n = cells.numElements()
    var bestD = 0.0
    var bestId = java.lang.Long.MIN_VALUE
    var has = false
    var i = 0
    while (i < n) {
      if (!cells.isNullAt(i)) {
        val row = cells.getStruct(i, numFields)
        val id = if (idIsLong) row.getLong(idOrd) else row.getInt(idOrd).toLong
        val cen = row.getArray(cenOrd)
        val cn = row.getDouble(cnOrd)
        val k = math.min(emb.numElements(), cen.numElements())
        var s = 0.0
        var j = 0
        while (j < k) {
          s += emb.getFloat(j).toDouble * cen.getFloat(j).toDouble
          j += 1
        }
        val d = AnnExprs.round6(-(s / (nrm * cn)))
        if (!has || AnnExprs.better(d, id, bestD, bestId)) {
          bestD = d; bestId = id; has = true
        }
      }
      i += 1
    }
    bestId
  }

  /** True when [[argMin]] scanned no cell — `cells` is empty or every
    * slot is null — so its result `r` is the sentinel, not an id (a
    * real MinValue id needs a non-null slot). */
  def none(r: Long, cells: ArrayData): Boolean =
    r == java.lang.Long.MIN_VALUE && {
      var i = 0
      while (i < cells.numElements() && cells.isNullAt(i)) i += 1
      i == cells.numElements()
    }
}
