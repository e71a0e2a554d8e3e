package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Codegen'd kernels for the recursive technical indicators.
  *
  * The declarative forms in [[graft.ta.TA]] are higher-order `aggregate`
  * folds — exact but interpreted (Catalyst HOFs are CodegenFallback, the
  * same trap measured for minhash and cosine). These loops compute the
  * IDENTICAL recursions in the IDENTICAL left-to-right accumulation order,
  * so results are bit-identical doubles (cross-check-tested in TASpec).
  *
  * Recursion contracts (pandas parity, enrichment-trigger/main.py:335-348):
  *  - EMA, ewm(span, adjust=False): ema_0 = x_0;
  *    ema_t = alpha*x_t + (1-alpha)*ema_{t-1}
  *  - RSI(n), Wilder: seed avg gain/loss = mean of first n diffs' parts;
  *    then rma_t = (rma_{t-1}*(n-1) + x_t)/n; RSI = 100 - 100/(1+AG/AL);
  *    null when fewer than n diffs, 100 when AL == 0.
  *
  * Comparisons follow Spark SQL's double ordering, not Java's: NaN is
  * greater than every number, so a NaN diff counts as a gain exactly as
  * `when(d > 0, d)` does in the declarative folds.
  */
object FastTA {

  private def gt(a: Double, b: Double): Boolean = SQLOrderingUtil.compareDoubles(a, b) > 0
  private def lt(a: Double, b: Double): Boolean = SQLOrderingUtil.compareDoubles(a, b) < 0

  /** EMA of the last element; NaN on an empty array (the declarative
    * fold's NaN seed), matching [[graft.ta.TA.emaOverList]]. */
  def emaLastValue(arr: ArrayData, alpha: Double): Double = {
    val m = arr.numElements()
    var acc = Double.NaN
    var i = 0
    while (i < m) {
      val x = arr.getDouble(i)
      acc = if (java.lang.Double.isNaN(acc)) x else alpha * x + (1 - alpha) * acc
      i += 1
    }
    acc
  }

  /** Wilder RSI(n) of the last element; null when fewer than n diffs. */
  def rsiLastValue(arr: ArrayData, n: Int): Any = {
    val m = arr.numElements()
    if (m - 1 < n) return null
    var sumG = 0.0
    var sumL = 0.0
    var i = 1
    while (i <= n) {
      val d = arr.getDouble(i) - arr.getDouble(i - 1)
      sumG += (if (gt(d, 0)) d else 0.0)
      sumL += (if (lt(d, 0)) -d else 0.0)
      i += 1
    }
    var ag = sumG / n
    var al = sumL / n
    while (i < m) {
      val d = arr.getDouble(i) - arr.getDouble(i - 1)
      ag = (ag * (n - 1) + (if (gt(d, 0)) d else 0.0)) / n
      al = (al * (n - 1) + (if (lt(d, 0)) -d else 0.0)) / n
      i += 1
    }
    if (al == 0) 100.0 else 100.0 - 100.0 / (1.0 + ag / al)
  }

  /** Names and order of the [[technicals]] kernel's output fields. */
  val TechnicalFields: Seq[String] = Seq("rsi_14", "macd", "macd_signal", "macd_hist",
    "sma_50", "sma_200", "ema_21", "obv", "bb_mid", "bb_upper", "bb_lower", "atr_14",
    "high_52w", "low_52w", "recent_high", "recent_low")

  /** Latest-bar technicals (W1-W9) of one ticker in one loop over its
    * date-sorted bars: Wilder RSI(14) and ATR(14), MACD(12,26,9), EMA(21),
    * SMA(50/200), Bollinger(20, 2 sample sd), OBV, whole-history and
    * last-20 extrema; only the Bollinger deviations take a second pass,
    * over the last 20 closes. Every recursion, sum and extremum runs in the
    * same left-to-right order as the declarative folds of [[graft.ta.TA]]
    * and the SMA/Bollinger/OBV folds they replace, with Spark's comparison
    * and `greatest`/`array_max` semantics, so each double is bit-identical.
    * Fields follow [[TechnicalFields]]; windowed ones are null below their
    * length (RSI/ATR below 15 bars, Bollinger below 20, SMA below n). A null
    * high/low/close/volume counts as NaN. `vt` is the volume's type. */
  def technicals(bars: ArrayData, nFields: Int, hi: Int, lo: Int, cl: Int, vo: Int,
      vt: DataType): InternalRow = {
    def num(r: InternalRow, o: Int, t: DataType): Double =
      if (r.isNullAt(o)) Double.NaN
      else t match {
        case DoubleType => r.getDouble(o)
        case FloatType => r.getFloat(o).toDouble
        case LongType => r.getLong(o).toDouble
        case IntegerType => r.getInt(o).toDouble
        case ShortType => r.getShort(o).toDouble
        case _ => r.getByte(o).toDouble
      }
    val m = bars.numElements()
    val out = new Array[Any](TechnicalFields.size)
    val (af, as, ag, ae) = (2.0 / 13, 2.0 / 27, 2.0 / 10, 2.0 / 22)
    val from20 = math.max(m - 20, 0)
    val c = new Array[Double](m)
    var gain, loss, sig, obv, atr, sum20, sum50, sum200 = 0.0
    var fast, slow, ema, high, low, high20, low20 = Double.NaN
    var i = 0
    while (i < m) {
      val r = bars.getStruct(i, nFields)
      val h = num(r, hi, DoubleType)
      val l = num(r, lo, DoubleType)
      val x = num(r, cl, DoubleType)
      c(i) = x
      var tr = h - l
      if (i == 0) { fast = x; slow = x; ema = x; high = h; low = l }
      else {
        val prev = c(i - 1)
        val d = x - prev
        // RSI: Wilder averages of gains/losses, seeded by the first 14
        val g = if (gt(d, 0)) d else 0.0
        val s = if (lt(d, 0)) -d else 0.0
        if (i <= 14) {
          gain += g; loss += s
          if (i == 14) { gain /= 14; loss /= 14 }
        } else { gain = (gain * 13 + g) / 14; loss = (loss * 13 + s) / 14 }
        fast = af * x + (1 - af) * fast
        slow = as * x + (1 - as) * slow
        sig = ag * (fast - slow) + (1 - ag) * sig
        ema = if (java.lang.Double.isNaN(ema)) x else ae * x + (1 - ae) * ema
        val v = num(r, vo, vt)
        obv += (if (gt(d, 0)) v else if (lt(d, 0)) -v else 0.0)
        // true range against the prior close
        val up = math.abs(h - prev)
        val dn = math.abs(l - prev)
        if (gt(up, tr)) tr = up
        if (gt(dn, tr)) tr = dn
        if (gt(h, high)) high = h
        if (lt(l, low)) low = l
      }
      if (i < 14) { atr += tr; if (i == 13) atr /= 14 } else atr = (atr * 13 + tr) / 14
      if (i == from20) { high20 = h; low20 = l }
      else if (i > from20) { if (gt(h, high20)) high20 = h; if (lt(l, low20)) low20 = l }
      if (i >= m - 20) sum20 += x
      if (i >= m - 50) sum50 += x
      if (i >= m - 200) sum200 += x
      i += 1
    }
    if (m > 14) out(0) = if (loss == 0) 100.0 else 100.0 - 100.0 / (1.0 + gain / loss)
    if (m > 0) {
      out(1) = fast - slow; out(2) = sig; out(3) = (fast - slow) - sig
      out(6) = ema
      out(12) = high; out(13) = low; out(14) = high20; out(15) = low20
    }
    out(7) = obv
    if (m >= 50) out(4) = sum50 / 50
    if (m >= 200) out(5) = sum200 / 200
    if (m >= 20) {
      val mid = sum20 / 20
      var ss = 0.0
      i = m - 20
      while (i < m) { ss += (c(i) - mid) * (c(i) - mid); i += 1 }
      val sd = math.sqrt(ss / 19)
      out(8) = mid; out(9) = mid + sd * 2.0; out(10) = mid - sd * 2.0
    }
    if (m >= 15) out(11) = atr
    new GenericInternalRow(out)
  }

  /** The [[technicals]] kernel over a `sort_array(collect_list(struct(...)))`
    * column whose struct has double `high`, `low`, `close` and a numeric
    * `volume`. */
  def technicalsOf(bars: Column): Column =
    GraftShim.column(TechnicalsExpr(GraftShim.expression(bars)))

  def emaLast(ordered: Column, n: Int): Column =
    GraftShim.column(EmaLastExpr(GraftShim.expression(ordered), 2.0 / (n + 1)))

  def rsiLast(ordered: Column, n: Int): Column =
    GraftShim.column(RsiLastExpr(GraftShim.expression(ordered), n))
}

/** array<double> ordered closes -> EMA of the final element. */
case class EmaLastExpr(child: Expression, alpha: Double) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ema_last"

  override protected def nullSafeEval(input: Any): Any =
    FastTA.emaLastValue(input.asInstanceOf[ArrayData], alpha)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastTA.emaLastValue($c, $alpha)")

  override protected def withNewChildInternal(newChild: Expression): EmaLastExpr =
    copy(child = newChild)
}

/** array<double> ordered closes -> Wilder RSI(n) of the final element. */
case class RsiLastExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_rsi_last"

  override protected def nullSafeEval(input: Any): Any =
    FastTA.rsiLastValue(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("rsi")
      s"""
         |Object $r = graft.functions.FastTA.rsiLastValue($c, $n);
         |${ev.isNull} = $r == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : ((Double) $r).doubleValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RsiLastExpr =
    copy(child = newChild)
}

/** array<struct<..., high, low, close, volume>> bars sorted by date -> the
  * [[FastTA.technicals]] struct. Misuse (missing field, non-double price,
  * non-numeric volume) is an analysis error. */
case class TechnicalsExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_technicals"

  private def bar: StructType = child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def ord(name: String): Int = bar.fieldIndex(name)
  private def fieldType(s: StructType, name: String): Option[DataType] =
    s.fields.find(_.name == name).map(_.dataType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if Seq("high", "low", "close").forall(n => fieldType(s, n).contains(DoubleType)) &&
          fieldType(s, "volume").exists(Seq(DoubleType, FloatType, LongType, IntegerType,
            ShortType, ByteType).contains) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<struct> with double high/low/close and a numeric volume, got ${other.simpleString}")
  }

  override def dataType: DataType =
    StructType(FastTA.TechnicalFields.map(StructField(_, DoubleType, nullable = true)))

  override protected def nullSafeEval(input: Any): Any =
    FastTA.technicals(input.asInstanceOf[ArrayData], bar.size, ord("high"), ord("low"),
      ord("close"), ord("volume"), bar("volume").dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vt = ctx.addReferenceObj("volumeType", bar("volume").dataType)
    defineCodeGen(ctx, ev, c => s"graft.functions.FastTA.technicals($c, ${bar.size}, " +
      s"${ord("high")}, ${ord("low")}, ${ord("close")}, ${ord("volume")}, $vt)")
  }

  override protected def withNewChildInternal(newChild: Expression): TechnicalsExpr =
    copy(child = newChild)
}
