package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.FastTA
import graft.pipelines.Enrich
import graft.ta.TA

/** The one-pass technicals kernel against the declarative folds it
  * replaces: every indicator must come out as the same double, bit for bit,
  * on short and long histories, flat closes and NaN closes. */
class TechnicalsKernelSpec extends AnyFunSuite with SparkFixture {

  import TechnicalsKernelSpec._

  private def bars(id: String, closes: Seq[Double], seed: Int): Seq[Bar] = {
    val rnd = new scala.util.Random(seed)
    closes.zipWithIndex.map { case (c, i) =>
      val span = 0.2 + rnd.nextDouble()
      Bar(id, Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)),
        c - 0.1, c + span, c - span * 0.7, c, 1000.0 + rnd.nextInt(5000))
    }
  }

  private def walk(n: Int, seed: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.iterate(50.0, n)(p => math.max(1.0, p + rnd.nextGaussian()))
  }

  private lazy val histories: Seq[Bar] = {
    val lengths = Seq(19, 20, 49, 50, 199, 200, 290)
    lengths.flatMap(n => bars(s"W$n", walk(n, n), n)) ++
      bars("FLAT", Seq.fill(60)(42.0), 1) ++
      bars("NAN", walk(60, 3).zipWithIndex.map { case (c, i) =>
        if (i == 7 || i == 58) Double.NaN else c }, 2) ++
      bars("NANLAST", walk(30, 4).updated(29, Double.NaN), 5)
  }

  private def collected: DataFrame = {
    import spark.implicits._
    histories.toDF()
      .groupBy(col("ticker"))
      .agg(sort_array(collect_list(struct(
        col("date"), col("open"), col("high"), col("low"),
        col("close"), col("volume")))).as("h"))
  }

  /** The SMA/Bollinger/OBV/extremum folds of the enrichment stage before
    * the kernel, with TA's declarative RSI/EMA/MACD/ATR. */
  private def declarative(h: Column): Seq[(String, Column)] = {
    val cs = transform(h, _.getField("close"))
    val hs = transform(h, _.getField("high"))
    val ls = transform(h, _.getField("low"))
    val vs = transform(h, _.getField("volume"))
    val m = size(h)
    def lastN(arr: Column, n: Int): Column = slice(arr, greatest(m - (n - 1), lit(1)), lit(n))
    def meanOf(arr: Column): Column = aggregate(arr, lit(0.0), (a, x) => a + x) / size(arr)
    val bbMean = meanOf(lastN(cs, 20))
    val bbSd = sqrt(aggregate(lastN(cs, 20), lit(0.0),
      (a, x) => a + (x - bbMean) * (x - bbMean)) / (lit(20) - 1))
    val obv = aggregate(
      zip_with(
        zip_with(slice(cs, lit(2), m - 1), slice(cs, lit(1), m - 1), (cur, prev) => cur - prev),
        slice(vs, lit(2), m - 1),
        (d, v) => when(d > 0, v).when(d < 0, -v).otherwise(lit(0.0))),
      lit(0.0), (a, x) => a + x)
    val macd = TA.macdLast(cs)
    Seq(
      "rsi_14" -> TA.rsiLastDeclarative(cs, 14),
      "macd" -> macd.getField("macd"),
      "macd_signal" -> macd.getField("macd_signal"),
      "macd_hist" -> macd.getField("macd_hist"),
      "sma_50" -> when(m >= 50, meanOf(lastN(cs, 50))),
      "sma_200" -> when(m >= 200, meanOf(lastN(cs, 200))),
      "ema_21" -> TA.emaOverListDeclarative(cs, 21),
      "obv" -> obv,
      "bb_mid" -> when(m >= 20, bbMean),
      "bb_upper" -> when(m >= 20, bbMean + bbSd * 2.0),
      "bb_lower" -> when(m >= 20, bbMean - bbSd * 2.0),
      "atr_14" -> TA.atrLast(hs, ls, cs, 14),
      "high_52w" -> array_max(hs),
      "low_52w" -> array_min(ls),
      "recent_high" -> array_max(lastN(hs, 20)),
      "recent_low" -> array_min(lastN(ls, 20)))
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => false
  }

  test("kernel fields are bit-identical to the declarative folds") {
    val decl = declarative(col("h"))
    assert(decl.map(_._1) == FastTA.TechnicalFields)
    val rows = collected.select(col("ticker") +: FastTA.technicalsOf(col("h")).as("k") +:
      decl.map { case (n, c) => c.as(n) }: _*).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val k = r.getStruct(1)
      FastTA.TechnicalFields.zipWithIndex.foreach { case (f, i) =>
        val want = r.get(2 + i)
        assert(same(k.get(i), want), s"${r.getString(0)} $f: kernel ${k.get(i)} vs folds $want")
      }
    }
  }

  test("kernel edges: windows null below their length, RSI 100 on flat closes, NaN closes") {
    val k = collected.select(col("ticker"), FastTA.technicalsOf(col("h")).as("k"))
      .collect().map(r => r.getString(0) -> r.getStruct(1)).toMap
    def f(t: String, name: String): Any = k(t).get(FastTA.TechnicalFields.indexOf(name))
    assert(f("W19", "bb_mid") == null && f("W19", "rsi_14") != null)
    assert(f("W20", "bb_mid") != null && f("W20", "sma_50") == null)
    assert(f("W49", "sma_50") == null && f("W50", "sma_50") != null)
    assert(f("W199", "sma_200") == null && f("W200", "sma_200") != null)
    assert(f("FLAT", "rsi_14") == 100.0 && f("FLAT", "obv") == 0.0)
    // a NaN close is a gain under SQL ordering: RSI and EMA carry it
    assert(f("NAN", "rsi_14").asInstanceOf[Double].isNaN)
    assert(f("NANLAST", "ema_21").asInstanceOf[Double].isNaN)
  }

  test("technicals output matches the pre-kernel enrichment formulation row for row") {
    import spark.implicits._
    val daily = histories.toDF()
    val got = Enrich.technicals(daily)
    val want = TechnicalsKernelSpec.reference(daily)
    assert(got.columns.toSeq == want.columns.toSeq)
    val g = got.collect().map(r => r.getString(0) -> r).toMap
    val w = want.collect().map(r => r.getString(0) -> r).toMap
    assert(g.keySet == w.keySet && g.size == 9) // W19 dropped (< 20 bars)
    g.foreach { case (t, r) =>
      r.toSeq.zip(w(t).toSeq).zip(got.columns).foreach { case ((a, b), c) =>
        assert(a == b || same(a, b), s"$t $c: $a vs $b")
      }
    }
  }

  test("misuse is an analysis error, not a task failure") {
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq(("2025-01-01", 1.0)))).toDF("h")
        .select(FastTA.technicalsOf(col("h"))).collect()
    }
    assert(e.getMessage.contains("graft_technicals"))
  }
}

object TechnicalsKernelSpec {
  case class Bar(ticker: String, date: Date, open: Double, high: Double, low: Double,
      close: Double, volume: Double)

  /** `Enrich.technicals` as it read before the one-pass kernel. */
  def reference(dailyBars: DataFrame): DataFrame = {
    val grouped = dailyBars
      .groupBy(col("ticker"))
      .agg(sort_array(collect_list(struct(
        col("date"), col("open"), col("high"), col("low"),
        col("close"), col("volume")))).as("h"))
      .where(size(col("h")) >= 20)
    val cs = expr("transform(h, x -> x.close)")
    val hs = expr("transform(h, x -> x.high)")
    val ls = expr("transform(h, x -> x.low)")
    val vs = expr("transform(h, x -> x.volume)")
    val m = size(col("h"))
    def lastN(arr: Column, n: Int): Column = slice(arr, greatest(m - (n - 1), lit(1)), lit(n))
    def meanOf(arr: Column): Column =
      aggregate(arr, lit(0.0), (a, x) => a + x) / size(arr)
    def smaLast(n: Int): Column = when(m >= n, meanOf(lastN(cs, n)))
    val bbMean = meanOf(lastN(cs, 20))
    val bbSd = sqrt(aggregate(lastN(cs, 20), lit(0.0),
      (a, x) => a + (x - bbMean) * (x - bbMean)) / (lit(20) - 1))
    val obvLast = aggregate(
      zip_with(
        zip_with(slice(cs, lit(2), m - 1), slice(cs, lit(1), m - 1), (cur, prev) => cur - prev),
        slice(vs, lit(2), m - 1),
        (d, v) => when(d > 0, v).when(d < 0, -v).otherwise(lit(0.0))),
      lit(0.0), (a, x) => a + x)
    def sf(c: Column): Column = when(!isnan(c), round(c, 4))
    val base = grouped.select(
      col("ticker"), m.as("n_bars"),
      expr("element_at(h, -1).date").as("date"),
      sf(expr("element_at(h, -1).close")).as("close"),
      sf(expr("element_at(h, -1).volume")).as("volume"),
      sf(TA.rsiLast(cs, 14)).as("rsi_14"),
      TA.macdLast(cs).as("_macd"),
      sf(smaLast(50)).as("sma_50"),
      sf(smaLast(200)).as("sma_200"),
      sf(TA.emaOverList(cs, 21)).as("ema_21"),
      sf(obvLast).as("obv"),
      sf(when(m >= 20, bbMean)).as("bb_mid"),
      sf(when(m >= 20, bbMean + bbSd * 2.0)).as("bb_upper"),
      sf(when(m >= 20, bbMean - bbSd * 2.0)).as("bb_lower"),
      sf(TA.atrLast(hs, ls, cs, 14)).as("atr_14"),
      sf(array_max(hs)).as("high_52w"),
      sf(array_min(ls)).as("low_52w"),
      sf(array_max(lastN(hs, 20))).as("recent_high"),
      sf(array_min(lastN(ls, 20))).as("recent_low"))
    val supportCands = Seq(col("recent_low"), col("sma_200"), col("bb_lower"))
    val resistCands = Seq(col("recent_high"), col("sma_50"), col("bb_upper"))
    base
      .withColumn("macd", sf(col("_macd.macd")))
      .withColumn("macd_signal", sf(col("_macd.macd_signal")))
      .withColumn("macd_hist", sf(col("_macd.macd_hist")))
      .withColumn("support", coalesce(
        supportCands.map(c => when(c < col("close"), c)).reduce(greatest(_, _)),
        col("recent_low")))
      .withColumn("resistance", coalesce(
        resistCands.map(c => when(c > col("close"), c)).reduce(least(_, _)),
        col("recent_high")))
      .withColumn("price_above_sma_50",
        when(col("sma_50").isNotNull, col("close") > col("sma_50")))
      .withColumn("price_above_sma_200",
        when(col("sma_200").isNotNull, col("close") > col("sma_200")))
      .withColumn("macd_bullish",
        when(col("_macd.macd").isNotNull, col("_macd.macd") > col("_macd.macd_signal")))
      .drop("_macd")
  }
}
