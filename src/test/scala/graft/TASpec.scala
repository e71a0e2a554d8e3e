package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ta.TA

/** Indicator exactness vs an independent reference recursion (values
  * computed with the pandas-ewm/Wilder definitions the reference uses,
  * enrichment-trigger/main.py:335-348). */
class TASpec extends AnyFunSuite with SparkFixture {

  private val closes = Seq(
    44.34, 44.09, 44.15, 43.61, 44.33, 44.83, 45.10, 45.42, 45.84, 46.08,
    45.89, 46.03, 45.61, 46.28, 46.28, 46.00, 46.03, 46.41, 46.22, 45.64,
    46.21, 46.25, 45.71, 46.45, 45.78, 45.35, 44.03, 44.18, 44.22, 44.57)

  private def arr = {
    import spark.implicits._
    Seq(closes).toDF("vs")
  }

  private def d(c: org.apache.spark.sql.Column): Double =
    arr.select(c.as("v")).head().getDouble(0)

  test("emaOverList matches pandas ewm(span, adjust=False) seeding (W2)") {
    assert(math.abs(d(TA.emaOverList(col("vs"), 21)) - 45.24856130259812) < 1e-9)
  }

  test("rsiLast matches Wilder RSI-14 (W3)") {
    assert(math.abs(d(TA.rsiLast(col("vs"), 14)) - 45.499497238680405) < 1e-9)
  }

  test("codegen'd EMA/RSI match the declarative HOF folds bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val series = (0 until 20).map(_ => Seq.fill(60)(40.0 + rnd.nextGaussian() * 3))
    val df = series.toDF("vs")
    df.select(
      TA.emaOverList(col("vs"), 21).as("ef"),
      TA.emaOverListDeclarative(col("vs"), 21).as("es"),
      TA.rsiLast(col("vs"), 14).as("rf"),
      TA.rsiLastDeclarative(col("vs"), 14).as("rs"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3)))
      }
  }

  test("codegen'd RSI agrees with the declarative fold on NaN closes") {
    import spark.implicits._
    val withNaN = Seq(closes.updated(9, Double.NaN), closes.updated(29, Double.NaN)).toDF("vs")
    withNaN.select(TA.rsiLast(col("vs"), 14), TA.rsiLastDeclarative(col("vs"), 14))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("two graft_rsi_last in one projection compile into whole-stage code") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // closes shifted by the row id: not foldable, so the projection is generated
    val vs = array(closes.map(c => lit(c) + col("id")): _*)
    val df = spark.range(3).select(TA.rsiLast(vs, 14).as("a"), TA.rsiLast(vs, 7).as("b"))
    val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty)
    stages.foreach { w => CodeGenerator.compile(w.doCodeGen()._2) } // throws on a compile error
    assert(df.collect().forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("rsiLast is null below n diffs and 100 when no losses (W3 edges)") {
    import spark.implicits._
    val tiny = Seq(Seq(1.0, 2.0, 3.0)).toDF("vs")
    assert(tiny.select(TA.rsiLast(col("vs"), 14)).head().isNullAt(0))
    val up = Seq((1 to 20).map(_.toDouble)).toDF("vs")
    assert(up.select(TA.rsiLast(col("vs"), 14)).head().getDouble(0) == 100.0)
  }

  test("macdLast matches EMA12-EMA26 with EMA9 signal (W4)") {
    val r = arr.select(TA.macdLast(col("vs")).as("m")).select("m.*").head()
    assert(math.abs(r.getDouble(0) - (-0.1464398264463611)) < 1e-9)
    assert(math.abs(r.getDouble(1) - 0.11689918423204682) < 1e-9)
    assert(math.abs(r.getDouble(2) - (-0.2633390106784079)) < 1e-9)
  }

  test("atrLast matches Wilder-smoothed true range (W7)") {
    import spark.implicits._
    val hs = closes.map(_ + 0.5)
    val ls = closes.map(_ - 0.5)
    val df = Seq((hs, ls, closes)).toDF("h", "l", "c")
    val v = df.select(TA.atrLast(col("h"), col("l"), col("c"), 14)).head().getDouble(0)
    assert(math.abs(v - 1.0826423704690087) < 1e-9)
  }

  test("sma is null until n rows then trailing mean (W1)") {
    import spark.implicits._
    val df = (1 to 5).map(i => (i, i.toDouble)).toDF("i", "v")
    val w = Window.orderBy("i")
    val out = df.select(TA.sma(col("v"), 3, w).as("s")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0))
    assert(out.toSeq == Seq(null, null, 2.0, 3.0, 4.0))
  }

  test("obv accumulates signed volume (W5)") {
    import spark.implicits._
    val df = Seq((1, 10.0, 100.0), (2, 11.0, 200.0), (3, 10.5, 150.0), (4, 10.5, 50.0))
      .toDF("i", "close", "vol")
    val w = Window.orderBy("i")
    val out = df.select(TA.obv(col("close"), col("vol"), w).as("o"))
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 200.0, 50.0, 50.0))
  }
}
