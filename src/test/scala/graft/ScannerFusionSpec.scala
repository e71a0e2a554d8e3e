package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.Scanner

/** The fused `Scanner.run` (one read per input, one grouped aggregation
  * over the chain, a window for the cluster size) against the formulation
  * it replaced (separate flow-metric and best-contract aggregations, a
  * pivot, a cluster self-join), kept below as the reference. */
class ScannerFusionSpec extends AnyFunSuite with SparkFixture {

  private def d(s: String) = Date.valueOf(s)
  private val asOf = "2026-03-18"
  private val exp = "2026-04-17" // 30 days out: eligible
  private val near = "2026-03-21" // 3 days out: not eligible

  private val snapSchema = StructType(Seq(
    StructField("ticker", StringType),
    StructField("todaysChangePerc", DoubleType),
    StructField("day", StructType(Seq(
      StructField("c", DoubleType), StructField("v", LongType)))),
    StructField("lastTrade", StructType(Seq(StructField("p", DoubleType)))),
    StructField("prevDay", StructType(Seq(StructField("c", DoubleType))))))

  private val chainSchema = StructType(Seq(
    StructField("underlying", StringType), StructField("contract_symbol", StringType),
    StructField("option_type", StringType), StructField("expiration_date", DateType),
    StructField("strike", DoubleType), StructField("last_price", DoubleType),
    StructField("bid", DoubleType), StructField("ask", DoubleType),
    StructField("volume", LongType), StructField("open_interest", LongType),
    StructField("implied_volatility", DoubleType), StructField("delta", DoubleType),
    StructField("gamma", DoubleType), StructField("theta", DoubleType),
    StructField("vega", DoubleType)))

  private def snap(t: String, pct: Double, px: java.lang.Double = 100.0): Row =
    Row(t, pct, Row(px, 1000000L), Row(99.0), Row(98.0))

  private def opt(und: String, sym: String, typ: String, strike: Double,
      bid: java.lang.Double, ask: java.lang.Double, vol: java.lang.Long, oi: java.lang.Long,
      expiry: String = exp, last: java.lang.Double = null): Row =
    Row(und, sym, typ, d(expiry), strike, last, bid, ask, vol, oi, 0.4, 0.35, 0.05, -0.05, 0.1)

  /** Score 9: heavy one-sided flow on five strikes (all tie on score). */
  private def hot(t: String, side: String): Seq[Row] =
    (1 to 5).map(k => opt(t, s"${t}_$k", side, 100.0 + k, 4.9, 5.1, 2000L, 100L))
  /** Score 4: three active strikes, vol/oi 3, price move > 1.5%. */
  private def warm(t: String, side: String): Seq[Row] =
    (1 to 3).map(k => opt(t, s"${t}_$k", side, 100.0 + k, 1.9, 2.1, 300L, 100L))
  /** Score 0. */
  private def cold(t: String): Seq[Row] = Seq(opt(t, s"${t}_1", "call", 101.0, 0.9, 1.1, 50L, 500L))

  // (ticker, pct, industry, chain rows)
  private lazy val plan: Seq[(String, Double, String, Seq[Row])] = {
    def n(p: String, k: Int) = (1 to k).map(i => s"$p$i")
    n("A", 3).map(t => (t, 2.0, "IND3", warm(t, "call"))) ++
      n("B", 3).map(t => (t, 2.0, "IND4", warm(t, "call"))) ++
      Seq(("B4", 1.2, "IND4", cold("B4")), ("B5", 3.0, "IND4", hot("B5", "call"))) ++
      n("C", 5).map(t => (t, 2.0, "IND5", warm(t, "call"))) ++
      n("D", 5).map(t => (t, 2.0, "IND8", warm(t, "call"))) ++
      n("DH", 3).map(t => (t, 3.0, "IND8", hot(t, "call"))) ++
      n("DB", 2).map(t => (t, -2.0, "IND8", warm(t, "put"))) ++
      Seq(
        ("HBEAR", -3.0, "IND9", hot("HBEAR", "put")),
        ("NULLIND", 2.0, null, warm("NULLIND", "call")),
        ("NOCHAIN", 2.5, "IND5", Nil),
        // option types outside call/put: counted on the put side of the
        // flow split (not a call), never a best contract
        ("ODDTYPE", 2.0, "IND3", Seq(
          opt("ODDTYPE", "ODD_U", "CALL", 101.0, 1.9, 2.1, 300L, 100L),
          opt("ODDTYPE", "ODD_X", "other", 102.0, 1.9, 2.1, 300L, 100L),
          opt("ODDTYPE", "ODD_N", null, 103.0, 1.9, 2.1, 300L, 100L),
          opt("ODDTYPE", "ODD_P", "put", 99.0, 1.9, 2.1, 20L, 100L))),
        // bullish, but every call expires too soon: no call to recommend
        ("NOELIG", 2.0, "IND9", Seq(
          opt("NOELIG", "NE_C1", "call", 101.0, 1.9, 2.1, 300L, 100L, expiry = near),
          opt("NOELIG", "NE_C2", "call", 102.0, 1.9, 2.1, 300L, 100L, expiry = near),
          opt("NOELIG", "NE_P1", "put", 99.0, 1.9, 2.1, 300L, 100L))),
        // two calls equal but for the symbol: the larger symbol wins
        ("TIE", 2.0, "IND9", Seq(
          opt("TIE", "TIE_A", "call", 101.0, 1.9, 2.1, 300L, 100L),
          opt("TIE", "TIE_B", "call", 101.0, 1.9, 2.1, 300L, 100L))),
        // null quotes and volumes, last-price fallback for the flow mid
        ("MIXED", 2.0, "IND9", Seq(
          opt("MIXED", "MX_1", "call", 101.0, null, 2.1, null, null, last = 2.0),
          opt("MIXED", "MX_2", "call", 130.0, 1.9, 2.1, 40L, 10L),
          opt("MIXED", "MX_3", "put", 95.0, 0.0, 0.1, 900L, 10L))),
        // heavy puts into a rally: direction flips to BEARISH
        ("DIVX", 2.0, "IND9", Seq(
          opt("DIVX", "DV_C", "call", 101.0, 0.9, 1.1, 100L, 100L),
          opt("DIVX", "DV_P", "put", 99.0, 4.9, 5.1, 3000L, 100L))),
        ("TINY", 0.5, "IND9", warm("TINY", "call")),   // not a mover
        ("ALIEN", 4.0, "IND9", hot("ALIEN", "call")))  // not in the universe
  }

  private lazy val inputs: (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val snaps = plan.map { case (t, pct, _, _) => snap(t, pct) } :+
      Row("PREM", 2.0, Row(null, 0L), Row(20.0), Row(20.5)) // lastTrade fallback
    val chain = plan.flatMap(_._4) ++ warm("PREM", "call") ++ hot("NOTAMOVER", "call")
    val universe = (plan.map(_._1).filterNot(_ == "ALIEN").map(t => s" ${t.toLowerCase} ") ++
      Seq("PREM", "A1", "")).toDF("value") // duplicates and blanks
    val meta = plan.filterNot(_._1 == "NULLIND").map { case (t, _, ind, _) => (t, "SEC", ind) } :+
      (("NULLIND", "SEC", null: String))
    (spark.createDataFrame(sc.parallelize(snaps, 2), snapSchema),
      spark.createDataFrame(sc.parallelize(chain, 3), chainSchema),
      universe, meta.toDF("ticker", "sector", "industry"))
  }

  private def close(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) ||
      math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  test("fused scanner equals the pre-fusion formulation on edge-case inputs") {
    val (snaps, chain, universe, meta) = inputs
    val dt = lit(asOf).cast("date")
    val got = Scanner.run(snaps, chain, universe, meta, dt, dt)
    val want = ScannerFusionSpec.reference(snaps, chain, universe, meta, dt, dt)
    // names and types; nullability may differ between equivalent plans
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
      want.schema.map(f => f.name -> f.dataType.simpleString))
    val g = got.collect().map(r => r.getAs[String]("ticker") -> r).toMap
    val w = want.collect().map(r => r.getAs[String]("ticker") -> r).toMap
    assert(g.size == w.size && g.keySet == w.keySet, (g.keySet, w.keySet))
    for ((t, r) <- g; (f, i) <- got.schema.fields.zipWithIndex) {
      val (a, b) = (r.get(i), w(t).get(i))
      val ok = (a, b) match {
        // sums over a group's rows: neither plan fixes the row order in a group
        case (x: Double, y: Double) => close(x, y)
        case _ => a == b
      }
      assert(ok, s"$t ${f.name}: fused $a vs reference $b")
    }

    // the fixture reaches every case it is meant to cover
    def row(t: String) = g(t)
    val sizes = g.values.map(_.getAs[Int]("cluster_size")).toSet
    assert(Set(3, 4, 5, 8).subsetOf(sizes), sizes)
    assert(row("A1").getAs[Int]("cluster_boost") == 0)              // cluster of 3
    assert(row("B1").getAs[Int]("overnight_score") == 5)            // 4 + 1
    assert(row("C1").getAs[Int]("overnight_score") == 6)            // 4 + 2: rescued
    assert(row("D1").getAs[Int]("overnight_score") == 7)            // 4 + 3
    assert(row("DB1").getAs[Int]("cluster_size") == 2)              // bearish cluster apart
    assert(row("NULLIND").getAs[Int]("cluster_size") == 0)
    assert(row("NOCHAIN").isNullAt(row("NOCHAIN").fieldIndex("call_dollar_volume")))
    assert(row("NOCHAIN").getAs[Int]("cluster_boost") == 2)
    assert(row("NOELIG").getAs[String]("direction") == "BULLISH")
    assert(row("NOELIG").isNullAt(row("NOELIG").fieldIndex("recommended_contract")))
    assert(row("ODDTYPE").isNullAt(row("ODDTYPE").fieldIndex("recommended_contract")))
    assert(row("TIE").getAs[String]("recommended_contract") == "TIE_B")
    assert(row("B5").getAs[String]("recommended_contract") == "B5_5")
    assert(row("DIVX").getAs[String]("direction") == "BEARISH")
    assert(row("DIVX").getAs[String]("recommended_contract") == "DV_P")
    assert(row("PREM").getAs[Double]("underlying_price") == 20.0)
    assert(!g.contains("TINY") && !g.contains("ALIEN"))
  }
}

object ScannerFusionSpec {

  /** `Scanner.run` as it read before the fusion (movers and score are the
    * unchanged `Scanner.movers` and `Scanner.score`). */
  def reference(snapshots: DataFrame, chain: DataFrame, universe: DataFrame,
      metadata: DataFrame, asOf: Column, scanDate: Column): DataFrame = {
    val m = Scanner.movers(snapshots).join(
      broadcast(universe.select(upper(trim(col("value"))).as("ticker")).distinct()),
      Seq("ticker"), "left_semi")
    val px = m.select(col("ticker"), col("effective_price"))
    val metrics = flowMetrics(chain, px)
    val best = bestContracts(chain, px, asOf)
      .groupBy("ticker")
      .pivot("option_type", Seq("call", "put"))
      .agg(first(col("best")))
    val scored = Scanner.score(m.join(metrics, Seq("ticker"), "left"))
      .join(best, Seq("ticker"), "left")
      .withColumn("best",
        when(col("direction") === "BULLISH", col("call")).otherwise(col("put")))
    clusterBoost(scored, metadata)
      .withColumn("scan_date", scanDate)
      .select(
        col("scan_date"), col("ticker"), col("direction"),
        col("overnight_score"), col("original_score"), col("cluster_boost"),
        col("cluster_size"), col("sector"), col("industry"),
        col("price_change_pct"), col("effective_price").as("underlying_price"),
        col("day_volume"),
        col("call_dollar_vol").as("call_dollar_volume"),
        col("put_dollar_vol").as("put_dollar_volume"),
        col("total_options_dollar_volume"),
        col("call_vol_oi").as("call_vol_oi_ratio"),
        col("put_vol_oi").as("put_vol_oi_ratio"),
        col("call_active_strikes"), col("put_active_strikes"),
        col("call_uoa_depth"), col("put_uoa_depth"),
        col("signals"),
        col("best.contract_symbol").as("recommended_contract"),
        col("best.strike").as("recommended_strike"),
        col("best.expiration_date").as("recommended_expiration"),
        col("best.dte").as("recommended_dte"),
        col("best.mid_price").as("recommended_mid_price"),
        col("best.spread_pct").as("recommended_spread_pct"),
        col("best.contract_score").as("contract_score"),
        col("best.delta").as("recommended_delta"),
        col("best.gamma").as("recommended_gamma"),
        col("best.theta").as("recommended_theta"),
        col("best.vega").as("recommended_vega"),
        col("best.implied_volatility").as("recommended_iv"),
        col("best.volume").as("recommended_volume"),
        col("best.open_interest").as("recommended_oi"))
  }

  private def midOrLast: Column =
    when(col("bid").isNotNull && col("ask").isNotNull && col("bid") > 0 && col("ask") > 0,
      (col("bid") + col("ask")) / 2)
      .otherwise(when(col("last_price").isNotNull && col("last_price") =!= 0, col("last_price")))

  def flowMetrics(chain: DataFrame, underlyingPrice: DataFrame): DataFrame = {
    val c = chain
      .join(underlyingPrice.select(col("ticker").as("underlying"),
        col("effective_price").as("upx")), Seq("underlying"), "left")
      .withColumn("vol", coalesce(col("volume"), lit(0L)))
      .withColumn("oi", coalesce(col("open_interest"), lit(0L)))
      .withColumn("mid0", midOrLast)
      .withColumn("isCall", col("option_type") === "call")
    def side(cond: Column, v: Column): Column = sum(when(cond, v).otherwise(lit(0.0)))
    def dollarVol(cond: Column): Column =
      side(cond && col("mid0").isNotNull, col("vol") * col("mid0") * 100)
    def activeStrikes(cond: Column): Column =
      sum(when(cond && col("vol") > greatest(col("oi") * 0.5, lit(100.0)), 1).otherwise(0))
    def uoaDepth(cond: Column): Column =
      side(cond && col("vol") > col("oi") && col("mid0").isNotNull,
        (col("vol") - col("oi")) * col("mid0") * 100)
    def atmIv(cond: Column): Column =
      min_by(when(cond, col("implied_volatility")),
        when(cond, abs(coalesce(col("strike"), lit(0.0)) - col("upx"))))
    c.groupBy(col("underlying").as("ticker"))
      .agg(
        dollarVol(col("isCall")).as("call_dollar_vol"),
        dollarVol(!col("isCall")).as("put_dollar_vol"),
        side(col("isCall"), col("vol")).cast("long").as("total_call_volume"),
        side(!col("isCall"), col("vol")).cast("long").as("total_put_volume"),
        (side(col("isCall"), col("vol")) /
          greatest(side(col("isCall"), col("oi")), lit(1.0))).as("call_vol_oi"),
        (side(!col("isCall"), col("vol")) /
          greatest(side(!col("isCall"), col("oi")), lit(1.0))).as("put_vol_oi"),
        activeStrikes(col("isCall")).as("call_active_strikes"),
        activeStrikes(!col("isCall")).as("put_active_strikes"),
        uoaDepth(col("isCall")).as("call_uoa_depth"),
        uoaDepth(!col("isCall")).as("put_uoa_depth"),
        atmIv(col("isCall")).as("atm_call_iv"),
        atmIv(!col("isCall")).as("atm_put_iv"))
  }

  def bestContracts(chain: DataFrame, underlyingPrice: DataFrame, asOf: Column): DataFrame = {
    val c = chain
      .join(underlyingPrice.select(col("ticker").as("underlying"),
        col("effective_price").as("upx")), Seq("underlying"), "left")
      .withColumn("dte", datediff(col("expiration_date"), asOf))
      .withColumn("vol", coalesce(col("volume"), lit(0L)))
      .withColumn("oi", coalesce(col("open_interest"), lit(0L)))
      .withColumn("mid", (col("bid") + col("ask")) / 2)
      .withColumn("spread_pct", (col("ask") - col("bid")) / col("mid"))
      .withColumn("mny",
        when(col("option_type") === "call", col("strike") / col("upx"))
          .otherwise(col("upx") / col("strike")))
      .where(
        col("expiration_date").isNotNull &&
          col("dte").between(7, 90) &&
          col("bid") > 0 && col("ask") > 0 && col("mid") > 0 &&
          col("spread_pct") <= 0.40 &&
          col("vol") >= 10 &&
          (col("upx").isNull || col("upx") <= 0 || col("mny").between(0.90, 1.25)))
      .withColumn("adelta", abs(coalesce(col("delta"), lit(0.0))))
      .withColumn("contract_score",
        least(col("vol") / 500.0, lit(5.0)) * 2.0 +
          (lit(1.0) - least(col("spread_pct"), lit(1.0))) * 3.0 +
          least(col("vol") / greatest(col("oi"), lit(1L)), lit(3.0)) * 1.5 +
          coalesce(col("gamma"), lit(0.0)) * 20.0 +
          when(col("adelta").between(0.25, 0.50), 2.0).otherwise(0.0) -
          abs(coalesce(col("theta"), lit(0.0))) / greatest(col("mid"), lit(0.01)) * 1.0)
    c.groupBy(col("underlying").as("ticker"), col("option_type"))
      .agg(max_by(
        struct(
          col("contract_symbol"), col("strike"),
          col("expiration_date"), col("dte"),
          round(col("mid"), 2).as("mid_price"),
          round(col("spread_pct"), 4).as("spread_pct"),
          col("vol").as("volume"), col("oi").as("open_interest"),
          round(col("implied_volatility"), 4).as("implied_volatility"),
          round(col("gamma"), 6).as("gamma"),
          round(coalesce(col("delta"), lit(0.0)), 4).as("delta"),
          round(col("theta"), 4).as("theta"),
          round(col("vega"), 4).as("vega"),
          round(col("contract_score"), 3).as("contract_score")),
        struct(col("contract_score"), col("contract_symbol"))).as("best"))
  }

  def clusterBoost(scored: DataFrame, metadata: DataFrame): DataFrame = {
    val tagged = scored.join(
      broadcast(metadata.select(col("ticker"), col("sector"), col("industry"))),
      Seq("ticker"), "left")
    val clusters = tagged
      .where(col("industry").isNotNull && col("overnight_score") >= Scanner.ClusterMinScore)
      .groupBy(col("industry"), col("direction"))
      .agg(count(lit(1)).cast("int").as("cluster_size_raw"))
    val boost = when(col("cluster_size") >= 8, 3)
      .when(col("cluster_size") >= 5, 2).otherwise(1)
    tagged.join(broadcast(clusters), Seq("industry", "direction"), "left")
      .withColumn("cluster_size",
        when(col("industry").isNotNull, coalesce(col("cluster_size_raw"), lit(0)))
          .otherwise(lit(0)))
      .withColumn("original_score", col("overnight_score"))
      .withColumn("cluster_boost",
        when(col("industry").isNotNull &&
          col("overnight_score") < Scanner.ClusterBoostThreshold &&
          col("cluster_size") >= Scanner.ClusterMinSize, boost).otherwise(0))
      .withColumn("overnight_score",
        least(col("original_score") + col("cluster_boost"), lit(10)).cast("int"))
      .drop("cluster_size_raw")
  }
}
