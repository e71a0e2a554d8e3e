package graft.pipelines

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FastTA

/** §3.2 enrichment pipeline: per-ticker technicals from a daily-bars table
  * (replacing the reference's per-ticker REST + pandas loop,
  * enrichment-trigger/main.py:302-451) joined to signals and the news
  * fixture (J2), then risk (F19), risk/reward (F20) and premium flags
  * (F17). One shuffle on ticker for the technicals, broadcast-friendly
  * joins after (signals per day are thousands of rows; bars are the big
  * side and never leave their partitioning).
  */
object Enrich {

  /** Latest-row technicals per ticker (W1-W9). Tickers with < 20 bars are
    * dropped (enrichment-trigger/main.py:320-322). Indicator definitions:
    * Wilder RSI/ATR, ewm(adjust=false) EMA/MACD, sample-stddev Bollinger —
    * the pandas_ta defaults the reference relies on (:335-342).
    *
    * One shuffle on ticker collects each ticker's date-sorted bars; then
    * one compiled kernel ([[graft.functions.FastTA.technicals]]) walks the
    * bars once and returns every indicator, bit-identical to the
    * declarative folds of [[graft.ta.TA]]. Rounding (`safe_float`) and the
    * support/resistance and trend columns stay column algebra over the
    * kernel's raw doubles.
    */
  def technicals(dailyBars: DataFrame): DataFrame = {
    val grouped = dailyBars
      .groupBy(col("ticker"))
      .agg(sort_array(collect_list(struct(
        col("date"), col("open"), col("high"), col("low"),
        col("close"), col("volume")))).as("h"))
      .where(size(col("h")) >= 20)
    def sf(c: Column): Column = when(!isnan(c), round(c, 4)) // safe_float (:355-357)
    val t = grouped.select(col("ticker"), size(col("h")).as("n_bars"),
      expr("element_at(h, -1)").as("last"), FastTA.technicalsOf(col("h")).as("_t"))
    val base = t.select(
      col("ticker"), col("n_bars"),
      col("last.date").as("date"),
      sf(col("last.close")).as("close"),
      sf(col("last.volume")).as("volume"),
      sf(col("_t.rsi_14")).as("rsi_14"),
      col("_t.macd").as("_macd"), col("_t.macd_signal").as("_macd_signal"),
      sf(col("_t.sma_50")).as("sma_50"),
      sf(col("_t.sma_200")).as("sma_200"),
      sf(col("_t.ema_21")).as("ema_21"),
      sf(col("_t.obv")).as("obv"),
      sf(col("_t.bb_mid")).as("bb_mid"),
      sf(col("_t.bb_upper")).as("bb_upper"),
      sf(col("_t.bb_lower")).as("bb_lower"),
      sf(col("_t.atr_14")).as("atr_14"),
      sf(col("_t.high_52w")).as("high_52w"),
      sf(col("_t.low_52w")).as("low_52w"),
      sf(col("_t.recent_high")).as("recent_high"),
      sf(col("_t.recent_low")).as("recent_low"),
      col("_t.macd_hist").as("_macd_hist"))
    // F20 support/resistance (:372-386): strongest floor below close /
    // ceiling above close among {swing level, SMA, Bollinger band}
    val supportCands = Seq(col("recent_low"), col("sma_200"), col("bb_lower"))
    val resistCands = Seq(col("recent_high"), col("sma_50"), col("bb_upper"))
    base.withColumns(ListMap(
      "macd" -> sf(col("_macd")),
      "macd_signal" -> sf(col("_macd_signal")),
      "macd_hist" -> sf(col("_macd_hist")),
      "support" -> coalesce(
        supportCands.map(c => when(c < col("close"), c)).reduce(greatest(_, _)),
        col("recent_low")),
      "resistance" -> coalesce(
        resistCands.map(c => when(c > col("close"), c)).reduce(least(_, _)),
        col("recent_high")),
      // trend booleans carried on the enriched row (§1.3 technicals)
      "price_above_sma_50" -> when(col("sma_50").isNotNull, col("close") > col("sma_50")),
      "price_above_sma_200" -> when(col("sma_200").isNotNull, col("close") > col("sma_200")),
      "macd_bullish" -> when(col("_macd").isNotNull, col("_macd") > col("_macd_signal"))))
      .drop("_macd", "_macd_signal", "_macd_hist")
  }

  /** F19 risk fields (enrichment-trigger/main.py:458-576). */
  def withRiskFields(df: DataFrame): DataFrame = {
    val pct = coalesce(col("price_change_pct"), lit(0.0))
    val rsi = coalesce(col("rsi_14"), lit(50.0))
    val atr = coalesce(col("atr_14"), lit(0.0))
    val price = coalesce(col("underlying_price"), lit(0.0))
    val cat = coalesce(col("catalyst_score"), lit(0.1))
    val rev = coalesce(col("reversal_probability"), lit(0.3))
    val score = coalesce(col("overnight_score"), lit(5))
    val bull = col("direction") === "BULLISH"
    val bear = col("direction") === "BEARISH"
    val atrPct = when(price > 0 && atr > 0, atr / price * 100).otherwise(lit(3.0))
    val atrMove = round(abs(pct) / atrPct, 2)
    val flowAligned = (bear && pct < 0) || (bull && pct > 0)
    val mrRaw =
      when(flowAligned,
        when(abs(pct) > 15, 0.45).when(abs(pct) > 10, 0.30)
          .when(abs(pct) > 5, 0.10).otherwise(0.0)).otherwise(0.0) +
        when(bear && rsi < 30, 0.25).when(bear && rsi < 35, 0.15)
          .when(bull && rsi > 70, 0.25).when(bull && rsi > 65, 0.15).otherwise(0.0) +
        when(atrMove > 2.5, 0.20).when(atrMove > 1.5, 0.10).otherwise(0.0) +
        when(cat > 0.8, -0.10).when(cat > 0.6, -0.05).otherwise(0.0)
    val mr = round(least(greatest(mrRaw * 0.6 + rev * 0.4, lit(0.0)), lit(1.0)), 3)
    val techAlign = when(bull,
      when(rsi > 40 && rsi < 70, 0.7).when(rsi < 40, 0.3).otherwise(0.5))
      .when(bear, when(rsi < 60 && rsi > 30, 0.7).when(rsi > 60, 0.3).otherwise(0.5))
      .otherwise(0.5)
    val quality = round(least(greatest(
      (score / 10.0 * 0.4 + cat * 0.2 + (lit(1.0) - mr) * 0.2 + techAlign * 0.2) * 10,
      lit(0.0)), lit(10.0)), 1)
    // F20 risk/reward (:557-576)
    val sup = coalesce(col("support"), lit(0.0))
    val res = coalesce(col("resistance"), lit(0.0))
    val reward = when(bull, res - price).otherwise(price - sup)
    val risk = when(bull, price - sup).otherwise(res - price)
    val rr = when(price > 0 && sup > 0 && res > 0 && risk > 0, round(reward / risk, 2))
    df.withColumns(ListMap(
      "atr_normalized_move" -> atrMove,
      "mean_reversion_risk" -> mr,
      "move_overdone" -> coalesce(col("move_overdone"), lit(false)),
      "reversal_probability" -> round(rev, 3),
      "enrichment_quality_score" -> quality,
      "risk_reward_ratio" -> rr))
  }

  /** F17 premium flags (enrichment-trigger/main.py:589-613; duplicated
    * ladder with different move_overdone default documented in
    * SURVEY §7.4.6 — this is the enrichment-path variant, default false). */
  def withPremiumFields(df: DataFrame): DataFrame = {
    val intent = upper(coalesce(col("flow_intent"), lit("")))
    val rr = coalesce(col("risk_reward_ratio"), lit(0.0))
    val overdone = coalesce(col("move_overdone"), lit(false))
    val callVolOi = coalesce(col("call_vol_oi_ratio"), lit(0.0))
    val putVolOi = coalesce(col("put_vol_oi_ratio"), lit(0.0))
    val atrMove = coalesce(col("atr_normalized_move"), lit(0.0))
    val hedge = intent === "HEDGING"
    val highRr = rr > 2.0 && !overdone
    val bullFlow = callVolOi > 1.5 && col("direction") === "BULLISH" && !overdone
    val highAtr = atrMove > 2.0
    val bearFlow = putVolOi > 2.0 && col("direction") === "BEARISH"
    val score = hedge.cast("int") + highRr.cast("int") + bullFlow.cast("int") +
      highAtr.cast("int") + bearFlow.cast("int")
    df.withColumns(ListMap(
      "premium_hedge" -> hedge,
      "premium_high_rr" -> highRr,
      "premium_bull_flow" -> bullFlow,
      "premium_high_atr" -> highAtr,
      "premium_bear_flow" -> bearFlow,
      "premium_score" -> score,
      "is_premium_signal" -> (score >= 1),
      "is_tradeable" -> ((hedge && highRr) || (hedge && highAtr))))
  }

  /** J2 wide enrichment join: signals x technicals x news, then risk +
    * premium columns (enrichment-trigger/main.py:620-737). */
  def run(signals: DataFrame, dailyBars: DataFrame, news: DataFrame): DataFrame = {
    val sig = signals.where(col("overnight_score") >= Scanner.MinScore)
    val tech = technicals(dailyBars).withColumnsRenamed(Map(
      "date" -> "tech_date", "close" -> "tech_close", "volume" -> "tech_volume"))
    val joined = sig
      .join(tech, Seq("ticker"), "left")
      .join(news.drop("summary"), Seq("ticker", "scan_date"), "left")
    withPremiumFields(withRiskFields(joined))
  }
}
