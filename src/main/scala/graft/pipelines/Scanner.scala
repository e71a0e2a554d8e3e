package graft.pipelines

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §3.1 overnight-scanner pipeline, Spark-first.
  *
  * Reference lifecycle (overnight_scanner.py:806-888): full-market snapshot
  * -> mover filter -> per-ticker chain aggregation (threads) -> additive
  * score -> cluster boost -> write. Here the per-ticker thread fan-out
  * becomes one grouped aggregation and the scoring is pure column algebra,
  * with no driver loops. Each input is read once: the movers (snapshot ⋉
  * broadcast universe) are checkpointed, the chain streams past a
  * broadcast of their prices, and ONE grouped aggregation per mover
  * computes the flow metrics and both sides' best contracts; each chain
  * partition is partially aggregated before the chain's one shuffle, on
  * the mover. The per-mover rows are left-joined back to the checkpointed
  * movers, and after scoring and the broadcast metadata join one window
  * over (industry, direction) sizes the boost clusters.
  *
  * Semantics cited per block; quirks preserved deliberately (SURVEY §7.4.6):
  * the divergence rule flips `direction` AFTER direction-conditional
  * metrics were chosen (overnight_scanner.py:625-634), and the best
  * contract is picked for the FLIPPED direction.
  */
object Scanner {

  val MinPriceChangePct = 1.0     // overnight_scanner.py:22
  val MinDollarVolume = 500000.0  // :25
  val MinScore = 6                // :28
  val ClusterMinSize = 4          // :31
  val ClusterMinScore = 3         // :32
  val ClusterBoostThreshold = 6   // :33

  /** P3 effective price + P2 mover filter over the snapshot table
    * (overnight_scanner.py:336-355). */
  def movers(snapshots: DataFrame): DataFrame =
    snapshots
      .withColumn("effective_price",
        coalesce(col("day.c"), col("lastTrade.p"), col("prevDay.c")))
      .withColumn("day_volume", col("day.v"))
      .where(abs(col("todaysChangePerc")) >= MinPriceChangePct &&
        col("effective_price").isNotNull)

  /** P1 universe semi-join (broadcast; overnight_scanner.py:329-331). */
  def inUniverse(movers: DataFrame, universe: DataFrame): DataFrame =
    movers.join(broadcast(universe.select(upper(trim(col("value"))).as("ticker"))),
      Seq("ticker"), "left_semi")

  /** The chain columns the scan reads. */
  private val ChainColumns: Seq[String] = Seq("underlying", "contract_symbol", "option_type",
    "expiration_date", "strike", "last_price", "bid", "ask", "volume", "open_interest",
    "implied_volatility", "delta", "gamma", "theta", "vega")

  private def midOrLast: Column =
    when(col("bid").isNotNull && col("ask").isNotNull && col("bid") > 0 && col("ask") > 0,
      (col("bid") + col("ask")) / 2)
      .otherwise(when(col("last_price").isNotNull && col("last_price") =!= 0, col("last_price")))

  /** Per-contract columns over chain rows that carry the mover's price
    * `upx`, in one projection: flow inputs (vol, oi, mid0, isCall), the P6
    * eligibility gate (overnight_scanner.py:400-447) and the contract
    * score (:449-481). */
  private def contracts(rows: DataFrame, asOf: Column): DataFrame = {
    val upx = col("upx")
    val vol = coalesce(col("volume"), lit(0L))
    val oi = coalesce(col("open_interest"), lit(0L))
    val dte = datediff(col("expiration_date"), asOf)
    val mid = (col("bid") + col("ask")) / 2
    val spreadPct = (col("ask") - col("bid")) / mid
    val mny = when(col("option_type") === "call", col("strike") / upx)
      .otherwise(upx / col("strike"))
    val eligible = col("expiration_date").isNotNull &&
      dte.between(7, 90) &&
      col("bid") > 0 && col("ask") > 0 && mid > 0 &&
      spreadPct <= 0.40 &&
      vol >= 10 &&
      (upx.isNull || upx <= 0 || mny.between(0.90, 1.25))
    val adelta = abs(coalesce(col("delta"), lit(0.0)))
    val score =
      least(vol / 500.0, lit(5.0)) * 2.0 +
        (lit(1.0) - least(spreadPct, lit(1.0))) * 3.0 +
        least(vol / greatest(oi, lit(1L)), lit(3.0)) * 1.5 +
        coalesce(col("gamma"), lit(0.0)) * 20.0 +
        when(adelta.between(0.25, 0.50), 2.0).otherwise(0.0) -
        abs(coalesce(col("theta"), lit(0.0))) / greatest(mid, lit(0.01)) * 1.0
    rows.select(col("*"), vol.as("vol"), oi.as("oi"),
      midOrLast.as("mid0"), (col("option_type") === "call").as("isCall"),
      dte.as("dte"), mid.as("mid"), spreadPct.as("spread_pct"),
      eligible.as("eligible"), score.as("contract_score"))
  }

  /** A1-A5 per-side flow metrics as aggregates over a ticker's chain rows
    * (overnight_scanner.py:364-399, 486-519). Side-conditional sums keep
    * the call/put split inside the one grouped aggregation. */
  private def flowMetrics: Seq[(String, Column)] = {
    def side(cond: Column, v: Column): Column = sum(when(cond, v).otherwise(lit(0.0)))
    // _dollar_vol (:364-375): volume * (mid ?? last) * 100, skip null mid/vol=0
    def dollarVol(cond: Column): Column =
      side(cond && col("mid0").isNotNull, col("vol") * col("mid0") * 100)
    // _count_active_strikes (:378-382): vol > max(oi*0.5, 100)
    def activeStrikes(cond: Column): Column =
      sum(when(cond && col("vol") > greatest(col("oi") * 0.5, lit(100.0)), 1).otherwise(0))
    // _uoa_depth (:385-399): (vol-oi)*mid*100 where vol > oi
    def uoaDepth(cond: Column): Column =
      side(cond && col("vol") > col("oi") && col("mid0").isNotNull,
        (col("vol") - col("oi")) * col("mid0") * 100)
    // atm iv (:498-502): iv of contract minimizing |strike - underlying|
    def atmIv(cond: Column): Column =
      min_by(when(cond, col("implied_volatility")),
        when(cond, abs(coalesce(col("strike"), lit(0.0)) - col("upx"))))
    Seq(
      "call_dollar_vol" -> dollarVol(col("isCall")),
      "put_dollar_vol" -> dollarVol(!col("isCall")),
      "total_call_volume" -> side(col("isCall"), col("vol")).cast("long"),
      "total_put_volume" -> side(!col("isCall"), col("vol")).cast("long"),
      "call_vol_oi" -> side(col("isCall"), col("vol")) /
        greatest(side(col("isCall"), col("oi")), lit(1.0)),
      "put_vol_oi" -> side(!col("isCall"), col("vol")) /
        greatest(side(!col("isCall"), col("oi")), lit(1.0)),
      "call_active_strikes" -> activeStrikes(col("isCall")),
      "put_active_strikes" -> activeStrikes(!col("isCall")),
      "call_uoa_depth" -> uoaDepth(col("isCall")),
      "put_uoa_depth" -> uoaDepth(!col("isCall")),
      "atm_call_iv" -> atmIv(col("isCall")),
      "atm_put_iv" -> atmIv(!col("isCall")))
  }

  /** A6 argmax of the contract score among one side's eligible contracts
    * (overnight_scanner.py:400-481). Ties broken by contract_symbol
    * (deterministic; the reference keeps first-encountered order); rows
    * of other sides or failing the gate have a null ordering, which
    * `max_by` skips. Fields stay raw here; [[run]] rounds the winner's. */
  private def bestContract(optionType: String): Column =
    max_by(
      struct(
        col("contract_symbol"), col("strike"), col("expiration_date"), col("dte"),
        col("mid"), col("spread_pct"), col("vol").as("volume"),
        col("oi").as("open_interest"), col("implied_volatility"), col("gamma"),
        col("delta"), col("theta"), col("vega"), col("contract_score")),
      when(col("eligible") && col("option_type") === optionType,
        struct(col("contract_score"), col("contract_symbol"))))

  /** F18 six-signal additive score with signals[] accumulation and the
    * divergence direction flip (overnight_scanner.py:569-672). */
  def score(movers: DataFrame): DataFrame = {
    val pct = coalesce(col("todaysChangePerc"), lit(0.0))
    val bullish = pct > 0
    val callDv = coalesce(col("call_dollar_vol"), lit(0.0))
    val putDv = coalesce(col("put_dollar_vol"), lit(0.0))
    val totalDv = callDv + putDv
    val callSkew = callDv / greatest(putDv, lit(1.0))
    val putSkew = putDv / greatest(callDv, lit(1.0))
    val s1 = when(totalDv > MinDollarVolume,
      when(bullish && callDv > 0,
        when(callSkew > 3.0, 2).when(callSkew > 1.5, 1).otherwise(0))
        .when(!bullish && putDv > 0,
          when(putSkew > 3.0, 2).when(putSkew > 1.5, 1).otherwise(0))
        .otherwise(0)).otherwise(0)
    val s1label = when(s1 > 0,
      when(bullish, format_string("Call $ %.1fx puts", callSkew))
        .otherwise(format_string("Put $ %.1fx calls", putSkew)))
    val relVolOi = when(bullish, coalesce(col("call_vol_oi"), lit(0.0)))
      .otherwise(coalesce(col("put_vol_oi"), lit(0.0)))
    val s2 = when(relVolOi > 2.0, 2).when(relVolOi > 0.8, 1).otherwise(0)
    val s2label = when(relVolOi > 2.0, format_string("Vol/OI %.1fx (very unusual)", relVolOi))
      .when(relVolOi > 0.8, format_string("Vol/OI %.1fx (unusual)", relVolOi))
    val relStrikes = when(bullish, coalesce(col("call_active_strikes"), lit(0)))
      .otherwise(coalesce(col("put_active_strikes"), lit(0)))
    val s3 = when(relStrikes >= 5, 2).when(relStrikes >= 3, 1).otherwise(0)
    val s3label = when(relStrikes >= 5, format_string("%d strikes active (institutional)", relStrikes))
      .when(relStrikes >= 3, format_string("%d strikes active", relStrikes))
    val relUoa = when(bullish, coalesce(col("call_uoa_depth"), lit(0.0)))
      .otherwise(coalesce(col("put_uoa_depth"), lit(0.0)))
    val s4 = when(relUoa > 2000000, 2).when(relUoa > 500000, 1).otherwise(0)
    val s4label = when(relUoa > 2000000, format_string("$%.1fM new positioning", relUoa / 1e6))
      .when(relUoa > 500000, format_string("$%.0fK new positioning", relUoa / 1e3))
    val s5 = when(abs(pct) > 1.5, 1).otherwise(0)
    val s5label = when(s5 > 0, format_string("Price moved %+.1f%%", pct))
    // divergence (:625-634) — note flip AFTER s2-s4 picked their side
    val divBear = bullish && putDv > callDv * 2 && putDv > 1000000
    val divBull = !bullish && callDv > putDv * 2 && callDv > 1000000
    val s6 = when(divBear || divBull, 1).otherwise(0)
    val s6label = when(divBear, lit("DIVERGENCE: heavy puts despite rally"))
      .when(divBull, lit("DIVERGENCE: heavy calls despite selloff"))
    val direction = when(divBear, "BEARISH").when(divBull, "BULLISH")
      .when(bullish, "BULLISH").otherwise("BEARISH")
    movers.withColumns(ListMap(
      "direction" -> direction,
      "overnight_score" -> (s1 + s2 + s3 + s4 + s5 + s6).cast("int"),
      "signals" -> filter(
        array(s1label, s2label, s3label, s4label, s5label, s6label), x => x.isNotNull),
      "price_change_pct" -> pct,
      "total_options_dollar_volume" -> totalDv))
  }

  /** A7 cluster boost (overnight_scanner.py:235-293): count (industry,
    * direction) clusters among scores >= 3; boost sub-threshold members
    * 4->+1 / 5-7->+2 / 8+->+3, capped at 10. The cluster size is a window
    * sum over (industry, direction), so the scored rows are planned once. */
  def clusterBoost(scored: DataFrame, metadata: DataFrame): DataFrame = {
    val tagged = scored.join(
      broadcast(metadata.select(col("ticker"), col("sector"), col("industry"))),
      Seq("ticker"), "left")
    val members = sum(when(col("industry").isNotNull &&
      col("overnight_score") >= ClusterMinScore, 1).otherwise(0))
      .over(Window.partitionBy(col("industry"), col("direction")))
    val size = when(col("industry").isNotNull, members.cast("int")).otherwise(lit(0))
    val boost = when(col("industry").isNotNull &&
      col("overnight_score") < ClusterBoostThreshold && size >= ClusterMinSize,
      when(size >= 8, 3).when(size >= 5, 2).otherwise(1)).otherwise(0)
    tagged.withColumns(ListMap(
      "cluster_size" -> size,
      "original_score" -> col("overnight_score"),
      "cluster_boost" -> boost,
      "overnight_score" -> least(col("overnight_score") + boost, lit(10)).cast("int")))
  }

  /** Full pipeline: snapshots + chain + universe + metadata -> scored,
    * boosted signal table (all rows written; downstream filters narrow —
    * overnight_scanner.py:883-885). */
  def run(snapshots: DataFrame, chain: DataFrame, universe: DataFrame,
      metadata: DataFrame, asOf: Column, scanDate: Column): DataFrame = {
    // one row per mover, read once; the row id keeps duplicated snapshot
    // rows apart and is fixed by the checkpoint
    val m = inUniverse(movers(snapshots), universe)
      .select(col("ticker"), col("todaysChangePerc"), col("effective_price"),
        col("day_volume"), monotonically_increasing_id().as("_mover"))
      .localCheckpoint(true)
    val px = m.select(col("ticker").as("underlying"), col("effective_price").as("upx"),
      col("_mover"))
    val rows = contracts(chain.select(ChainColumns.map(col): _*)
      .join(broadcast(px), Seq("underlying")), asOf)
    val aggs = flowMetrics.map { case (name, c) => c.as(name) } ++
      Seq(bestContract("call").as("call"), bestContract("put").as("put"))
    // a mover without chain rows has no group: null metrics, not zero sums
    val perMover = m.join(
      rows.groupBy(col("_mover")).agg(aggs.head, aggs.tail: _*), Seq("_mover"), "left")
    val scored = score(perMover)
      .withColumn("best",
        when(col("direction") === "BULLISH", col("call")).otherwise(col("put")))
    clusterBoost(scored, metadata)
      .select(
        scanDate.as("scan_date"), col("ticker"), col("direction"),
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
        round(col("best.mid"), 2).as("recommended_mid_price"),
        round(col("best.spread_pct"), 4).as("recommended_spread_pct"),
        round(col("best.contract_score"), 3).as("contract_score"),
        when(col("best").isNotNull, round(coalesce(col("best.delta"), lit(0.0)), 4))
          .as("recommended_delta"),
        round(col("best.gamma"), 6).as("recommended_gamma"),
        round(col("best.theta"), 4).as("recommended_theta"),
        round(col("best.vega"), 4).as("recommended_vega"),
        round(col("best.implied_volatility"), 4).as("recommended_iv"),
        col("best.volume").as("recommended_volume"),
        col("best.open_interest").as("recommended_oi"))
  }
}
