package graft.pipelines

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Joins

/** §3.3 forward-paper-trader pipeline: eligibility gate (P8) -> dedup with
  * duplicates kept-and-flagged (A14) -> OCC contract key (F2/J8) -> regime
  * telemetry (J4 as-of VIX + W10 SPY SMA-10 trend) -> bracket execution
  * over minute bars -> ledger rows (forward-paper-trader/main.py:139-337).
  *
  * The reference's per-trade REST loop becomes one grouped scan over a
  * pre-ingested minute-bars table keyed by contract; everything else is
  * column algebra. Scales by partitioning bars on opt_ticker — the trades
  * side is tiny and broadcast.
  */
object Execution {

  val MinPremiumScore = 2 // forward-paper-trader/main.py:27-31 V3 policy
  val PolicyVersion = "V3"
  val PolicyGate = "premium_score>=2 AND (V>250 OR OI>500)"

  /** P8 eligibility (:150-163). */
  def eligible(enriched: DataFrame, targetDate: Column): DataFrame =
    enriched.where(
      col("scan_date") === targetDate &&
        col("premium_score") >= MinPremiumScore &&
        (col("recommended_volume") > 250 || col("recommended_oi") > 500) &&
        col("recommended_strike").isNotNull &&
        col("recommended_expiration").isNotNull)

  /** A14/O3 dedup: duplicates flagged, not dropped (:169-187). */
  def dedupFlag(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker"), col("scan_date"))
      .orderBy(col("premium_score").desc, col("recommended_volume").desc,
        col("recommended_contract"))
    df.withColumn("is_duplicate", row_number().over(w) > 1)
  }

  /** J4+W10 regime telemetry from a macro series table
    * (symbol, date, close): VIX close at most recent date <= entry day,
    * SPY SMA-10 trend vs last close (:75-132). Returns a 1-row frame from
    * one global aggregation, so the series is read once: the VIX close is
    * an argmax over VIX rows, and SPY's last ten sessions are the head of
    * its closes sorted by date descending (the mean sums them in that
    * order, newest first). */
  def regimeContext(macroSeries: DataFrame, entryDay: Column): DataFrame = {
    val isSpy = col("symbol") === "SPY"
    val isVix = col("symbol") === "^VIX"
    // avg() semantics: nulls skipped, sum from 0.0 in row order
    val closes = filter(transform(col("_spy"), _.getField("close")), _.isNotNull)
    val sma10 = aggregate(closes, lit(0.0), _ + _) / size(closes)
    macroSeries.where(col("date") <= entryDay)
      .agg(
        max_by(when(isVix, col("close")), when(isVix, col("date"))).as("VIX_at_entry"),
        slice(sort_array(collect_list(when(isSpy, struct(col("date"), col("close")))),
          asc = false), 1, 10).as("_spy"))
      .select(col("VIX_at_entry"),
        when(size(col("_spy")) >= 10,
          when(element_at(col("_spy"), 1).getField("close") > sma10, "BULLISH")
            .otherwise("BEARISH"))
          .as("SPY_trend_state"))
  }

  case class LedgerBar(trade_key: String, t: Long, h: Double, l: Double, c: Double, v: Long)

  case class LedgerFill(
      trade_key: String, entry_timestamp: Long, entry_price: Double,
      target_price: Double, stop_price: Double,
      exit_timestamp: Long, exit_price: Double, exit_reason: String,
      realized_return_pct: Double, invalid_liquidity: Boolean)

  /** Bracket scan with the ledger's exact entry semantics (:261-318):
    * entry bar = exact entryTs match, else first bar after entryTs but
    * still within the entry day; zero-volume entry -> INVALID_LIQUIDITY;
    * from the next bar: timeout at ts >= timeoutTs (close), stop-before-
    * target intrabar, exhausted -> TIMEOUT at last close. */
  private[pipelines] def scanLedger(entryTs: Long, timeoutTs: Long, entryDayEnd: Long)(
      key: String, bars: Iterator[LedgerBar]): Iterator[LedgerFill] = {
    val buf = bars.toArray // minute bars per contract over 3 sessions: bounded (~1200)
    val entryIdx = {
      val exact = buf.indexWhere(b => b.t == entryTs)
      if (exact >= 0) exact
      else buf.indexWhere(b => b.t > entryTs && b.t <= entryDayEnd)
    }
    if (entryIdx < 0 || buf(entryIdx).v == 0)
      return Iterator.single(LedgerFill(key, 0L, Double.NaN, Double.NaN, Double.NaN,
        0L, Double.NaN, "INVALID_LIQUIDITY", Double.NaN, invalid_liquidity = true))
    val e = buf(entryIdx)
    val entry = e.c * 1.02
    val target = entry * 1.40
    val stop = entry * 0.75
    var i = entryIdx + 1
    var exitReason: String = null
    var exitPrice = 0.0
    var exitTs = 0L
    while (i < buf.length && exitReason == null) {
      val b = buf(i)
      if (b.t >= timeoutTs) { exitReason = "TIMEOUT"; exitPrice = b.c; exitTs = b.t }
      else if (b.l <= stop) { exitReason = "STOP"; exitPrice = stop; exitTs = b.t }
      else if (b.h >= target) { exitReason = "TARGET"; exitPrice = target; exitTs = b.t }
      i += 1
    }
    if (exitReason == null) {
      val last = buf.last
      exitReason = "TIMEOUT"; exitPrice = last.c; exitTs = last.t
    }
    Iterator.single(LedgerFill(key, e.t, entry, target, stop, exitTs, exitPrice,
      exitReason, (exitPrice - entry) / entry, invalid_liquidity = false))
  }

  /** Full ledger run. `minuteBars` columns: opt_ticker, t, o,h,l,c, v.
    * `entryTs`/`timeoutTs`/`entryDayEnd` are epoch-ms scalars (15:00 EST
    * entry, 15:59 session-3 timeout — resolved by the caller through the
    * trading calendar, W15). */
  def run(spark: SparkSession, enriched: DataFrame, minuteBars: DataFrame,
      macroSeries: DataFrame, targetDate: Column, entryDay: Column,
      entryTs: Long, timeoutTs: Long, entryDayEnd: Long): DataFrame = {
    import spark.implicits._
    val base = dedupFlag(eligible(enriched, targetDate)).withColumns(ListMap(
      "opt_ticker" -> GraftFunctions.occTicker(
        col("ticker"), col("recommended_expiration"),
        col("direction") === "BULLISH", col("recommended_strike")),
      "is_skipped" -> col("is_duplicate"),
      "skip_reason" -> when(col("is_duplicate"), "DEDUP_TICKER_DATE_SKIP")
        .when(col("premium_score") < MinPremiumScore, "LOW_PREMIUM_SCORE_SKIP")))
      .localCheckpoint(true) // the trades feed the bars filter and the join: read once
    // one live trade per (ticker, date), so its contracts are already distinct
    val live = base.where(!col("is_skipped")).select(col("opt_ticker"))
    val bars = minuteBars.join(broadcast(live), Seq("opt_ticker"), "left_semi")
      .select(col("opt_ticker").as("trade_key"), col("t"), col("h"), col("l"),
        col("c"), col("v"))
    val fills = bars.as[LedgerBar]
      .groupByKey(_.trade_key)
      .flatMapSortedGroups($"t")(scanLedger(entryTs, timeoutTs, entryDayEnd) _)
      .toDF()
      .withColumnRenamed("trade_key", "opt_ticker")
    val regime = regimeContext(macroSeries, entryDay)
    base.join(fills, Seq("opt_ticker"), "left")
      .crossJoin(broadcast(regime))
      .select(
        col("scan_date"), col("ticker"), col("recommended_contract"),
        col("direction"), col("is_premium_signal"), col("premium_score"),
        lit(PolicyVersion).as("policy_version"), lit(PolicyGate).as("policy_gate"),
        col("is_skipped"), col("skip_reason"),
        col("VIX_at_entry"), col("SPY_trend_state"),
        col("recommended_dte"), col("recommended_volume"), col("recommended_oi"),
        col("recommended_spread_pct"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("entry_timestamp")).as("entry_timestamp"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("entry_price")).as("entry_price"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("target_price")).as("target_price"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("stop_price")).as("stop_price"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("exit_timestamp")).as("exit_timestamp"),
        when(col("is_skipped"), "SKIPPED")
          .when(col("invalid_liquidity"), "INVALID_LIQUIDITY")
          .when(col("exit_reason").isNull && !col("is_skipped"), "NO_BARS")
          .otherwise(col("exit_reason")).as("exit_reason"),
        when(!col("is_skipped") && !col("invalid_liquidity"),
          col("realized_return_pct")).as("realized_return_pct"))
  }
}
