package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.calendar.TradingCalendar
import graft.kernels.Bracket

/** Domain-operator queries: trading-calendar arithmetic (W15) and the
  * bracket-execution kernel (X1) + config sweep (X3), declared over the
  * testdata tables so the DuckDB oracle can replay them. The bracket
  * oracle is a pure-SQL reformulation of the kernel's state machine —
  * cross-engine agreement is the strongest check we have on the typed
  * kernel's semantics.
  */
object DomainOps {

  /** q59 — trading-day arithmetic via calendar dimension join (W15):
    * session flag, session index, and next-session date per order.
    * Weekday-only session rule so the oracle reduces to dayofweek. */
  def q59Calendar(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderdate".cast("date").as("orderdate"))
    // Deliberate two-scalar driver action: the calendar dimension needs
    // its bounds to be generated, and generation is driver-side by design
    // (a few KB, always the broadcast side). The min/max is a partial-agg'd
    // scan — the lazy alternative (sequence() + running-sum session_seq)
    // would reintroduce an unpartitioned window for no gain.
    val Array(mn, mx) = o.agg(min($"orderdate"), max($"orderdate"))
      .head().toSeq.map(_.asInstanceOf[java.sql.Date].toLocalDate).toArray
    val cal = TradingCalendar.build(spark, mn, mx.plusDays(7), holidays = Set.empty[LocalDate])
    val withSeq = TradingCalendar.withSessionSeq(o, cal, "orderdate")
    TradingCalendar.offsetSession(withSeq, cal, 1)
      .select($"o_orderkey", $"orderdate", $"is_session", $"session_seq",
        $"session_plus_1".as("next_session"))
  }

  private def barsFromEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      $"user_id",
      unix_millis($"ts").as("t"),
      (($"value" + 1000) * 1.01).as("h"),
      (($"value" + 1000) * 0.99).as("l"),
      ($"value" + 1000).cast("double").as("c"))

  /** q60 — bracket-order execution scan (X1): events as synthetic price
    * bars per user; entry at the first bar, 2h timeout, +3%/-3% bracket.
    * Runs the typed flatMapSortedGroups kernel; oracle replays the state
    * machine in SQL (first qualifying bar wins, timeout > stop > target
    * precedence within a bar, exhausted -> timeout_eod at last close). */
  def q60Bracket(spark: SparkSession, dir: String): DataFrame = {
    val bars = barsFromEvents(spark, dir)
    val entry = bars.groupBy($"user_id").agg(min($"t").as("entry_ts"))
      .withColumn("timeout_ts", $"entry_ts" + lit(7200000L))
    val in = bars.join(entry, "user_id").select(
      $"user_id".as("trade_id"), $"t", $"c".as("o"), $"h", $"l", $"c",
      $"entry_ts", $"timeout_ts",
      lit(1.02).as("slippage"), lit(1.03).as("target_mult"), lit(0.97).as("stop_mult"),
      lit(false).as("stop_adverse"), lit(1.0).as("timeout_mult"))
    Bracket.execute(spark, in).toDF()
      .select($"trade_id".as("user_id"), $"entry_ts",
        round($"entry_price", 4).as("entry_price"),
        $"exit_ts", round($"exit_price", 4).as("exit_price"),
        $"exit_reason", round($"return_pct", 4).as("return_pct"))
  }

  /** q62 — the scanner's composite flow-metric aggregation (A1-A6) mapped
    * onto lineitem: side = linestatus, vol = quantity, oi = discount*1000,
    * mid = extendedprice/100. One groupBy produces per-side dollar volume,
    * vol/OI ratio, active-strike counts, UOA depth, and the nearest-to-ATM
    * argmin — the exact shape of Scanner's flow metrics, oracle-checked. */
  def q62FlowMetrics(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.lineitem(spark, dir)
      .withColumn("isCall", $"l_linestatus" === "O")
      .withColumn("vol", $"l_quantity")
      .withColumn("oi", $"l_discount" * 1000)
      .withColumn("mid", $"l_extendedprice" / 100)
    def side(cond: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      sum(when(cond, v).otherwise(lit(0.0)))
    c.groupBy($"l_suppkey")
      .agg(
        round(side($"isCall", $"vol" * $"mid" * 100), 4).as("call_dollar_vol"),
        round(side(!$"isCall", $"vol" * $"mid" * 100), 4).as("put_dollar_vol"),
        round(side($"isCall", $"vol") / greatest(side($"isCall", $"oi"), lit(1.0)), 4)
          .as("call_vol_oi"),
        sum(when($"isCall" && $"vol" > greatest($"oi" * 0.5, lit(10.0)), 1).otherwise(0))
          .cast("long").as("call_active"),
        round(side($"isCall" && $"vol" > $"oi", ($"vol" - $"oi") * $"mid" * 100), 4)
          .as("call_uoa"),
        round(min_by(when($"isCall", $"l_tax"),
          when($"isCall", struct(abs($"l_extendedprice" - 30000),
            $"l_orderkey", $"l_linenumber"))), 4).as("atm_tax"))
  }

  /** q63 — the six-signal additive score (F18) with label accumulation and
    * the divergence direction flip, over q62's metrics joined back to a
    * per-supplier "momentum" (avg discount sign proxy). Signals emitted as
    * a joined string so the oracle hash-compares a scalar. */
  def q63ScoreF18(spark: SparkSession, dir: String): DataFrame = {
    val m = q62FlowMetrics(spark, dir)
    val mom = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg((avg($"l_discount") * 100 - 5.0).as("chg")) // signed pseudo-change
    val df = m.join(mom, "l_suppkey")
    val bullish = $"chg" > 0
    val callDv = $"call_dollar_vol"
    val putDv = $"put_dollar_vol"
    val skewUp = callDv / greatest(putDv, lit(1.0))
    val skewDn = putDv / greatest(callDv, lit(1.0))
    val s1 = when(callDv + putDv > 100000,
      when(bullish && callDv > 0, when(skewUp > 3.0, 2).when(skewUp > 1.5, 1).otherwise(0))
        .when(!bullish && putDv > 0, when(skewDn > 3.0, 2).when(skewDn > 1.5, 1).otherwise(0))
        .otherwise(0)).otherwise(0)
    val s2 = when($"call_vol_oi" > 2.0, 2).when($"call_vol_oi" > 0.8, 1).otherwise(0)
    val s3 = when($"call_active" >= 5, 2).when($"call_active" >= 3, 1).otherwise(0)
    val s4 = when($"call_uoa" > 2000000, 2).when($"call_uoa" > 500000, 1).otherwise(0)
    val s5 = when(abs($"chg") > 1.5, 1).otherwise(0)
    val divBear = bullish && putDv > callDv * 2 && putDv > 1000000
    val divBull = !bullish && callDv > putDv * 2 && callDv > 1000000
    val s6 = when(divBear || divBull, 1).otherwise(0)
    df.select(
      $"l_suppkey",
      (s1 + s2 + s3 + s4 + s5 + s6).cast("int").as("score"),
      when(divBear, "BEARISH").when(divBull, "BULLISH")
        .when(bullish, "BULLISH").otherwise("BEARISH").as("direction"),
      array_join(filter(array(
        when(s1 > 0, "SKEW"), when(s2 > 0, "VOLOI"), when(s3 > 0, "STRIKES"),
        when(s4 > 0, "UOA"), when(s5 > 0, "MOMENTUM"), when(s6 > 0, "DIVERGENCE")),
        x => x.isNotNull), "|").as("signals"))
  }

  /** q64 — seeded Monte Carlo (X4): 10 000 lifetimes at the reference's
    * published parameters (monte_carlo_v2_regime.py:8-18 — 12 months x 9
    * trades/month, 55.6%/22.2%/22.2% outcome mix, +40%/-25%/0% returns,
    * $2 500 start, ruin < $500, harvest $2 000 above $5 000 from month 4).
    * The draw stream is the cross-engine CLCG ([[graft.kernels.MonteCarlo]])
    * so the DuckDB oracle replays every lifetime bit-exactly in a recursive
    * CTE and the summary hash-matches. `mean_capital` is intentionally NOT
    * part of the checked output: a 10k-term double sum is
    * summation-order-sensitive and Spark's partial-agg order is
    * nondeterministic; the quantile/max/count statistics are order-free. */
  def q64MonteCarlo(spark: SparkSession, dir: String): DataFrame =
    graft.kernels.MonteCarlo.summarize(
      graft.kernels.MonteCarlo.categorical(spark, nPaths = 10000,
        months = 12, tradesPerMonth = 9,
        pTarget = 0.556, pStop = 0.222, targetFrac = 0.40, stopFrac = -0.25,
        timeoutFrac = 0.0))
      .select("ruin_pct", "median_capital", "p90_capital", "worst_drawdown_pct")

  /** q61 — config sweep over the kernel (X3): 2x2 bracket configs through
    * [[Bracket.executeGrid]] — bars shuffle once and each sorted group is
    * scanned with four concurrent bracket states (the crossJoin
    * formulation shuffled every bar |configs| times). Grouped exit-reason
    * stats (A8 shape); the per-row-param kernel entry stays oracle-covered
    * by q60. */
  def q61Sweep(spark: SparkSession, dir: String): DataFrame = {
    val grid = Seq(
      Bracket.GridCfg(0, 1.02, 1.03, 0.97, stop_adverse = false, timeout_mult = 1.0),
      Bracket.GridCfg(1, 1.02, 1.03, 0.95, stop_adverse = false, timeout_mult = 1.0),
      Bracket.GridCfg(2, 1.02, 1.06, 0.97, stop_adverse = false, timeout_mult = 1.0),
      Bracket.GridCfg(3, 1.02, 1.06, 0.95, stop_adverse = false, timeout_mult = 1.0))
    val bars = barsFromEvents(spark, dir)
    val entry = bars.groupBy($"user_id").agg(min($"t").as("entry_ts"))
      .withColumn("timeout_ts", $"entry_ts" + lit(7200000L))
    val in = bars.join(entry, "user_id").select(
      $"user_id".as("trade_id"), $"t", $"c".as("o"), $"h", $"l", $"c",
      $"entry_ts", $"timeout_ts")
    Bracket.executeGrid(spark, in, grid).toDF()
      .withColumn("cfg", $"gid")
      .groupBy($"cfg", $"exit_reason")
      .agg(count(lit(1)).as("cnt"), round(avg($"return_pct"), 4).as("avg_ret"))
  }

  /** q45 — entry-bar fallback (J5): the requested entry timestamp falls
    * BETWEEN bars (min(t)+1), so the kernel's "first bar at/after
    * entry_ts" fallback branch picks the next bar — the branch q60's
    * exact-match fixture never exercises. Oracle selects the entry bar
    * with a row_number over t >= requested. */
  def q45EntryFallback(spark: SparkSession, dir: String): DataFrame = {
    val bars = barsFromEvents(spark, dir)
    val entry = bars.groupBy($"user_id")
      .agg((min($"t") + 1).as("entry_ts"))
      .withColumn("timeout_ts", $"entry_ts" + lit(7200000L))
    val in = bars.join(entry, "user_id").select(
      $"user_id".as("trade_id"), $"t", $"c".as("o"), $"h", $"l", $"c",
      $"entry_ts", $"timeout_ts",
      lit(1.02).as("slippage"), lit(1.03).as("target_mult"), lit(0.97).as("stop_mult"),
      lit(false).as("stop_adverse"), lit(1.0).as("timeout_mult"))
    Bracket.execute(spark, in).toDF()
      .select($"trade_id".as("user_id"), $"entry_ts",
        round($"entry_price", 4).as("entry_price"),
        $"exit_ts", round($"exit_price", 4).as("exit_price"),
        $"exit_reason", round($"return_pct", 4).as("return_pct"))
  }

  /** q48 — the F19 risk-field chain (Enrich.withRiskFields,
    * enrichment-trigger/main.py:458-576) over inputs synthesized
    * deterministically from lineitem: ATR-normalized move, mean-reversion
    * risk (flow-alignment + RSI-extreme + overextension + catalyst
    * discount), enrichment quality blend, and the F20 risk/reward ratio.
    * The oracle replays every CASE rung with all literals cast DOUBLE
    * (DuckDB CASE over bare decimals yields DECIMAL arithmetic) and every
    * intermediate round mirrored through the VARCHAR->DECIMAL path. */
  def q48RiskFields(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir).select(
      $"l_orderkey", $"l_linenumber",
      (($"l_discount" - 0.04) * 200).as("price_change_pct"),
      ($"l_quantity" * 2).as("rsi_14"),
      ($"l_tax" * 100).as("atr_14"),
      ($"l_extendedprice" / 100).as("underlying_price"),
      ($"l_discount" * 10).as("catalyst_score"),
      ($"l_tax" * 10).as("reversal_probability"),
      ($"l_partkey" % 11).cast("int").as("overnight_score"),
      when($"l_linestatus" === "O", "BULLISH").otherwise("BEARISH").as("direction"),
      ($"l_extendedprice" / 100 * 0.95).as("support"),
      ($"l_extendedprice" / 100 * 1.08).as("resistance"),
      lit(false).as("move_overdone"))
    graft.pipelines.Enrich.withRiskFields(base).select(
      $"l_orderkey", $"l_linenumber",
      $"atr_normalized_move", $"mean_reversion_risk",
      $"enrichment_quality_score", $"risk_reward_ratio")
  }

  /** q65 — scenario-parameterized sweep (X2, the Stress adverse-fill
    * semantics of simulate_live_execution.py:205-302): the full 2-config x
    * 3-scenario grid through [[graft.research.Research.sweep]] in one
    * kernel pass. Stress exits stops at min(stop, close) and penalizes
    * timeouts close*0.95 — the oracle replays those branches in SQL, so
    * the adverse-fill arithmetic is cross-engine-checked. */
  def q65StressSweep(spark: SparkSession, dir: String): DataFrame = {
    val bars = barsFromEvents(spark, dir)
      .withColumnRenamed("user_id", "trade_id")
      .withColumn("o", $"c")
    val trades = bars.groupBy($"trade_id").agg(min($"t").as("entry_ts"))
      .withColumn("timeout_ts", $"entry_ts" + lit(7200000L))
    val configs = spark.createDataFrame(Seq((0, 1.03, 0.97), (1, 1.06, 0.95)))
      .toDF("cfg", "target_mult", "stop_mult")
    graft.research.Research.sweep(spark, trades, bars, configs)
      .groupBy($"scenario", $"cfg", $"exit_reason")
      .agg(count(lit(1)).as("cnt"), round(avg($"return_pct"), 4).as("avg_ret"))
  }

  /** q274 — P8 eligibility gate census ([[graft.pipelines.Execution
    * .eligible]], forward-paper-trader/main.py:150-161): lineitem mapped
    * to the enriched-scan shape (ship date as scan_date, linenumber mod 5
    * as premium_score, quantity/price as volume/OI, discount/tax gating
    * the nullable strike/expiration), target date = the max scan_date as
    * a 1-row broadcast scalar (no driver action, no global window), then
    * the production predicate filters and a returnflag census counts what
    * passed. All output columns integral, so the cross-engine hash has no
    * float surface. */
  def q274EligibilityCensus(spark: SparkSession, dir: String): DataFrame = {
    val enriched = Tables.lineitem(spark, dir).select(
      $"l_returnflag",
      // ship MONTH as the scan_date so the target-date equality gate
      // keeps a full month of rows (the raw max ship-date has ~30 rows
      // at sf0.01 — too thin to exercise the other gates)
      trunc($"l_shipdate".cast("date"), "month").as("scan_date"),
      ($"l_linenumber" % 5).cast("int").as("premium_score"),
      ($"l_quantity" * 100).cast("bigint").as("recommended_volume"),
      // floor before the cast: Spark's double->long cast truncates while
      // DuckDB's rounds — floor() is the arithmetic both agree on
      floor($"l_extendedprice" / 10).cast("bigint").as("recommended_oi"),
      when($"l_discount" >= 0.01, $"l_discount").as("recommended_strike"),
      when($"l_tax" <= 0.06, date_add($"l_shipdate".cast("date"), 30))
        .as("recommended_expiration"))
    val target = broadcast(enriched.agg(max($"scan_date").as("__target")))
    graft.pipelines.Execution.eligible(enriched.crossJoin(target), $"__target")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_eligible"),
        sum($"premium_score").cast("bigint").as("score_sum"),
        sum($"recommended_volume").as("volume_sum"))
  }

  /** q275 — seeded empirical-bootstrap Monte Carlo (X5,
    * [[graft.kernels.MonteCarlo.bootstrapClcg]],
    * monte_carlo_sniper.py:40-108): 10 000 paths, Poisson(6) trade
    * counts, returns resampled from a 32-slot pool derived from the
    * events table (smallest event_ids, clamped-and-centred values in
    * percent units), min(750, cap) sizing, trading stops at cap <= 0,
    * ruin = post-hoc cap <= 250 census. Summary drops the mean (a
    * 10k-double sum is summation-order dependent); ruin %, exact
    * median/P90 and max drawdown are order-free and hash bit-exact
    * against the recursive-CTE replay. */
  def q275Bootstrap(spark: SparkSession, dir: String): DataFrame = {
    val pool = Tables.events(spark, dir).select($"event_id", $"value")
      .orderBy($"event_id").limit(32).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      .map { case (_, v) => (math.min(100.0, v) - 50.0) / 5.0 }
    val paths = graft.kernels.MonteCarlo.bootstrapClcg(
      spark, nPaths = 10000, lambda = 6.0, returnsPool = pool)
    paths.agg(
      round(avg($"ruined".cast("double")) * 100, 2).as("ruin_pct"),
      round(expr("percentile(final_capital, 0.5)"), 2).as("median_capital"),
      round(expr("percentile(final_capital, 0.9)"), 2).as("p90_capital"),
      round(max($"max_drawdown") * 100, 2).as("worst_drawdown_pct"))
  }

  /** q390 — reference-lifecycle capstone: SURVEY §3.1 + §3.2 + §3.3 as
    * ONE composed plan — [[graft.pipelines.Scanner.run]] (movers filter,
    * universe semi-join, flow metrics, six-rung scoring ladder with the
    * divergence flip, cluster boost, best-contract argmax) feeding
    * [[graft.pipelines.Enrich.run]] (score≥6 gate, full technicals pass:
    * Wilder RSI/ATR, ewm MACD/EMA, Bollinger, OBV, support/resistance,
    * then the F19 risk ladder and F17 premium flags) feeding
    * [[graft.pipelines.Execution.run]] (P8 eligibility, dedup flag, OCC
    * key reconstruction, bracket scan over minute bars, VIX/SPY regime
    * as-of) — with the LEDGER oracle-checked value-for-value in DuckDB
    * (every stage's fold replayed: the q38/q39/q40/q41 technical-fold
    * shapes, the q48 risk CASE ladder, the q51 OCC concat, the q60
    * bracket walk, the q44 regime rule).
    *
    * Fixtures are deterministic arithmetic over the 25-row nation table
    * (ticker = n_name): pct = (key%7−3)·1.1 exercises the mover gate
    * (key%7=3 drops) and both directions; put flow is kept thin so
    * bullish keys score 6 (k%7∈{5,6}) while k%7=4 lands at 5 and is
    * rescued by the cluster boost (industry = key parity ⇒ the bullish
    * even-key cluster has 5 members ≥ ClusterMinSize); bearish keys
    * score ≤2 and are dropped by the enrichment gate. Minute bars give
    * each eligible contract a TARGET / STOP / exhausted-TIMEOUT path by
    * key%3. Composition — not data scale — is what this query checks;
    * every stage's scale shape is pinned by its piecewise query. */
  def q390LifecycleE2E(spark: SparkSession, dir: String): DataFrame = {
    val scanDate = lit("2026-03-18").cast("date")
    val t = Tables.nation(spark, dir).select(
      trim($"n_name").as("ticker"), $"n_nationkey".cast("long").as("key"))
    val snapshots = t.select($"ticker",
      (($"key" % 7 - 3).cast("double") * 1.1).as("todaysChangePerc"),
      struct(($"key".cast("double") + 100.0).as("c"),
        (($"key" + 1L) * 100000L).as("v")).as("day"),
      struct(lit(50.0).as("p")).as("lastTrade"),
      struct(lit(60.0).as("c")).as("prevDay"))
    val chain = t.select($"ticker", $"key",
        explode(sequence(lit(0), lit(3))).as("j"))
      .select(
        $"ticker".as("underlying"),
        concat($"ticker", lit("_"), $"j").as("contract_symbol"),
        when($"j" < 2, "call").otherwise("put").as("option_type"),
        lit("2026-04-17").cast("date").as("expiration_date"),
        ($"key".cast("double") + 100.0 +
          element_at(array(lit(0.0), lit(20.0), lit(-5.0), lit(10.0)),
            ($"j" + 1).cast("int"))).as("strike"),
        lit(null).cast("double").as("last_price"),
        element_at(array(lit(4.8), lit(2.4), lit(1.9), lit(0.9)),
          ($"j" + 1).cast("int")).as("bid"),
        element_at(array(lit(5.2), lit(2.6), lit(2.1), lit(1.1)),
          ($"j" + 1).cast("int")).as("ask"),
        when($"j" < 2, ($"key" % 7) * 400L + 200L)
          .otherwise(lit(40L) + $"j" * 10L).as("volume"),
        (lit(100L) + $"j" * 50L).as("open_interest"),
        (lit(0.3) + $"j".cast("double") * 0.05).as("implied_volatility"),
        element_at(array(lit(0.4), lit(0.3), lit(-0.35), lit(-0.3)),
          ($"j" + 1).cast("int")).as("delta"),
        when($"j" < 2, 0.05).otherwise(0.04).as("gamma"),
        lit(-0.05).as("theta"), lit(0.1).as("vega"))
    val universe = t.where($"key" =!= 24L).select($"ticker".as("value"))
    val metadata = t.select($"ticker",
      concat(lit("SEC"), ($"key" % 3).cast("string")).as("sector"),
      concat(lit("IND"), ($"key" % 2).cast("string")).as("industry"))
    // r14: the three pipeline stages compose into one ~2200-line plan
    // (118 Exchanges, the 25-row nation scan repeated 74x) because every
    // cross-stage reference re-expands the upstream subtree — guide
    // §3.3's "very wide plans: planning time itself becomes the
    // bottleneck". Eager localCheckpoints at the STAGE SEAMS (the same
    // boundaries the reference crosses via BigQuery tables) truncate
    // the lineage: each stage plans and runs once over ~25-row frames.
    // Physical-only change — the ledger values are oracle-pinned.
    val signals = graft.pipelines.Scanner.run(
      snapshots, chain, universe, metadata,
      asOf = scanDate, scanDate = scanDate)
      .localCheckpoint(true)
    val dailyBars = t.select($"ticker", $"key",
        explode(sequence(lit(1), lit(30))).as("i"))
      .select($"ticker",
        date_add(lit("2026-01-01").cast("date"), $"i").as("date"),
        ($"key".cast("double") + 100.0 + $"i" * 0.5 - ($"i" % 4) * 0.6)
          .as("close"))
      .select($"ticker", $"date", $"close".as("open"),
        ($"close" + 1.0).as("high"), ($"close" - 1.0).as("low"),
        $"close", lit(1000.0).as("volume"))
    val news = t.select($"ticker", scanDate.as("scan_date"),
      (lit(0.5) + ($"key" % 5).cast("double") * 0.1).as("catalyst_score"),
      lit("Catalyst").as("catalyst_type"), lit(true).as("news_found"),
      ($"key" % 4).as("sources_count"),
      when($"key" % 2 === 0, "HEDGING").otherwise("DIRECTIONAL")
        .as("flow_intent"),
      lit("reasoning").as("flow_intent_reasoning"),
      lit(false).as("move_overdone"),
      (lit(0.2) + ($"key" % 3).cast("double") * 0.1)
        .as("reversal_probability"),
      lit("thesis").as("thesis"), lit("summary").as("summary"))
    val enriched = graft.pipelines.Enrich.run(signals, dailyBars, news)
      .localCheckpoint(true)
    val entryTs = 1000000000L
    val minuteBars = t.select($"ticker", $"key",
        explode(sequence(lit(0), lit(39))).as("m"))
      .select(
        graft.functions.GraftFunctions.occTicker($"ticker",
          lit("2026-04-17").cast("date"), lit(true),
          $"key".cast("double") + 100.0).as("opt_ticker"),
        (lit(entryTs) + $"m" * 60000L).as("t"),
        (lit(5.0) + $"m" * 0.01).as("c"), $"key", $"m")
      .select($"opt_ticker", $"t", $"c".as("o"),
        ($"c" + when($"key" % 3 === 0 && $"m" === 10, 3.0).otherwise(0.2))
          .as("h"),
        ($"c" - when($"key" % 3 === 1 && $"m" === 12, 2.5).otherwise(0.2))
          .as("l"),
        $"c", lit(10L).as("v"))
    val macroSeries = t.where($"key" < 12).select(
        lit("SPY").as("symbol"),
        date_add(lit("2026-03-01").cast("date"), $"key".cast("int") + 1)
          .as("date"),
        (lit(500.0) + $"key".cast("double") + 1.0).as("close"))
      .unionByName(t.where($"key" === 0).select(lit("^VIX").as("symbol"),
        lit("2026-03-17").cast("date").as("date"), lit(18.5).as("close")))
    val ledger = graft.pipelines.Execution.run(spark, enriched, minuteBars,
      macroSeries, targetDate = scanDate,
      entryDay = lit("2026-03-19").cast("date"),
      entryTs = entryTs, timeoutTs = entryTs + 7200000L,
      entryDayEnd = entryTs + 21600000L)
    ledger.select($"ticker", $"direction",
      $"premium_score", $"is_skipped", $"skip_reason",
      $"recommended_contract", $"exit_reason",
      round($"entry_price", 6).as("entry_price"),
      round($"realized_return_pct", 6).as("realized_return_pct"),
      $"VIX_at_entry", $"SPY_trend_state")
  }
}
