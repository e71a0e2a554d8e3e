package graft

import java.nio.file.Files
import java.sql.Date

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Writers
import graft.pipelines.{Arena, Enrich, Execution, Scanner, Tracking}

/** Read budgets of the overnight stages: each stage's physical plans scan
  * each parquet input once, summed over every query the stage runs (a
  * checkpoint's included). A sub-plan referenced twice (a self-join, a
  * semi-join feeding a later join, one frame feeding two aggregates) shows
  * up here as a second scan leaf, before any exchange reuse hides it. */
class PlanBudgetSpec extends AnyFunSuite with SparkFixture {

  private def d(s: String) = Date.valueOf(s)
  private lazy val dir = Files.createTempDirectory("graft-budget").toFile.getAbsolutePath

  private def put(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  /** Nodes of a physical plan, taking an adaptive plan as first planned
    * (before stage reuse) and descending into subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  /** Parquet scan leaves per input directory name. */
  private def scans(plans: SparkPlan*): Map[String, Int] =
    plans.flatMap(nodes).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName)
    }.flatten.groupBy(identity).map { case (k, v) => k -> v.size }

  private def scans(df: DataFrame): Map[String, Int] = scans(df.queryExecution.executedPlan)

  private def readsDir(p: SparkPlan): Boolean = nodes(p).exists {
    case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(dir))
    case _ => false
  }

  /** Parquet scan leaves per input over every query `body` runs on this
    * spec's files; `body`'s last query is named `last`. */
  private def readsDuring[T](last: String)(body: => T): (T, Map[String, Int]) = {
    val seen = mutable.ArrayBuffer[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += f -> qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      // events arrive in order, the last query's last
      def done = seen.synchronized(seen.exists { case (f, p) => f == last && readsDir(p) })
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, s"no '$last' query seen")
      r
    } finally spark.listenerManager.unregister(listener)
    (out, scans(seen.synchronized(seen.toList).map(_._2).filter(readsDir): _*))
  }

  /** Runs `df` to the noop sink (a query named "overwrite"). */
  private def noop(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  private val scanDate = lit("2026-03-18").cast("date")

  test("Scanner.run reads snapshots, chain, universe and metadata once each") {
    import spark.implicits._
    val snapshots = put("snapshots", Seq(("AAA", 3.0, 100.0), ("BBB", -2.0, 50.0))
      .toDF("ticker", "todaysChangePerc", "c")
      .select(col("ticker"), col("todaysChangePerc"),
        struct(col("c").as("c"), lit(1000L).as("v")).as("day"),
        struct(col("c").as("p")).as("lastTrade"), struct(col("c").as("c")).as("prevDay")))
    val chain = put("chain", Seq(
        ("AAA", "AAA_C", "call", 101.0, 4.9, 5.1, 2000L, 100L),
        ("BBB", "BBB_P", "put", 49.0, 1.9, 2.1, 300L, 100L))
      .toDF("underlying", "contract_symbol", "option_type", "strike", "bid", "ask",
        "volume", "open_interest")
      .withColumn("expiration_date", lit("2026-04-17").cast("date"))
      .withColumn("last_price", lit(null).cast("double"))
      .withColumn("implied_volatility", lit(0.4))
      .withColumn("delta", lit(0.35)).withColumn("gamma", lit(0.05))
      .withColumn("theta", lit(-0.05)).withColumn("vega", lit(0.1)))
    val universe = put("universe", Seq("AAA", "BBB").toDF("value"))
    val metadata = put("metadata", Seq(("AAA", "T", "Chips"), ("BBB", "T", "Chips"))
      .toDF("ticker", "sector", "industry"))
    val (signals, reads) = readsDuring("overwrite") {
      noop(Scanner.run(snapshots, chain, universe, metadata, scanDate, scanDate))
    }
    assert(reads == Map("snapshots" -> 1, "chain" -> 1, "universe" -> 1, "metadata" -> 1))
    assert(signals.count() == 2)
  }

  test("Enrich.run and Arena.consensus read each input once") {
    import spark.implicits._
    val bars = put("daily_bars", (1 to 25).map(i =>
        ("AAA", d(f"2026-01-$i%02d"), 10.0 + i, 11.0 + i, 9.0 + i, 10.0 + i, 1000.0))
      .toDF("ticker", "date", "open", "high", "low", "close", "volume"))
    val signals = put("signals", Seq(("AAA", 7, "BULLISH", 3.0, 35.0, 2.0, 0.5)).toDF(
        "ticker", "overnight_score", "direction", "price_change_pct", "underlying_price",
        "call_vol_oi_ratio", "put_vol_oi_ratio")
      .withColumn("scan_date", scanDate))
    val news = put("news", Seq(("AAA", "HEDGING", 0.9, 0.2, false, "x")).toDF("ticker",
        "flow_intent", "catalyst_score", "reversal_probability", "move_overdone", "summary")
      .withColumn("scan_date", scanDate))
    assert(scans(Enrich.run(signals, bars, news)) ==
      Map("daily_bars" -> 1, "signals" -> 1, "news" -> 1))
    val picks = put("picks", Seq(("a1", "AAA", "BULLISH", 8.0), ("a2", "AAA", "BULLISH", 6.0),
        ("a3", "BBB", "BEARISH", 5.0))
      .toDF("agent", "ticker", "direction", "conviction").withColumn("scan_date", scanDate))
    assert(scans(Arena.consensus(picks)) == Map("picks" -> 1))
  }

  test("Execution.run reads enriched, minute_bars and macro once each, live bars only") {
    import spark.implicits._
    val enriched = put("enriched", Seq(
        ("AAA", "BULLISH", 3, 500L, 100L, 101.0, "AAA_C"),
        ("AAA", "BULLISH", 2, 400L, 100L, 102.0, "AAA_C2"))
      .toDF("ticker", "direction", "premium_score", "recommended_volume", "recommended_oi",
        "recommended_strike", "recommended_contract")
      .withColumn("scan_date", scanDate)
      .withColumn("recommended_expiration", lit("2026-04-17").cast("date"))
      .withColumn("is_premium_signal", lit(true))
      .withColumn("recommended_dte", lit(30))
      .withColumn("recommended_spread_pct", lit(0.04)))
    val minute = put("minute_bars", Seq(("O:AAA260417C00101000", 1000L, 5.0, 5.1, 4.9, 5.0, 10L))
      .toDF("opt_ticker", "t", "o", "h", "l", "c", "v"))
    val macroSeries = put("macro", (1 to 12).map(i => ("SPY", d(f"2026-03-$i%02d"), 500.0 + i))
      .toDF("symbol", "date", "close"))
    val (ledger, reads) = readsDuring("overwrite") {
      noop(Execution.run(spark, enriched, minute, macroSeries, scanDate,
        lit("2026-03-19").cast("date"), 1000L, 5000L, 3000L))
    }
    assert(reads == Map("enriched" -> 1, "minute_bars" -> 1, "macro" -> 1))
    // the bracket scan sees only the live trades' bars: a broadcast
    // semi-join filters minute_bars before they shuffle
    assert(nodes(ledger.queryExecution.executedPlan).exists {
      case j: BroadcastHashJoinExec =>
        j.joinType == LeftSemi && scans(j.left).contains("minute_bars")
      case _ => false
    })
    assert(ledger.count() == 2)
  }

  test("the tracking merge evaluates the backfill, and so reads daily_bars, once") {
    import spark.implicits._
    val cols = Seq("next_day_close", "peak_return_3d", "outcome_tier", "is_win")
    val tracking = s"$dir/tracking"
    Seq(("AAA", "2026-03-02", "BULLISH", 10.0), ("BBB", "2026-03-02", "BEARISH", 20.0),
        ("AAA", "2026-03-03", "BULLISH", 11.0))
      .toDF("ticker", "scan_date", "direction", "signal_price")
      .withColumn("scan_date", col("scan_date").cast("date"))
      .withColumn("next_day_close", lit(null).cast("double"))
      .withColumn("peak_return_3d", lit(null).cast("double"))
      .withColumn("outcome_tier", lit(null).cast("string"))
      .withColumn("is_win", lit(null).cast("boolean"))
      .write.partitionBy("scan_date").parquet(tracking)
    val bars = put("daily_bars", (3 to 9).flatMap(i => Seq("AAA", "BBB").map(t =>
        (t, d(f"2026-03-$i%02d"), 10.0 + i, 11.0 + i, 9.0 + i, 10.0 + i, 1000.0)))
      .toDF("ticker", "date", "open", "high", "low", "close", "volume"))
    val signals = spark.read.parquet(tracking).where(col("scan_date") === lit("2026-03-02").cast("date"))
      .select("ticker", "scan_date", "direction", "signal_price")
    val updates = Tracking.backfill(signals, bars)
      .select((Seq("ticker", "scan_date") ++ cols).map(col): _*)
    val (_, reads) = readsDuring("command") {
      Writers.mergeUpsert(spark, tracking, updates, Seq("ticker", "scan_date"), cols,
        partitionCol = Some("scan_date"))
    }
    assert(reads.get("daily_bars").contains(1), reads)
    val after = spark.read.parquet(tracking).collect()
    assert(after.length == 3)
    assert(after.count(r => !r.isNullAt(r.fieldIndex("peak_return_3d"))) == 2)
  }
}
