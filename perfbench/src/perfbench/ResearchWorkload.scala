package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writers
import graft.kernels.MonteCarlo
import graft.research.Research

/** A backtest: the 12-config x 3-scenario sweep over seeded minute bars of
  * historical trades, the fills written out, then cohort statistics, the
  * chronological holdout and a Monte Carlo bootstrap of the base cell. */
final class ResearchWorkload(data: String, out: String) extends Workload {
  private var trades, bars, configs: DataFrame = _
  private var stats: Array[Row] = Array.empty
  private var holdout: Array[Row] = Array.empty
  private var summary: Array[Row] = Array.empty

  def open(spark: SparkSession): Unit = {
    trades = spark.read.parquet(s"$data/trades")
    bars = spark.read.parquet(s"$data/bars")
    configs = spark.read.parquet(s"$data/configs")
    ResearchWorkload.cellBars = Inputs.meta(data)("n_bars").toLong * ResearchWorkload.Cells
  }

  private def baseCell(fills: DataFrame): DataFrame =
    fills.where(col("scenario") === "Base" && col("cfg") === ResearchWorkload.BaseCfg)

  def pass(r: Runner, i: Int): Unit = {
    val spark = r.spark
    r.op("sweep") {
      Writers.partitionedOverwrite(Research.sweep(spark, trades, bars, configs),
        s"$out/fills", "scenario")
    }
    r.op("stats") {
      val fills = spark.read.parquet(s"$out/fills")
        .join(trades.select("trade_id", "entry_date", "direction", "tier"), "trade_id")
      stats = Research.cohortStats(fills, Seq("scenario", "cfg", "direction"), col("entry_ts")).collect()
      holdout = Research.chronoHoldout(baseCell(fills), "entry_date").collect()
    }
    r.op("montecarlo") {
      val pool = baseCell(spark.read.parquet(s"$out/fills")).select("return_pct")
        .collect().map(_.getDouble(0))
      summary = MonteCarlo.summarize(MonteCarlo.bootstrap(spark, ResearchWorkload.Paths.toInt,
        lambda = 20.0, returnsPool = pool, seed = 42L)).collect()
    }
  }

  def check(spark: SparkSession): Seq[String] =
    checkAll(spark.read.parquet(s"$out/fills").collect(), stats, holdout, summary,
      spark.read.parquet(s"$data/trades").collect(), spark)

  def selfTest(spark: SparkSession): Seq[String] = {
    val fills = spark.read.parquet(s"$out/fills").collect()
    val tr = spark.read.parquet(s"$data/trades").collect()
    val sample = ResearchWorkload.sampleIds(tr.map(_.getAs[Long]("trade_id")))
    val fi = fills.indexWhere(f => sample(f.getAs[Long]("trade_id")))
    def set(rows: Array[Row], i: Int, field: String, v: Any) = {
      val vals = rows(i).toSeq.toArray
      vals(rows(i).fieldIndex(field)) = v
      rows.updated(i, new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, rows(i).schema))
    }
    val cases = Seq(
      "fill dropped" -> (() => checkAll(fills.drop(1), stats, holdout, summary, tr, spark)),
      "return changed" -> (() => checkAll(set(fills, fi, "return_pct", 123.0), stats, holdout, summary, tr, spark)),
      "cohort count changed" -> (() => checkAll(fills, set(stats, 0, "n_trades", 1L), holdout, summary, tr, spark)),
      "holdout count changed" -> (() => checkAll(fills, stats, set(holdout, 0, "n", 0L), summary, tr, spark)),
      "ruin out of range" -> (() => checkAll(fills, stats, holdout, set(summary, 0, "ruin_pct", 120.0), tr, spark)))
    cases.collect { case (name, run) if run().isEmpty => s"research: $name not rejected" }
  }

  private def checkAll(fills: Array[Row], stats: Array[Row], holdout: Array[Row],
      summary: Array[Row], trades: Array[Row], spark: SparkSession): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    def err(s: String): Unit = if (errs.size < 20) errs += s
    val cells = ResearchWorkload.Cells
    // entered = at least one bar at or after entry
    val lastBar = bars.groupBy("trade_id").agg(max("t").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val entered = trades.count(t => lastBar.get(t.getAs[Long]("trade_id")).exists(_ >= t.getAs[Long]("entry_ts")))
    if (entered == trades.length) err("inputs: every trade entered")
    if (fills.length != entered * cells) err(s"fills: ${fills.length}, expected $entered x $cells")
    // replay a seeded sample of trades through every cell in plain Scala
    val sample = ResearchWorkload.sampleIds(trades.map(_.getAs[Long]("trade_id")))
    val tradeById = trades.map(t => t.getAs[Long]("trade_id") -> t).toMap
    val sampleBars = bars.where(col("trade_id").isin(sample.toSeq: _*)).collect()
      .groupBy(_.getAs[Long]("trade_id")).map { case (k, v) => k -> v.sortBy(_.getAs[Long]("t")) }
    val grid = configs.collect().flatMap { c =>
      Seq(("Optimistic", 1.00, false, 1.00), ("Base", 1.02, false, 1.00), ("Stress", 1.05, true, 0.95))
        .map { case (s, slip, adv, tm) =>
          (c.getAs[Int]("cfg"), s, slip, c.getAs[Double]("target_mult"), c.getAs[Double]("stop_mult"), adv, tm)
        }
    }
    val fillByKey = fills.map(f => (f.getAs[Long]("trade_id"), f.getAs[Int]("cfg"), f.getAs[String]("scenario")) -> f).toMap
    val reasons = mutable.Set[String]()
    for (id <- sample; (cfg, scen, slip, tgt, stp, adv, tm) <- grid) {
      val t = tradeById(id)
      val exp = ResearchWorkload.replay(sampleBars.getOrElse(id, Array.empty),
        t.getAs[Long]("entry_ts"), t.getAs[Long]("timeout_ts"), slip, tgt, stp, adv, tm)
      (exp, fillByKey.get((id, cfg, scen))) match {
        case (None, None) =>
        case (Some((reason, ret)), Some(f)) =>
          reasons += reason
          if (f.getAs[String]("exit_reason") != reason || math.abs(f.getAs[Double]("return_pct") - ret) > 1e-9 * math.max(1, math.abs(ret)))
            err(s"fill ($id, $cfg, $scen): ${f.getAs[String]("exit_reason")} ${f.getAs[Double]("return_pct")} != $reason $ret")
        case (e, f) => err(s"fill ($id, $cfg, $scen): expected $e, found ${f.isDefined}")
      }
    }
    Seq("target", "stop", "timeout", "timeout_eod").filterNot(reasons).foreach(x => err(s"sample: no $x exit"))
    val nCohort = stats.map(_.getAs[Long]("n_trades")).sum
    if (nCohort != fills.length) err(s"cohorts: sum n_trades $nCohort != ${fills.length} fills")
    val base = fills.count(f => f.getAs[String]("scenario") == "Base" && f.getAs[Int]("cfg") == ResearchWorkload.BaseCfg)
    val nHold = holdout.map(_.getAs[Long]("n")).sum
    if (nHold != base) err(s"holdout: IN + OUT = $nHold != $base base-cell fills")
    summary.headOption match {
      case None => err("montecarlo: no summary")
      case Some(s) =>
        val ruin = s.getAs[Double]("ruin_pct")
        if (!(ruin >= 0 && ruin <= 100)) err(s"montecarlo: ruin_pct $ruin outside [0, 100]")
        if (!(s.getAs[Double]("median_capital") <= s.getAs[Double]("p90_capital")))
          err("montecarlo: median_capital > p90_capital")
    }
    errs.toSeq
  }
}

object ResearchWorkload {
  val Cells = 36
  val BaseCfg = 6 // target 1.4, stop 0.8
  val Paths = 100000.0
  /** Minute bars times grid cells the sweep scans, set by the generator. */
  @volatile var cellBars = 0L

  def sampleIds(ids: Array[Long]): Set[Long] = {
    val rnd = new scala.util.Random(7L)
    rnd.shuffle(ids.toSeq.sorted).take(40).toSet
  }

  /** The bracket kernel's rules, one cell at a time. */
  def replay(bars: Array[Row], entryTs: Long, timeoutTs: Long, slip: Double, tgt: Double,
      stp: Double, adverse: Boolean, tm: Double): Option[(String, Double)] = {
    val ei = bars.indexWhere(_.getAs[Long]("t") >= entryTs)
    if (ei < 0) return None
    val entry = bars(ei).getAs[Double]("c") * slip
    val stop = entry * stp
    val target = entry * tgt
    def ret(px: Double) = (px - entry) / entry * 100.0
    var i = ei + 1
    while (i < bars.length) {
      val b = bars(i)
      val (t, h, l, c) = (b.getAs[Long]("t"), b.getAs[Double]("h"), b.getAs[Double]("l"), b.getAs[Double]("c"))
      if (t >= timeoutTs) return Some(("timeout", ret(c * tm)))
      if (l <= stop) return Some(("stop", ret(if (adverse) math.min(stop, c) else stop)))
      if (h >= target) return Some(("target", ret(target)))
      i += 1
    }
    Some(("timeout_eod", ret(bars.last.getAs[Double]("c") * tm)))
  }
}
