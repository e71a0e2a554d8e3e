package perfbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writers
import graft.pipelines.{Arena, Enrich, Execution, Scanner, Tracking}

/** One night of the overnight pipeline: Scanner -> partitioned overwrite,
  * Enrich -> overwrite, Arena consensus, Execution -> ledger append, then
  * the 3-session backfill MERGEd into the tracking table. Each stage reads
  * the previous stage's sink, as the nightly jobs do. */
final class Overnight(data: String, out: String) extends Workload {
  private val meta = Inputs.meta(data)
  private val scanDate = meta("scan_date")
  private val histDate = meta("hist_date")
  private var in: Map[String, DataFrame] = Map.empty
  private var lastPass = 0

  val updateCols = Seq("next_day_close", "next_day_pct", "day2_close", "day2_pct",
    "day3_close", "day3_pct", "peak_return_3d", "outcome_tier", "is_win")

  def open(spark: SparkSession): Unit =
    in = Seq("snapshots", "chain", "universe", "metadata", "daily_bars", "news",
      "picks", "macro", "minute_bars")
      .map(n => n -> spark.read.parquet(s"$data/$n")).toMap

  def pass(r: Runner, i: Int): Unit = {
    val spark = r.spark
    val d = lit(scanDate).cast("date")
    r.op("scanner") {
      val signals = Scanner.run(in("snapshots"), in("chain"), in("universe"),
        in("metadata"), asOf = d, scanDate = d)
      Writers.partitionedOverwrite(signals, s"$out/signals", "scan_date", Seq("ticker"))
    }
    r.op("enrich") {
      val signals = spark.read.parquet(s"$out/signals").where(col("scan_date") === d)
      Writers.partitionedOverwrite(Enrich.run(signals, in("daily_bars"), in("news")),
        s"$out/enriched", "scan_date")
    }
    r.op("arena") {
      Writers.partitionedOverwrite(Arena.consensus(in("picks")), s"$out/arena", "scan_date")
    }
    r.op("execution") {
      val enriched = spark.read.parquet(s"$out/enriched")
      val ledger = Execution.run(spark, enriched, in("minute_bars"), in("macro"),
        targetDate = d, entryDay = lit(meta("entry_day")).cast("date"),
        entryTs = meta("entry_ts").toLong, timeoutTs = meta("timeout_ts").toLong,
        entryDayEnd = meta("entry_day_end").toLong)
      Writers.append(ledger, s"$out/ledger/pass=$i") // a location of its own per pass
    }
    r.op("tracking") {
      val signals = spark.read.parquet(s"$out/tracking")
        .where(col("scan_date") === lit(histDate).cast("date"))
        .select("ticker", "scan_date", "direction", "signal_price")
      val backfill = Tracking.backfill(signals, in("daily_bars"))
        .select((Seq("ticker", "scan_date") ++ updateCols).map(col): _*)
      val updates = if (r.pass.traced)
        backfill.observe("tracking_updates", count(lit(1))) else backfill
      Writers.mergeUpsert(spark, s"$out/tracking", updates, Seq("ticker", "scan_date"),
        updateCols, partitionCol = Some("scan_date"))
    }
    lastPass = i
  }

  // ------------------------------------------------------------- checks --

  private def collect(spark: SparkSession, path: String): Array[Row] =
    spark.read.parquet(path).collect()

  def check(spark: SparkSession): Seq[String] =
    checkAll(Plain.load(spark, data, scanDate),
      collect(spark, s"$out/signals").filter(r => str(r, "scan_date") == scanDate),
      collect(spark, s"$out/enriched"),
      collect(spark, s"$out/ledger/pass=$lastPass"),
      collect(spark, s"$data/tracking"), collect(spark, s"$out/tracking"))

  def selfTest(spark: SparkSession): Seq[String] = {
    val p = Plain.load(spark, data, scanDate)
    val sig = collect(spark, s"$out/signals").filter(r => str(r, "scan_date") == scanDate)
    val enr = collect(spark, s"$out/enriched")
    val led = collect(spark, s"$out/ledger/pass=$lastPass")
    val before = collect(spark, s"$data/tracking")
    val after = collect(spark, s"$out/tracking")
    val boosted = sig.indexWhere(r => int(r, "cluster_boost") > 0)
    val exited = led.indexWhere(r => str(r, "exit_reason") == "TARGET")
    val matched = after.indexWhere(r => !r.isNullAt(r.fieldIndex("peak_return_3d")))
    val cases = Seq(
      "score changed" -> (() => checkAll(p, set(sig, boosted, "overnight_score", int(sig(boosted), "overnight_score") + 1), enr, led, before, after)),
      "contract changed" -> (() => checkAll(p, set(sig, boosted, "recommended_contract", "O:X"), enr, led, before, after)),
      "exit changed" -> (() => checkAll(p, sig, enr, set(led, exited, "exit_reason", "STOP"), before, after)),
      "return changed" -> (() => checkAll(p, sig, enr, set(led, exited, "realized_return_pct", 0.01), before, after)),
      "ledger row dropped" -> (() => checkAll(p, sig, enr, led.drop(1), before, after)),
      "peak changed" -> (() => checkAll(p, sig, enr, led, before, set(after, matched, "peak_return_3d", 99.0))),
      "merge changed a key column" -> (() => checkAll(p, sig, enr, led, before, set(after, matched, "signal_price", 1.0))),
      "merge dropped a row" -> (() => checkAll(p, sig, enr, led, before, after.drop(1))))
    cases.collect { case (name, run) if run().isEmpty => s"overnight: $name not rejected" }
  }

  private def set(rows: Array[Row], i: Int, field: String, v: Any): Array[Row] = {
    val r = rows(i)
    val vals = r.toSeq.toArray
    vals(r.fieldIndex(field)) = v
    rows.updated(i, new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, r.schema))
  }

  private def checkAll(p: Plain, signals: Array[Row], enriched: Array[Row], ledger: Array[Row],
      trackBefore: Array[Row], trackAfter: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    def err(s: String): Unit = if (errs.size < 20) errs += s

    // scanner: flow metrics, score before and after the boost, contract
    val exp = p.expected
    if (signals.length != exp.size) err(s"signals: ${signals.length} rows, expected ${exp.size}")
    signals.foreach { r =>
      val t = str(r, "ticker")
      exp.get(t) match {
        case None => err(s"signals: unexpected ticker $t")
        case Some(e) =>
          if (str(r, "direction") != e.direction) err(s"$t direction ${str(r, "direction")} != ${e.direction}")
          if (int(r, "original_score") != e.score) err(s"$t original_score ${int(r, "original_score")} != ${e.score}")
          if (int(r, "overnight_score") != e.boosted) err(s"$t overnight_score ${int(r, "overnight_score")} != ${e.boosted}")
          if (str(r, "recommended_contract") != e.contract) err(s"$t contract ${str(r, "recommended_contract")} != ${e.contract}")
          Seq("call_dollar_volume" -> e.callDv, "put_dollar_volume" -> e.putDv,
            "call_vol_oi_ratio" -> e.callVolOi, "put_vol_oi_ratio" -> e.putVolOi,
            "call_uoa_depth" -> e.callUoa, "put_uoa_depth" -> e.putUoa).foreach { case (c, v) =>
            if (!close(dbl(r, c), v)) err(s"$t $c ${dbl(r, c)} != $v")
          }
          if (int(r, "call_active_strikes") != e.callActive) err(s"$t call_active_strikes")
      }
    }
    if (!exp.values.exists(e => e.score < Scanner.MinScore && e.boosted >= Scanner.MinScore))
      err("inputs: no cluster-boost rescue")

    // execution: ledger rows = eligible signals, duplicates flagged
    val eligible = enriched.filter { r =>
      str(r, "scan_date") == scanDate && int(r, "premium_score") >= Execution.MinPremiumScore &&
        (lng(r, "recommended_volume") > 250 || lng(r, "recommended_oi") > 500) &&
        !r.isNullAt(r.fieldIndex("recommended_strike")) &&
        !r.isNullAt(r.fieldIndex("recommended_expiration"))
    }
    if (ledger.length != eligible.length)
      err(s"ledger: ${ledger.length} rows, expected ${eligible.length} eligible signals")
    val dupes = eligible.length - eligible.map(r => str(r, "ticker")).distinct.length
    val skipped = ledger.count(r => bool(r, "is_skipped"))
    if (skipped != dupes) err(s"ledger: $skipped skipped rows, expected $dupes duplicates")
    val reasons = mutable.Set[String]()
    ledger.foreach { r =>
      val t = str(r, "ticker")
      val expReason =
        if (bool(r, "is_skipped")) { reasons += "SKIPPED"; ("SKIPPED", Double.NaN) }
        else p.ledgerExit(exp.get(t).map(_.contract).getOrElse(""))
      reasons += expReason._1
      if (str(r, "exit_reason") != expReason._1)
        err(s"ledger $t exit ${str(r, "exit_reason")} != ${expReason._1}")
      else if (!expReason._2.isNaN && !close(dbl(r, "realized_return_pct"), expReason._2))
        err(s"ledger $t return ${dbl(r, "realized_return_pct")} != ${expReason._2}")
    }
    Seq("TARGET", "STOP", "TIMEOUT", "INVALID_LIQUIDITY", "SKIPPED").filterNot(reasons).foreach { x =>
      err(s"ledger: no $x exit in the inputs")
    }

    // tracking: MERGE keeps rows and keys, changes only update columns
    if (trackAfter.length != trackBefore.length)
      err(s"tracking: ${trackAfter.length} rows after MERGE, ${trackBefore.length} before")
    val key = (r: Row) => (str(r, "ticker"), str(r, "scan_date"))
    val beforeByKey = trackBefore.map(r => key(r) -> r).toMap
    val fixed = trackBefore.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      .filterNot(updateCols.contains)
    var matched = 0
    trackAfter.foreach { a =>
      beforeByKey.get(key(a)) match {
        case None => err(s"tracking: unexpected key ${key(a)}")
        case Some(b) =>
          fixed.filter(c => str(a, c) != str(b, c)).foreach(c => err(s"tracking ${key(a)}: $c changed"))
          if (str(a, "scan_date") == histDate) {
            matched += 1
            val (peak, day1) = p.backfill(str(a, "ticker"), str(a, "direction"), dbl(b, "signal_price"), histDate)
            if (!close(dbl(a, "peak_return_3d"), peak)) err(s"tracking ${key(a)}: peak_return_3d ${dbl(a, "peak_return_3d")} != $peak")
            if (!close(dbl(a, "next_day_close"), day1)) err(s"tracking ${key(a)}: next_day_close")
          } else updateCols.filterNot(c => a.isNullAt(a.fieldIndex(c))).foreach { c =>
            err(s"tracking ${key(a)}: $c set outside the merged partition")
          }
      }
    }
    if (matched == 0) err("tracking: no rows in the merged partition")
    errs.toSeq
  }

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def str(r: Row, c: String): String = { val v = r.get(r.fieldIndex(c)); if (v == null) null else v.toString }
  private def int(r: Row, c: String): Int = { val v = r.get(r.fieldIndex(c)); if (v == null) Int.MinValue else v.asInstanceOf[Number].intValue }
  private def lng(r: Row, c: String): Long = { val v = r.get(r.fieldIndex(c)); if (v == null) Long.MinValue else v.asInstanceOf[Number].longValue }
  private def dbl(r: Row, c: String): Double = { val v = r.get(r.fieldIndex(c)); if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue }
  private def bool(r: Row, c: String): Boolean = { val v = r.get(r.fieldIndex(c)); v != null && v.asInstanceOf[Boolean] }
}

/** Expected scanner outcome for one ticker. */
final case class ExpSignal(direction: String, score: Int, boosted: Int, contract: String,
    callDv: Double, putDv: Double, callVolOi: Double, putVolOi: Double,
    callUoa: Double, putUoa: Double, callActive: Int)

/** The overnight inputs as plain Scala values, and the pipeline's rules
  * re-derived over them without Spark. */
final class Plain(snap: Array[Row], universe: Set[String], meta: Map[String, (String, String)],
    chain: Array[Row], daily: Map[String, Array[(String, Double, Double, Double)]],
    minuteFor: Set[String] => Map[String, Array[(Long, Double, Double, Double, Long)]],
    scanDate: String, m: Map[String, String]) {

  /** The scanner outcome re-derived once per check. */
  lazy val expected: Map[String, ExpSignal] = scanner()
  /** Minute bars of the contracts the scanner should recommend. */
  private lazy val minute = minuteFor(expected.values.map(_.contract).filter(_ != null).toSet)

  private def d(r: Row, c: String): Option[Double] =
    Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[Number].doubleValue)

  def scanner(): Map[String, ExpSignal] = {
    val movers = snap.flatMap { r =>
      val t = r.getAs[String]("ticker")
      val day = Option(r.getAs[Row]("day"))
      val eff = day.flatMap(x => Option(x.get(x.fieldIndex("c")))).map(_.asInstanceOf[Double])
        .orElse(Option(r.getAs[Row]("lastTrade")).flatMap(x => Option(x.get(0))).map(_.asInstanceOf[Double]))
        .orElse(Option(r.getAs[Row]("prevDay")).flatMap(x => Option(x.get(0))).map(_.asInstanceOf[Double]))
      val pct = d(r, "todaysChangePerc")
      if (pct.exists(p => math.abs(p) >= Scanner.MinPriceChangePct) && eff.isDefined && universe(t))
        Some((t, pct.get, eff.get)) else None
    }
    val byUnderlying = chain.groupBy(_.getAs[String]("underlying"))
    val asOf = LocalDate.parse(scanDate)
    val scored = movers.map { case (t, pct, upx) =>
      val rows = byUnderlying.getOrElse(t, Array.empty[Row])
      var callDv, putDv, callVol, putVol, callOi, putOi, callUoa, putUoa = 0.0
      var callActive, putActive = 0
      val best = mutable.Map[String, (Double, String)]()
      rows.foreach { r =>
        val isCall = r.getAs[String]("option_type") == "call"
        val vol = Option(r.get(r.fieldIndex("volume"))).map(_.asInstanceOf[Long]).getOrElse(0L)
        val oi = Option(r.get(r.fieldIndex("open_interest"))).map(_.asInstanceOf[Long]).getOrElse(0L)
        val bid = d(r, "bid"); val ask = d(r, "ask"); val last = d(r, "last_price")
        val mid0 =
          if (bid.isDefined && ask.isDefined && bid.get > 0 && ask.get > 0) Some((bid.get + ask.get) / 2)
          else last.filter(_ != 0)
        val dv = mid0.map(x => vol * x * 100).getOrElse(0.0)
        val active = vol > math.max(oi * 0.5, 100.0)
        val uoa = if (vol > oi && mid0.isDefined) (vol - oi) * mid0.get * 100 else 0.0
        if (isCall) { callDv += dv; callVol += vol; callOi += oi; callUoa += uoa; if (active) callActive += 1 }
        else { putDv += dv; putVol += vol; putOi += oi; putUoa += uoa; if (active) putActive += 1 }
        // contract eligibility and score (bestContracts)
        val exp = Option(r.get(r.fieldIndex("expiration_date"))).map(_.asInstanceOf[java.sql.Date].toLocalDate)
        if (exp.isDefined && bid.isDefined && ask.isDefined) {
          val dte = ChronoUnit.DAYS.between(asOf, exp.get)
          val mid = (bid.get + ask.get) / 2
          val spread = (ask.get - bid.get) / mid
          val strike = d(r, "strike")
          val mny = strike.map(s => if (isCall) s / upx else upx / s)
          val ok = dte >= 7 && dte <= 90 && bid.get > 0 && ask.get > 0 && mid > 0 &&
            spread <= 0.40 && vol >= 10 && (upx <= 0 || mny.exists(x => x >= 0.90 && x <= 1.25))
          if (ok) {
            val adelta = math.abs(d(r, "delta").getOrElse(0.0))
            val score = math.min(vol / 500.0, 5.0) * 2.0 +
              (1.0 - math.min(spread, 1.0)) * 3.0 +
              math.min(vol.toDouble / math.max(oi, 1L), 3.0) * 1.5 +
              d(r, "gamma").getOrElse(0.0) * 20.0 +
              (if (adelta >= 0.25 && adelta <= 0.50) 2.0 else 0.0) -
              math.abs(d(r, "theta").getOrElse(0.0)) / math.max(mid, 0.01) * 1.0
            val sym = r.getAs[String]("contract_symbol")
            val side = r.getAs[String]("option_type")
            val cur = best.get(side)
            if (cur.forall { case (s, c) => score > s || (score == s && sym > c) }) best(side) = (score, sym)
          }
        }
      }
      val bullish = pct > 0
      val totalDv = callDv + putDv
      val callSkew = callDv / math.max(putDv, 1.0)
      val putSkew = putDv / math.max(callDv, 1.0)
      val s1 = if (totalDv > Scanner.MinDollarVolume) {
        if (bullish && callDv > 0) (if (callSkew > 3.0) 2 else if (callSkew > 1.5) 1 else 0)
        else if (!bullish && putDv > 0) (if (putSkew > 3.0) 2 else if (putSkew > 1.5) 1 else 0)
        else 0
      } else 0
      val callVolOi = callVol / math.max(callOi, 1.0)
      val putVolOi = putVol / math.max(putOi, 1.0)
      val relVolOi = if (bullish) callVolOi else putVolOi
      val s2 = if (relVolOi > 2.0) 2 else if (relVolOi > 0.8) 1 else 0
      val relStrikes = if (bullish) callActive else putActive
      val s3 = if (relStrikes >= 5) 2 else if (relStrikes >= 3) 1 else 0
      val relUoa = if (bullish) callUoa else putUoa
      val s4 = if (relUoa > 2000000) 2 else if (relUoa > 500000) 1 else 0
      val s5 = if (math.abs(pct) > 1.5) 1 else 0
      val divBear = bullish && putDv > callDv * 2 && putDv > 1000000
      val divBull = !bullish && callDv > putDv * 2 && callDv > 1000000
      val s6 = if (divBear || divBull) 1 else 0
      val direction = if (divBear) "BEARISH" else if (divBull) "BULLISH"
        else if (bullish) "BULLISH" else "BEARISH"
      val contract = best.get(if (direction == "BULLISH") "call" else "put").map(_._2).orNull
      t -> ExpSignal(direction, s1 + s2 + s3 + s4 + s5 + s6, 0, contract, callDv, putDv,
        if (rows.isEmpty) Double.NaN else callVolOi, if (rows.isEmpty) Double.NaN else putVolOi,
        callUoa, putUoa, callActive)
    }
    // cluster boost over (industry, direction) clusters of scores >= 3
    val clusters = scored.flatMap { case (t, e) =>
      meta.get(t).flatMap(x => Option(x._2)).filter(_ => e.score >= Scanner.ClusterMinScore)
        .map(ind => (ind, e.direction))
    }.groupBy(identity).map { case (k, v) => k -> v.length }
    scored.map { case (t, e) =>
      val ind = meta.get(t).flatMap(x => Option(x._2))
      val size = ind.map(i => clusters.getOrElse((i, e.direction), 0)).getOrElse(0)
      val boost = if (ind.isDefined && e.score < Scanner.ClusterBoostThreshold &&
        size >= Scanner.ClusterMinSize) (if (size >= 8) 3 else if (size >= 5) 2 else 1) else 0
      t -> e.copy(boosted = math.min(e.score + boost, 10))
    }.toMap
  }

  /** The ledger's exit for one contract: exact-or-later entry bar within
    * the entry day, zero-volume entry is invalid, then timeout before
    * stop before target, bars exhausted -> timeout at the last close. */
  def ledgerExit(contract: String): (String, Double) = {
    val bars = minute.getOrElse(contract, Array.empty)
    if (bars.isEmpty) return ("NO_BARS", Double.NaN)
    val entryTs = m("entry_ts").toLong
    val exact = bars.indexWhere(_._1 == entryTs)
    val ei = if (exact >= 0) exact else bars.indexWhere(b => b._1 > entryTs && b._1 <= m("entry_day_end").toLong)
    if (ei < 0 || bars(ei)._5 == 0) return ("INVALID_LIQUIDITY", Double.NaN)
    val entry = bars(ei)._4 * 1.02
    val target = entry * 1.40
    val stop = entry * 0.75
    val timeout = m("timeout_ts").toLong
    var i = ei + 1
    while (i < bars.length) {
      val (t, h, l, c, _) = bars(i)
      if (t >= timeout) return ("TIMEOUT", (c - entry) / entry)
      if (l <= stop) return ("STOP", (stop - entry) / entry)
      if (h >= target) return ("TARGET", (target - entry) / entry)
      i += 1
    }
    ("TIMEOUT", (bars.last._4 - entry) / entry)
  }

  /** Favourable 3-session peak return and the first later close. */
  def backfill(ticker: String, direction: String, px: Double, from: String): (Double, Double) = {
    val next = daily.getOrElse(ticker, Array.empty).filter(_._1 > from).sortBy(_._1).take(3)
    if (next.length < 3) return (Double.NaN, Double.NaN)
    val peak = if (direction == "BULLISH") (next.map(_._2).max - px) / px * 100
      else (px - next.map(_._3).min) / px * 100
    (peak, next.head._4)
  }
}

object Plain {
  def load(spark: SparkSession, data: String, scanDate: String): Plain = {
    def rows(n: String) = spark.read.parquet(s"$data/$n").collect()
    val m = Inputs.meta(data)
    // only the sessions after the merged night reach peak_return_3d
    val daily = spark.read.parquet(s"$data/daily_bars")
      .where(col("date") > lit(m("hist_date")).cast("date")).collect().map(r => r.getAs[String]("ticker") ->
      (r.getAs[java.sql.Date]("date").toString, r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"))).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val minute = (contracts: Set[String]) => spark.read.parquet(s"$data/minute_bars")
      .where(col("opt_ticker").isin(contracts.toSeq: _*)).collect()
      .map(r => r.getAs[String]("opt_ticker") ->
        (r.getAs[Long]("t"), r.getAs[Double]("h"), r.getAs[Double]("l"), r.getAs[Double]("c"),
          r.getAs[Long]("v"))).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    new Plain(rows("snapshots"),
      rows("universe").map(_.getString(0).trim.toUpperCase).toSet,
      rows("metadata").map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap,
      rows("chain"), daily, minute, scanDate, m)
  }
}

/** Reads the flat `_inputs.json` the generator writes next to the tables. */
object Inputs {
  def meta(dir: String): Map[String, String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/_inputs.json")), "UTF-8")
    "\"([^\"]+)\":\\s*(\"([^\"]*)\"|[-0-9.eE]+)".r.findAllMatchIn(s).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
  }
}
