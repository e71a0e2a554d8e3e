package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{PerfBenchAccess, SparkSession}

/** One workload: opens its inputs once, then runs identical passes. */
trait Workload {
  def open(spark: SparkSession): Unit
  def pass(r: Runner, i: Int): Unit
  /** Output checks, made apart from the program; empty when all hold. */
  def check(spark: SparkSession): Seq[String]
  /** Feeds each checker one corrupted output; returns the corruptions
    * that were NOT rejected. */
  def selfTest(spark: SparkSession): Seq[String]
}

/** Workloads run as one: each pass runs every part's pass in turn. */
final class Parts(parts: Workload*) extends Workload {
  def open(spark: SparkSession): Unit = parts.foreach(_.open(spark))
  def pass(r: Runner, i: Int): Unit = parts.foreach(_.pass(r, i))
  def check(spark: SparkSession): Seq[String] = parts.flatMap(_.check(spark))
  def selfTest(spark: SparkSession): Seq[String] = parts.flatMap(_.selfTest(spark))
}

final case class OpRec(name: String, wallNs: Long, stats: OpStats)

final class PassRec(val index: Int, val kind: String, val traced: Boolean) {
  var wallNs, cpuNs, gcMs, jitMs, stealTicks, compiles, compileNs = 0L
  val ops = mutable.ArrayBuffer[OpRec]()
}

/** Runs operations, counting attempts and failures, and timing them. */
final class Runner(val spark: SparkSession, tracer: Option[Tracer]) {
  var attempted, failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  var pass: PassRec = _
  var passSpan = 0

  def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    val spanId = tracer.filter(_ => pass.traced).map(_.newSpanId()).getOrElse(0)
    val stats = if (spanId > 0) tracer.get.begin(spanId) else null
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    try body
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"pass ${pass.index} $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val wall = System.nanoTime() - t
    if (spanId > 0) {
      tracer.get.end()
      tracer.get.addSpan(Span(spanId, passSpan, name, startMs, startMs + wall / 1e6))
    }
    pass.ops += OpRec(name, wall, stats)
  }
}

object Main {
  /** Timed passes per run, whatever `--seconds` says: every run does the
    * same work, and 4 + 22 runs of each workload fit the benchmark's time. */
  val TimedPasses = 1

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def stealTicks: Long = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
    line.trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
  } catch { case NonFatal(_) => 0L }

  private def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val selfTest = opt.getOrElse("selftest", "0") == "1"
    val cores = opt("cores").toInt
    val data = opt("data")
    val out = opt("out")
    val work = opt("work")

    // ---- set-up: session start, then open the inputs ----------------
    val sessionT = System.nanoTime()
    val spark = graft.GraftSession.builder(opt("partitions").toInt)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionStartS = (System.nanoTime() - sessionT) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val workload: Workload = workloadName match {
      case "overnight" => new Overnight(data, out)
      case "analytics" => new Parts(new ResearchWorkload(s"$data/research", s"$out/research"),
        new Catalog(s"$data/catalog", s"$out/catalog"))
    }
    workload.open(spark)
    val setupS = (epochNs - opt("t0-ns").toLong) / 1e9

    if (selfTest) {
      val r = new Runner(spark, None)
      r.pass = new PassRec(0, "first", false)
      workload.pass(r, 0)
      val missed = workload.check(spark).map("unexpected check failure: " + _) ++
        workload.selfTest(spark)
      println("PERFBENCH_SELFTEST " + Json(Map("workload" -> workloadName, "missed" -> missed)))
      spark.stop()
      return
    }

    val codegen = CodegenFailureCounter.install()
    val tracer = if (traced) Some(new Tracer(spark.sparkContext, codegen)) else None
    val runner = new Runner(spark, tracer)
    // a fixed amount of work per run: the first pass, then TimedPasses;
    // traced runs interleave untraced passes, whose time gives the overhead
    val plan = Seq("first" -> traced) ++
      (if (traced) Seq.fill(TimedPasses)(Seq("timed" -> true, "timed" -> false)).flatten
       else Seq.fill(TimedPasses)("timed" -> false))
    val passes = plan.zipWithIndex.map { case ((kind, tr), i) =>
      val p = new PassRec(i, kind, tr)
      runner.pass = p
      if (tr) {
        tracer.get.attach()
        runner.passSpan = tracer.get.newSpanId()
      }
      val (cpu0, gc0, jit0, st0) = (os.getProcessCpuTime, gcMs, jitMs, stealTicks)
      val (cc0, cn0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, PerfBenchAccess.codegenCompileNanos)
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      workload.pass(runner, i)
      p.wallNs = System.nanoTime() - t
      p.cpuNs = os.getProcessCpuTime - cpu0
      p.gcMs = gcMs - gc0
      p.jitMs = jitMs - jit0
      p.stealTicks = stealTicks - st0
      p.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      p.compileNs = PerfBenchAccess.codegenCompileNanos - cn0
      if (tr) {
        tracer.get.addSpan(Span(runner.passSpan, 0, s"pass $i ($kind)", startMs, startMs + p.wallNs / 1e6))
        tracer.get.detach()
      }
      System.err.println(f"[perfbench] $workloadName pass $i%d $kind%s${if (tr) " traced" else ""}%s ${p.wallNs / 1e9}%.3f s")
      p
    }

    val checkT = System.nanoTime()
    val checkErrors = workload.check(spark)
    System.err.println(f"[perfbench] checks ${(System.nanoTime() - checkT) / 1e9}%.1f s")
    val errors = runner.errors.toSeq ++ checkErrors.map("check: " + _)
    val correct = checkErrors.isEmpty

    val info = Map("workload" -> workloadName, "seed" -> opt("seed"), "cores" -> cores,
      "heap" -> opt("heap"), "shuffle_partitions" -> opt("partitions").toInt,
      "timed_passes" -> TimedPasses,
      "pass_s" -> passes.map(_.wallNs / 1e9), "pass_kind" -> passes.map(_.kind),
      "pass_traced" -> passes.map(_.traced))
    val metrics =
      if (traced) Metrics.perLayer(passes, sessionStartS, cores, workloadName)
      else Metrics.endToEnd(passes, setupS)
    tracer.foreach { t =>
      Files.writeString(Paths.get(s"$work/trace.json"), Json(Map(
        "spans" -> t.spans.toSeq.sortBy(_.startMs).map(s => Map("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs)))))
    }
    println("PERFBENCH_RESULT " + Json(Map("correct" -> correct,
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "metrics" -> metrics, "errors" -> errors, "info" -> info)))
    val stopT = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] session stopped in ${(System.nanoTime() - stopT) / 1e9}%.1f s")
  }
}

object Metrics {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  def endToEnd(passes: Seq[PassRec], setupS: Double): Map[String, Any] = {
    val timed = passes.filter(_.kind == "timed")
    Map(
      "setup_s" -> m(setupS, "s"),
      "first_pass_s" -> m(passes.head.wallNs / 1e9, "s"),
      "pass_s" -> m(median(timed.map(_.wallNs / 1e9)), "s"),
      "pass_cpu_s" -> m(median(timed.map(_.cpuNs / 1e9)), "s"))
  }

  val queryFiles = Seq("Relational", "TimeSeries", "TrainingData", "DomainOps", "Scalars")

  /** Per-layer metrics: medians over the traced timed passes, except the
    * codegen compile counts and JIT time, which belong to the first pass. */
  def perLayer(passes: Seq[PassRec], sessionStartS: Double, cores: Int,
      workload: String): Map[String, Any] = {
    val tr = passes.filter(p => p.kind == "timed" && p.traced)
    val untr = passes.filter(p => p.kind == "timed" && !p.traced)
    val first = passes.head
    def med(f: PassRec => Double) = median(tr.map(f))
    def ops(p: PassRec, name: String) = p.ops.filter(_.name == name)
    def opS(name: String) = med(p => ops(p, name).map(_.wallNs / 1e9).sum)
    def opStat(name: String)(f: OpStats => Double) = med(p => ops(p, name).map(o => f(o.stats)).sum)
    def all(p: PassRec)(f: OpStats => Double) = p.ops.map(o => f(o.stats)).sum
    val mb = 1024.0 * 1024.0
    val queryOps = (p: PassRec) => p.ops.toSeq.filter(_.name.startsWith("query "))
    val passWall = (p: PassRec) => p.wallNs / 1e9
    val out = mutable.LinkedHashMap[String, Any]()
    def put(name: String, v: Double, unit: String): Unit = out(name) = m(v, unit)

    put("session.start_s", sessionStartS, "s")
    put("scanner.s", opS("scanner"), "s")
    put("scanner.rows_out", opStat("scanner")(_.rowsWritten), "count")
    put("scanner.shuffle_mb", opStat("scanner")(_.shuffleWriteB / mb), "MB")
    put("enrich.s", opS("enrich"), "s")
    put("enrich.rows_out", opStat("enrich")(_.rowsWritten), "count")
    put("enrich.codegen_failures", opStat("enrich")(_.codegenFailures), "count")
    put("execution.s", opS("execution"), "s")
    put("execution.bars_in", opStat("execution")(
      _.scanRows.collect { case (k, v) if k.contains("minute_bars") => v }.sum), "count")
    put("execution.ledger_rows", opStat("execution")(_.rowsWritten), "count")
    put("tracking.s", opS("tracking"), "s")
    put("tracking.rows_updated", opStat("tracking")(_.observed("tracking_updates")), "count")
    put("arena.s", opS("arena"), "s")
    put("arena.rows_out", opStat("arena")(_.rowsWritten), "count")
    put("io.write_s", med(p => p.ops.filterNot(_.name == "tracking").map(_.stats.commitMs / 1e3).sum), "s")
    put("io.merge_s", opS("tracking"), "s")
    put("io.files_written", med(all(_)(_.filesWritten)), "count")
    put("io.bytes_written_mb", med(all(_)(_.bytesWritten / mb)), "MB")
    val sweepS = opS("sweep")
    put("sweep.s", sweepS, "s")
    put("sweep.cell_bars_per_s",
      if (sweepS > 0) ResearchWorkload.cellBars.toDouble / sweepS else 0.0, "1/s")
    put("research.stats_s", opS("stats"), "s")
    val mcS = opS("montecarlo")
    put("montecarlo.s", mcS, "s")
    put("montecarlo.paths_per_s", if (mcS > 0) ResearchWorkload.Paths / mcS else 0.0, "1/s")
    put("tables.load_s", med(all(_)(_.tableLoadMs / 1e3)), "s")
    put("tables.load_jobs", med(all(_)(_.tableLoadJobs)), "count")
    queryFiles.foreach { f =>
      put(s"queries.${f}_s", med(p => queryOps(p)
        .filter(o => Catalog.fileOf(o.name.stripPrefix("query ")) == f).map(_.wallNs / 1e9).sum), "s")
    }
    put("queries.p50_s", med(p => median(queryOps(p).map(_.wallNs / 1e9))), "s")
    put("queries.max_s", med(p => (queryOps(p).map(_.wallNs / 1e9) :+ 0.0).max), "s")
    put("queries.jobs_per_query", med(p => {
      val q = queryOps(p)
      if (q.isEmpty) 0.0 else q.map(_.stats.jobs.toDouble).sum / q.size
    }), "count")
    put("catalyst.analysis_ms", med(all(_)(_.analysisMs)), "ms")
    put("catalyst.optimization_ms", med(all(_)(_.optimizationMs)), "ms")
    put("catalyst.planning_ms", med(all(_)(_.planningMs)), "ms")
    put("codegen.compiles", first.compiles.toDouble, "count")
    put("codegen.compile_ms", first.compileNs / 1e6, "ms")
    put("codegen.failures", med(all(_)(_.codegenFailures)), "count")
    put("spark.jobs", med(all(_)(_.jobs)), "count")
    put("spark.stages", med(all(_)(_.stages)), "count")
    put("spark.tasks", med(all(_)(_.tasks)), "count")
    put("spark.executor_run_s", med(all(_)(_.runMs / 1e3)), "s")
    put("spark.executor_cpu_s", med(all(_)(_.cpuNs / 1e9)), "s")
    put("spark.core_busy_ratio", med(p => all(p)(_.runMs / 1e3) / (passWall(p) * cores)), "ratio")
    put("spark.shuffle_read_mb", med(all(_)(_.shuffleReadB / mb)), "MB")
    put("spark.shuffle_write_mb", med(all(_)(_.shuffleWriteB / mb)), "MB")
    put("spark.spill_mb", med(all(_)(_.spillB / mb)), "MB")
    put("spark.task_skew", med(p => {
      val (mx, md) = p.ops.map(_.stats.taskSkew).foldLeft((0.0, 0.0)) {
        case ((a, b), (c, d)) => (a + c, b + d) }
      if (md > 0) mx / md else 1.0
    }), "ratio")
    put("spark.gc_s", med(all(_)(_.gcMs / 1e3)), "s")
    put("jvm.jit_s", first.jitMs / 1e3, "s")
    put("jvm.gc_s", med(_.gcMs / 1e3), "s")
    put("host.steal_s", med(_.stealTicks / 100.0), "s")
    put("host.nproc", Runtime.getRuntime.availableProcessors().toDouble, "count")
    put("trace.overhead_s", med(passWall) - median(untr.map(passWall)), "s")
    out.toMap
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
