package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed subset of `SparkEntry.queries` over the generated catalog
  * tables. Each query runs in a fresh `spark.newSession()` and writes to
  * the `noop` sink, so no query reuses another's session state. */
final class Catalog(data: String, out: String) extends Workload {
  def open(spark: SparkSession): Unit =
    Catalog.subset.foreach { case (q, _) =>
      require(SparkEntry.queries.contains(q), s"unknown query $q")
    }

  def pass(r: Runner, i: Int): Unit =
    Catalog.subset.foreach { case (q, _) =>
      r.op(s"query $q") {
        SparkEntry.queries(q)(r.spark.newSession(), data)
          .write.format("noop").mode("overwrite").save()
      }
    }

  /** Writes every query's result and its oracle SQL; the comparison with
    * DuckDB runs after this process ends (perfbench/catalog_check.py). */
  def check(spark: SparkSession): Seq[String] = {
    val results = s"$out/results"
    Catalog.subset.foreach { case (q, _) =>
      SparkEntry.queries(q)(spark.newSession(), data)
        .coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
    }
    val oracle = Catalog.subset.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json(oracle))
    Nil
  }

  def selfTest(spark: SparkSession): Seq[String] = Nil
}

object Catalog {
  /** Query -> the query file that defines it. The rule: the first query of
    * each of the five query files in SparkEntry's declaration order (see
    * README.md). */
  val subset: Seq[(String, String)] = Seq(
    "q01_group_agg" -> "Relational",
    "q30_sma" -> "TimeSeries",
    "q70_exact_dedup" -> "TrainingData",
    "q45_entry_fallback" -> "DomainOps",
    "q42_support_resistance" -> "Scalars")

  def fileOf(q: String): String = subset.find(_._1 == q).map(_._2).getOrElse("")
}
