package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Joins

/** Sinks & table-lifecycle helpers (SURVEY.md §2.1 S12-S18, §1.1 layouts).
  *
  * Layout doctrine for 100 TB (from the reference's partitioned+clustered
  * tables, overnight_scanner.py:722-726): day-partition on the scan/event
  * date, sort-within-partitions on the query keys so parquet row-group
  * stats prune scans, and rewrite only affected partitions on update.
  */
object Writers {

  /** S12 append-only ledger write (insert_rows_json semantics). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Daily snapshot table: delete-by-partition then insert (T3 /
    * enrichment-trigger/main.py:744-746) via dynamic partition overwrite;
    * clustered by `clusterCols` inside each partition. */
  def partitionedOverwrite(df: DataFrame, path: String, partitionCol: String,
      clusterCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val sorted =
        if (clusterCols.nonEmpty)
          df.repartition(col(partitionCol))
            .sortWithinPartitions(clusterCols.map(col): _*)
        else df
      sorted.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(path)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** J3 MERGE-upsert on plain parquet: read target, key-join updates with
    * update-only WHEN MATCHED semantics, rewrite (win-tracker/main.py:
    * 577-634). At scale pair with partition pruning: pass `partitionCol`
    * so only partitions containing update keys are rewritten. The updates
    * are evaluated once either way: with a partition column they are
    * checkpointed, then both name the touched partitions (a broadcast
    * semi-join the scan prunes on) and feed the key join. */
  def mergeUpsert(spark: SparkSession, targetPath: String, updates: DataFrame,
      keys: Seq[String], updateCols: Seq[String],
      partitionCol: Option[String] = None): Unit = {
    val target = spark.read.parquet(targetPath)
    partitionCol match {
      case Some(p) =>
        val once = updates.localCheckpoint()
        val touched = target.join(broadcast(once.select(col(p)).distinct()), Seq(p), "left_semi")
        val merged = Joins.mergeUpdate(touched, once, keys, updateCols)
        // rewrite only the touched partitions (dynamic overwrite)
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try merged.write.mode(SaveMode.Overwrite).partitionBy(p).parquet(targetPath)
        finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      case None =>
        val merged = Joins.mergeUpdate(target, updates, keys, updateCols)
          .localCheckpoint() // cut lineage before overwriting the source files
        merged.write.mode(SaveMode.Overwrite).parquet(targetPath)
    }
  }

  /** S15 keyed document sink: one JSON doc per row keyed `{date}_{ticker}`
    * (Firestore batch.set semantics; last-writer-wins on the key). */
  def keyedJson(df: DataFrame, path: String, keyCol: String): Unit =
    df.withColumn("_doc_id", col(keyCol))
      .write.mode(SaveMode.Overwrite).partitionBy("_doc_id").json(path)

  /** ORC sink (partitioned like [[partitionedOverwrite]]'s layout but
    * append-mode, for interchange with ORC-based warehouses). */
  def orcAppend(df: DataFrame, path: String,
      partitionCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Append)
    partitionCol.fold(w)(c => w.partitionBy(c)).orc(path)
  }

  /** S16 single-file CSV report sink. */
  def csvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Bucketed catalog table for co-located joins: both sides of a
    * recurring equi-join (e.g. signals x bars on ticker) written with the
    * same bucket spec join WITHOUT an exchange — at 100 TB the shuffle is
    * the cost, and bucketing amortizes it across every downstream join.
    * Requires a catalog table (bucket metadata lives in the metastore). */
  def bucketedTable(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** P14 batch idempotency guard (overnight_scanner.py:815-827): true iff
    * the sink at `path` already has rows for `date` in `dateCol` — the
    * reference skips the whole run when today's partition is non-empty. A
    * missing/unreadable sink means "not run yet" (the reference swallows
    * the table-not-found probe). On a `dateCol`-partitioned sink the probe
    * partition-prunes to the single matching directory and stops at the
    * first row (`isEmpty` = LIMIT 1), so the guard is O(1) at any scale. */
  def alreadyRan(spark: SparkSession, path: String, dateCol: String,
      date: String): Boolean =
    try !spark.read.parquet(path).where(col(dateCol) === lit(date)).isEmpty
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Guarded pipeline entry: run `job` unless [[alreadyRan]] says this
    * date's output exists; returns true iff the job ran. */
  def runIfNotAlready(spark: SparkSession, path: String, dateCol: String,
      date: String)(job: => Unit): Boolean =
    if (alreadyRan(spark, path, dateCol, date)) false
    else { job; true }

  /** S17 ensure-exists DDL in the session catalog. */
  def ensureTable(spark: SparkSession, name: String, schemaDdl: String,
      partitionedBy: Option[String] = None): Unit = {
    val part = partitionedBy.map(c => s" PARTITIONED BY ($c)").getOrElse("")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name ($schemaDdl) USING parquet$part")
  }

  /** S18 archive snapshot (CREATE OR REPLACE ... AS SELECT semantics;
    * spelled drop + CTAS because the built-in v1 parquet catalog does not
    * support atomic REPLACE TABLE). */
  def archiveSnapshot(spark: SparkSession, source: String, archive: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $archive")
    spark.sql(s"CREATE TABLE $archive USING parquet AS SELECT * FROM $source")
  }
}
