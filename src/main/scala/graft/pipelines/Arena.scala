package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A19 agent-arena consensus aggregation (agent-arena/debate.py:117-189):
  * group final-round picks by (ticker, direction), tally votes and average
  * conviction, classify into unanimous / supermajority(>=0.8) /
  * majority(>=0.4) / split(>=2 votes) / solo tiers, and pick the consensus
  * trade as highest-voted then highest-conviction among the
  * unanimous/supermajority/majority pools.
  */
object Arena {

  val Supermajority = 0.8
  val ConsensusThreshold = 0.4

  /** Vote tally per (ticker, direction). `picks` columns:
    * scan_date, agent, ticker, direction, conviction. The day's distinct
    * agent count is a window over scan_date, so the picks are read once
    * and the grouping reuses that partitioning. Picks without a
    * scan_date belong to no day and are dropped. */
  def tally(picks: DataFrame): DataFrame =
    picks.where(col("scan_date").isNotNull)
      .withColumn("total_agents",
        size(collect_set(col("agent")).over(Window.partitionBy(col("scan_date")))).cast("long"))
      .groupBy(col("scan_date"), col("ticker"), col("direction"))
      .agg(
        count(lit(1)).cast("int").as("agent_count"),
        round(avg(col("conviction")), 1).as("avg_conviction"),
        first(col("total_agents")).as("total_agents"))
      .withColumn("ratio", col("agent_count") / col("total_agents"))
      .withColumn("tier",
        when(col("ratio") >= 1.0, "unanimous")
          .when(col("ratio") >= Supermajority, "supermajority")
          .when(col("ratio") >= ConsensusThreshold, "majority")
          .when(col("agent_count") >= 2, "split")
          .otherwise("solo"))

  /** Consensus row per scan_date (agent_arena_consensus shape):
    * has_consensus + winning pick by (votes desc, conviction desc, ticker)
    * among consensus-eligible tiers, plus tier counts — one aggregation
    * over the tally. */
  def consensus(picks: DataFrame): DataFrame = {
    val eligible = col("tier").isin("unanimous", "supermajority", "majority")
    val w = Window.partitionBy(col("scan_date"), eligible)
      .orderBy(col("agent_count").desc, col("avg_conviction").desc, col("ticker"))
    def tier(name: String): Column = sum(when(col("tier") === name, 1).otherwise(0)).cast("int")
    tally(picks)
      .withColumn("_winner", eligible && row_number().over(w) === 1)
      .groupBy(col("scan_date"))
      .agg(
        tier("unanimous").as("n_unanimous"),
        tier("supermajority").as("n_supermajority"),
        tier("majority").as("n_majority"),
        tier("split").as("n_split"),
        tier("solo").as("n_solo"),
        // (ticker, direction) is the tally's key: distinct pairs are rows
        count(when(col("ticker").isNotNull && col("direction").isNotNull, 1))
          .cast("int").as("total_unique_tickers"),
        max_by(struct(col("ticker"), col("direction"), col("agent_count"),
          col("avg_conviction")), when(col("_winner"), 1)).as("_w"))
      .select(col("scan_date"), col("n_unanimous"), col("n_supermajority"),
        col("n_majority"), col("n_split"), col("n_solo"), col("total_unique_tickers"),
        col("_w.ticker").as("consensus_ticker"),
        col("_w.direction").as("consensus_direction"),
        col("_w.agent_count").as("consensus_count"),
        col("_w.avg_conviction").as("consensus_conviction"))
      .withColumn("has_consensus", col("consensus_ticker").isNotNull)
  }
}
