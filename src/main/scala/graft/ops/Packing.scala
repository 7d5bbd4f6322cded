package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines (north-star extension —
  * no analogue in the reference): assign documents to fixed-capacity
  * context windows ("bins") by running token count in a deterministic
  * global order, bin = floor(exclusiveprefix / windowTokens) — the
  * contiguous-fill packing used when documents are concatenated and
  * split into training sequences.
  *
  * The naive formulation is a window function over ONE global ordering —
  * a single-partition sort that caps out at one executor. The prefix is
  * [[PrefixSum.exclusive]] over the slim (ord, n_tok) pairs: one range
  * shuffle carries just those pairs (the documents never move), and
  * only per-partition totals reach the driver, with no window. Range
  * boundaries affect only WHERE the sum is computed, never its value, so
  * the bin assignment is deterministic across partitionings and engines.
  */
object Packing {

  /** One row per input row: (ord_key, n_tok, bin). `ord` must be a
    * unique, totally-ordered, non-null key (doc id); `tokenCount` the
    * per-row token count.
    */
  def packSequences(df: DataFrame, ord: Column, tokenCount: Column,
                    windowTokens: Long, numPartitions: Int = 0): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    // a null count (null text upstream) packs as zero tokens rather
    // than poisoning the running sum
    val slim = df.select(ord.as("ord_key"),
      coalesce(tokenCount.cast("long"), lit(0L)).as("n_tok"))
    PrefixSum.exclusive(slim, Seq("ord_key"), "n_tok", numPartitions = numPartitions)
      .select(col("ord_key"), col("n_tok"),
        floor(col("prefix_excl") / windowTokens).cast("long").as("bin"))
  }

  /** Bin-level summary: documents and token fill per context window.
    * `fill_frac` > 1 marks bins whose last document spills into the next
    * window (contiguous packing splits it at training time).
    */
  def packingStats(packed: DataFrame, windowTokens: Long): DataFrame =
    packed.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("fill_frac", col("n_tokens").cast("double") / windowTokens)
}
