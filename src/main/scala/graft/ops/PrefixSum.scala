package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The engine's one distributed prefix sum (the two-phase scan,
  * Blelloch 1990): every row's EXCLUSIVE running sum of a long value
  * over a unique total order, optionally restarting per group — the
  * shape under sequence packing, token budgets, global ranks and
  * interval sweeps.
  *
  * The naive form is `sum(v) OVER (PARTITION BY g ORDER BY o ROWS
  * UNBOUNDED PRECEDING) - v`: one partition per group, or the whole
  * input in ONE partition without a group. Here it runs at full
  * parallelism:
  *   1. one range shuffle by (group, order) — ascending partition ids
  *      hold ascending key ranges, each group's rows contiguous — then
  *      a narrow per-partition running sum. The partition id is the
  *      task's, assigned in the job of an EAGER `localCheckpoint`, so
  *      it is pinned before any downstream operator runs: a later
  *      `coalesce(1)` (Verify's write path) folds partitions into one
  *      task, and an id computed there would collapse to 0 and zero
  *      every offset.
  *   2. per-(partition, group) totals — partial-aggregated to one row
  *      per partition and group before their exchange — get their own
  *      exclusive prefix in the ONLY window, over #partitions × #groups
  *      rows, and broadcast-join back to the rows as offsets.
  * Range boundaries decide only WHERE a sum is computed, never its
  * value, so the result is the same at any partitioning.
  *
  * The helper pins its slim input unconditionally with
  * `localCheckpoint()`: range sampling reads its child once and the
  * shuffle map reads it again, so an unpinned projection — a token
  * count kernel over the corpus text — would run twice per row
  * (PlanQualitySpec's q59 once-per-row test).
  */
object PrefixSum {

  /** `slim`'s columns plus `prefix_excl`: the sum of `value` over the
    * rows before this one in (`group`, `order`) order, within the same
    * `group`. `order` must be unique and totally ordered within a
    * group; `value` a non-null long; `group` an atomic column (a null
    * group is a group of its own). `numPartitions` ≤ 0 takes the
    * session's shuffle partition count.
    */
  def exclusive(slim: DataFrame, order: Seq[String], value: String,
                group: Option[String] = None, numPartitions: Int = 0): DataFrame = {
    val parts =
      if (numPartitions > 0) numPartitions
      else slim.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = (group.toSeq ++ order).map(col)
    val ranged = slim.localCheckpoint()
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
    val vi = ranged.schema.fieldIndex(value)
    val gi = group.map(ranged.schema.fieldIndex).getOrElse(-1)
    val local = ranged.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var cum = 0L
      var prev: Any = new Object // equals no group value
      it.map { r =>
        val g = if (gi >= 0) r.get(gi) else null
        if (g != prev) { cum = 0L; prev = g } // a group's rows are contiguous
        val excl = cum
        cum += r.getLong(vi)
        Row.fromSeq(r.toSeq :+ pid :+ excl)
      }
    }(Encoders.row(StructType(ranged.schema.fields ++ Seq(
      StructField("__pid", IntegerType, nullable = false),
      StructField("__cum", LongType, nullable = false)))))
      .localCheckpoint()

    val gs = group.toSeq.map(col)
    val offsets = local.groupBy(col("__pid") +: gs: _*)
      .agg(sum(col(value)).as("__tot"))
      .select(col("__pid").as("__opid") +: group.toSeq.map(g => col(g).as("__og")) :+
        coalesce(sum(col("__tot")).over(Window.partitionBy(gs: _*).orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"): _*)
    val on = group.foldLeft(col("__pid") === col("__opid")) { (c, g) =>
      c && (col(g) <=> col("__og"))
    }
    local.join(broadcast(offsets), on)
      .select(slim.columns.map(col) :+ (col("__off") + col("__cum")).as("prefix_excl"): _*)
  }
}
