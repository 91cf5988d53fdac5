package graft.operators

import graft.core.Trace
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing for LLM training shards: assign documents (in a
  * deterministic id order) to contiguous bins of ~`budget` tokens —
  * `bin = floor(prefix_tokens_before_this_doc / budget)`, the streaming
  * pack where a bin closes once the running total crosses the budget (a
  * bin may overflow by at most one document; exact greedy reset-at-
  * boundary is an inherently sequential fold and packs no tighter).
  *
  * Scale shape: the naive spelling is `SUM(tokens) OVER (ORDER BY id)` —
  * a GLOBAL window, which Spark executes as ONE task. This version gets
  * the identical answer in two distributed passes over one range shuffle:
  * per-partition token totals (one long per partition to the driver),
  * then a per-partition scan seeded with its prefix offset. The ranged
  * table is persisted across the two passes (same contract as the
  * prefix-filter join's shingle table); driver data is O(partitions). */
object Packing {

  /** Adds `bin_id` (long) to `df`. `tokensCol` is cast to long, nulls
    * count 0; ordering (and therefore binning) is by `idCol` ascending. */
  def packBins(df: DataFrame, idCol: String, tokensCol: String,
               budget: Long, numPartitions: Int = 0): DataFrame = Trace.scope("packing.bins") {
    require(budget > 0, s"budget $budget must be positive")
    val spark = df.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // no persist: both passes hang off the SAME RDD lineage, so the range
    // shuffle's map side materializes once and the second job reads the
    // existing shuffle files (a skipped stage) — caching here would pin a
    // full copy of the input per call with no way to unpersist before the
    // lazy result is consumed
    val ranged = df
      .withColumn("__t", coalesce(col(tokensCol).cast("long"), lit(0L)))
      .repartitionByRange(nPart, col(idCol))
      .sortWithinPartitions(idCol)

    val tIdx = ranged.schema.fieldIndex("__t")
    // phase 1: per-partition token totals, in partition order
    val totals = ranged.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(tIdx)); Iterator.single(pid -> s)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(0L)(_ + _) // prefix BEFORE partition i

    // phase 2: each partition scans from its own offset — identical to the
    // single-task global running sum, without the single task
    val outSchema = ranged.schema.add("bin_id", LongType, nullable = false)
    val binned = ranged.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var running = offsets(pid)
      it.map { r =>
        val bin = running / budget
        running += r.getLong(tIdx)
        Row.fromSeq(r.toSeq :+ bin)
      }
    }
    spark.createDataFrame(binned, outSchema).drop("__t")
  }
}
