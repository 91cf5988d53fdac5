package graft.operators

import graft.core.Trace
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY north-star scale note).
  *
  * AQE's skew-join split handles sort-merge skew automatically; explicit
  * salting remains the tool when a broadcast isn't possible and a handful
  * of keys dominate (the classic "null key / top customer" case at 100 TB):
  * the big side gets a random-but-deterministic salt per row, the small
  * side is replicated `saltFactor` ways, and the join key becomes
  * (key, salt) — the hot key's rows spread over `saltFactor` tasks. */
object Skew {

  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // deterministic salt: hash of the whole big-side row spreads rows of a
    // hot key uniformly without RNG (re-runs produce identical plans)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(c => col(s"`$c`")): _*), lit(saltFactor)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Skew diagnostics: the top-k heaviest values of a prospective join/
    * group key with their share of all rows — the measurement that decides
    * between plain join, AQE skew split, and salting. One partial-agg
    * shuffle over key counts (vocabulary-sized), a broadcast single-row
    * total, and a TakeOrdered top-k (no global sort materialization). */
  def heavyHitters(df: DataFrame, keyCol: String,
                   k: Int): DataFrame = Trace.scope("skew.heavy_hitters") {
    // one scan: the vocabulary-sized counts checkpoint (tiny), and the
    // total derives from them — never a second pass over the fact table
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val total = counts.agg(sum("cnt").as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("cnt").cast("double") / col("__total"), 6))
      .drop("__total")
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }
}
