package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY §4 / the 100 TB mandate): salting
  * for hot keys when a join's build side is too big to broadcast but a
  * few keys dominate the probe side.
  *
  * AQE's skew-join split handles sort-merge skew adaptively at runtime;
  * explicit salting remains the tool when (a) AQE is unavailable on the
  * deployment, or (b) the skew is in an AGGREGATION keyed by a hot key
  * where a two-phase salt → combine → final shape bounds any single
  * task's group size.
  */
object Skew {

  /** Equi-join `left ⋈ right` on `key` with the left side's hot keys
    * spread over `saltFactor` salts and the right side replicated
    * `saltFactor`×. Exact same result as the plain join for inner and
    * left-side join types; right/full outer are rejected — an unmatched
    * right row exists once per salt replica, so those types would emit
    * it saltFactor times.
    *
    * Memory bound: the join is hinted SHUFFLE_HASH, so each task builds
    * its share of the replicated right side as an in-memory hash
    * relation, with no sort-merge or spill fallback. A task holds the
    * right rows whose (key, salt) hashes to its partition — about
    * |right| × saltFactor / `spark.sql.shuffle.partitions` rows, more
    * where hashing is uneven or AQE coalesces partitions into one task
    * — and that relation must fit in the task's share of execution
    * memory. A large right side, a large saltFactor or few shuffle
    * partitions can exceed it where a sort-merge join would have
    * spilled; such a caller should join without this helper.
    */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
                     saltFactor: Int, joinType: String = "inner",
                     saltBy: Seq[String] = Nil): DataFrame = {
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(normalized),
      s"saltedEquiJoin supports inner/left_outer/left_semi/left_anti, not $joinType: " +
        "right-side-preserving types would duplicate unmatched right rows per salt")
    // deterministic spread: hash a stable column combo, NOT rand()
    // (replays must be idempotent). Default is the whole left row —
    // always spreads — but on a wide fact table a caller-named narrow
    // discriminator (a line number, an offset) salts at a fraction of
    // the hash cost.
    val saltCols = if (saltBy.nonEmpty) saltBy else left.columns.toSeq
    val l = left.withColumn("_salt",
      pmod(hash(saltCols.map(col): _*), lit(saltFactor)))
    val r = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    // SHUFFLE_HASH on the replicated side: salting's premise is that
    // the build side does NOT fit in a broadcast (a broadcast join has
    // no shuffle to skew), so the honest shape at any scale is a
    // shuffle join on (key, salt). Left to the planner at local/bench
    // SF, the saltFactor-replicated dim broadcasts instead — paying a
    // single-threaded saltFactor× hashed-relation build per run (the
    // measured cost AND the reason the query scaled at 0.54× from 8
    // to 32 cores) while demonstrating a shape salting exists to
    // avoid. The hint keeps the per-partition hash build (no sort) —
    // exactly what the skewed-fact side wants, since its hot (key,
    // salt) partitions stream against a small per-partition dim table.
    l.join(r.hint("shuffle_hash"), Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Two-phase aggregation for skewed group keys: first aggregate
    * (key, salt) partials, then combine per key. `partialAggs` must be
    * algebraic (sum/count/min/max style) for the split to be exact. */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     saltFactor: Int): DataFrame =
    df.withColumn("_salt", pmod(hash(col(valueCol)), lit(saltFactor)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_s"), count(lit(1)).as("_c"))
      .groupBy(col(key))
      .agg(sum(col("_s")).as("sum_value"), sum(col("_c")).as("cnt"))
}
