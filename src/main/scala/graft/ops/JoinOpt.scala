package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

/** Build-side selection the static planner cannot make on its own.
  *
  * The motivating shape (q_cte): `dim JOIN (filtered aggregate)` where
  * the dim's pruned scan sits under the broadcast threshold. Spark's
  * static planner broadcasts the DIM (its scan has a size estimate; the
  * aggregate does not), which leaves the aggregate as the streamed side
  * of the join — and when a global ORDER BY sits on top, the
  * range-exchange sample pass re-executes that whole streamed stage
  * (final agg + probe) a second time. Building on the aggregate instead
  * streams the cheap dim scan, so the re-sampled stage is a scan+probe
  * and the expensive aggregate runs exactly once. Measured at sf10:
  * q_cte 2.5 → 1.7 s, identical output.
  *
  * Scale guard: the hint fires ONLY when Spark's own stats say the dim
  * side would broadcast. A one-row-per-key filtered aggregate over the
  * dim's key space is no larger than the dim itself (subset of keys,
  * comparable width), so "dim would broadcast" ⇒ "aggregate fits" — the
  * forced build is dominated by the plan Spark was about to pick. Where
  * the dim estimate exceeds the threshold (the 100 TB regime) nothing
  * is forced and AQE picks from runtime sizes.
  */
object JoinOpt {

  /** `dim ⋈ agg` with the aggregate as broadcast build iff Spark's
    * stats would have broadcast `dim` ([[SizeDispatch.AggBuild]]). `agg`
    * must be key-bounded relative to `dim` (at most one row per dim key —
    * e.g. a grouped aggregate on the join key), which is what makes the
    * size argument sound. */
  def aggBuildJoin(dim: DataFrame, agg: DataFrame, cond: Column)
      : DataFrame = {
    import SizeDispatch.{AggBuild, above, planBytes}
    if (above(AggBuild, dim.sparkSession, planBytes(dim))) dim.join(agg, cond)
    else dim.join(broadcast(agg), cond)
  }

  /** Broadcast `side` iff `bound` is [[withinReduceBound]]. `bound` must
    * be a plan whose ROW COUNT provably bounds `side`'s and whose width
    * is comparable — in practice the narrow projection of the scan `side`
    * was derived from by filters and key-unique joins. The bound plan is
    * what makes the guard usable: without CBO, Catalyst's size estimate
    * for a JOIN output is the product of its inputs (measured: 2.2e19
    * "bytes" for a 901K-row join at sf10), so guarding on `side` itself
    * would never fire; a scan estimate is file-stats-derived and tracks
    * data scale linearly, so the same declaration broadcasts at warehouse
    * scale and degrades to the keyed shuffle join at the 100 TB regime. */
  def broadcastIfBounded(side: DataFrame, bound: DataFrame): DataFrame = {
    if (withinReduceBound(bound)) broadcast(side) else side
  }

  /** Whether `bound`'s size estimate is within the reduce-side broadcast
    * limit ([[SizeDispatch.ReduceBound]]: the routine torrent-broadcast
    * range on a cluster, far under executor memory); callers that switch
    * whole plan shapes (e.g. the ProbeAgg kernel vs the BHJ chain) use it
    * directly. */
  def withinReduceBound(bound: DataFrame): Boolean = {
    import SizeDispatch.{ReduceBound, above, planBytes}
    !above(ReduceBound, bound.sparkSession, planBytes(bound))
  }
}
