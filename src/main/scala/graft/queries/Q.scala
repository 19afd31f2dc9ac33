package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared helpers for the driver-facing query inventory.
  *
  * Conventions (driver compare contract):
  *  - every computed column is aliased identically in the Spark plan and
  *    the DuckDB oracle SQL;
  *  - float aggregates are rounded on BOTH sides (the reference tolerates
  *    float drift the same way — engineering-notes/pgduck_shippability.md:33-41);
  *  - sums over integer columns are CAST(... AS BIGINT) in the oracle
  *    because DuckDB widens integer SUM to HUGEINT;
  *  - every query has a deterministic ORDER BY (ties broken by a key).
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Deterministic global sort for gate outputs, size-dispatched like
    * the engine's other auto-dispatches (Rollup.rollupAuto, minhash
    * clusteredVerify): report-sized results shuffle to ONE partition
    * and sort in-partition — skipping the RangePartitioner SAMPLING
    * JOB, which re-executes every narrow operator above the last
    * shuffle once more per query (the whole Window chain for the
    * window gates; measured at sf0.1 in commit 70a53c4:
    * sessionize 0.384→0.278 s, rank 0.410→0.313 s) — while results
    * whose optimizer size estimate crosses the bound keep the
    * scale-correct parallel range sort (measured at sf10: the
    * single-task sort of the 5.4M-row rank output is 2.5× WORSE than
    * paying the sampling pass — 8.29 vs 3.36 s). Rows are identical
    * either way; only the physical sort layout dispatches.
    * Override: spark.graft.sort.onePartitionMaxBytes (bytes, default
    * 64 MB).
    *
    * Dispatch signal (r18): the SUM OF LEAF-SCAN SIZES of the already-
    * analyzed plan, not `optimizedPlan.stats` — the r17 form forced a
    * full extra analyze+optimize pass of the child per DataFrame
    * construction (paid even when the dispatch then kept the range
    * sort), and join-output estimates inflate past the bound for
    * report-sized results sitting above joins (q_join_inner's 15k-row
    * output "estimated" scan-sized, so it paid the pass AND kept the
    * sampling job). DataFrame analysis is eager, so reading the
    * analyzed plan's leaves costs nothing extra, and a leaf's stats are
    * its file-index size (O(1), no optimizer run). The sort input can
    * only be smaller than the bytes scanned for every shipped call
    * site (aggregates/joins/windows narrow; nothing explodes), so
    * leaves ≤ bound ⟹ sort input ≤ bound. Decade check against the
    * fixtures: sf0.1 leaves are ≤ 11 MB (all call sites dispatch to the
    * one-task sort — including the two the inflated estimates kept on
    * the sampling path), sf10 facts are 98 MB-1.1 GB (window/join/text
    * call sites keep the scale-correct parallel range sort; only
    * q_sim_cosine's 43 MB embeddings leaf flips, and its output is
    * ~8 MB). Callers introducing a row-exploding operator above a
    * small scan must use orderBy directly. */
  def ordered(df: DataFrame, cols: Column*): DataFrame = {
    val thr = df.sparkSession.conf
      .get("spark.graft.sort.onePartitionMaxBytes",
        (64L << 20).toString).toLong
    val leafBytes = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (leafBytes <= BigInt(thr))
      df.repartition(1).sortWithinPartitions(cols: _*)
    else df.orderBy(cols: _*)
  }

  /** [[ordered]] for outputs with a PROVEN tiny row bound (a top-k
    * joined back to a dimension for display attributes): unconditional
    * single-task sort. The range-sort alternative would run its
    * sampling pass over the child — a full dimension scan + join — to
    * sort k rows; the plan-stats dispatch above cannot see the bound
    * because join output estimates stay scan-sized. */
  def orderedTiny(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)
}
