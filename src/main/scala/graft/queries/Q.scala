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

  /** Deterministic global sort for gate outputs, size-dispatched
    * ([[graft.ops.SizeDispatch.Ordered]], on the analyzed plan's leaf
    * bytes): report-sized results shuffle to ONE partition and sort
    * in-partition — skipping the RangePartitioner SAMPLING JOB, which
    * re-executes every narrow operator above the last shuffle once more
    * per query (the whole Window chain for the window gates; measured at
    * sf0.1 in commit 70a53c4: sessionize 0.384→0.278 s, rank 0.410→0.313
    * s) — while bigger inputs keep the scale-correct parallel range sort
    * (measured at sf10: the single-task sort of the 5.4M-row rank output
    * is 2.5× WORSE than paying the sampling pass — 8.29 vs 3.36 s). Rows
    * are identical either way; only the physical sort layout dispatches.
    * Leaf bytes rather than the plan estimate, because join-output
    * estimates inflate past the limit for report-sized results sitting
    * above joins (q_join_inner's 15k-row output). Decade check: sf0.1
    * leaves are ≤ 11 MB (every call site sorts in one task); sf10 facts are
    * 98 MB-1.1 GB (only q_sim_cosine's 43 MB embeddings leaf flips, and
    * its output is ~8 MB). Every shipped call site
    * narrows its scans (aggregates/joins/windows; nothing explodes);
    * callers introducing a row-exploding operator above a small scan must
    * use orderBy directly. */
  def ordered(df: DataFrame, cols: Column*): DataFrame = {
    import graft.ops.SizeDispatch.{Ordered, above, leafBytes}
    if (above(Ordered, df.sparkSession, leafBytes(df))) df.orderBy(cols: _*)
    else df.repartition(1).sortWithinPartitions(cols: _*)
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
