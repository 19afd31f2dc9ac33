package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Running aggregates over window partitions too large for one task.
  *
  * `sum(x) OVER (PARTITION BY p ORDER BY o ROWS UNBOUNDED PRECEDING)`
  * plans as ONE sort task per distinct `p` — with a low-cardinality
  * partition key (3 return flags, one tenant, one global sequence) a
  * 100 TB table funnels into a handful of tasks while the cluster
  * idles. This is the distributed two-phase prefix sum instead, the
  * whole-column generalization of [[TextPrep.packSequences]]'s layout
  * pass:
  *
  *  1. range-shuffle rows by (p, o) — order-respecting blocks, sized
  *     by Spark's range sampler, `numRanges` wide;
  *  2. per (p, block) local running sum — thousands of small sorted
  *     groups, every core busy;
  *  3. per-(p, block) totals (a metadata-sized relation: one row per
  *     block per partition key it touches) windowed into block start
  *     offsets — the only serial step, over block COUNTS not rows;
  *  4. output = local running + block offset, one keyed join.
  *
  * Exactness: identical to the single-task window whenever `orderCols`
  * is a total order within `p` (ties that straddle a block boundary
  * get an arbitrary tie order, exactly as a ROWS frame does anyway)
  * and the aggregate is associative with deterministic addition —
  * integer/decimal sums and counts are bit-exact; float sums differ by
  * reassociation like any parallel float aggregate.
  */
object BigWindow {

  /** Blocked-layout relations pinned by [[runningSum]] — released by
    * [[releaseCaches]] after the result is consumed (same contract as
    * [[Dedup.releaseCaches]]). */
  private val liveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def trackedCache(df: DataFrame): DataFrame = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    liveCaches.add(c)
    c
  }

  private val liveRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.rdd.RDD[_]]()

  /** Register an RDD persisted by a layout operator (the FrameStats
    * exec's sorted child) for release with [[releaseCaches]]. */
  def trackRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    liveRdds.add(rdd)

  private val liveBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

  /** Register a per-execution broadcast built by a layout operator (the
    * FrameStats seeds) for destruction with [[releaseCaches]]. Safe to
    * destroy: the owning exec re-creates its broadcast on every
    * execution, so a released DataFrame re-executed later just builds a
    * fresh one. */
  def trackBroadcast(b: org.apache.spark.broadcast.Broadcast[_]): Unit =
    liveBroadcasts.add(b)

  /** Unpersist every layout relation pinned by [[runningSum]] and
    * friends. CONTRACT: call only after the consuming query's result is
    * MATERIALIZED, and never re-execute a DataFrame built before the
    * release — for the union-carry layouts that is not merely slow but
    * silently WRONG: the cache pins one physical `_blk` assignment
    * across the layout's several consumers, and a re-execution after
    * release re-derives block ids per consumer (measured row drift).
    * Every harness (Bench, Verify, the diff tools) re-constructs
    * queries after releasing. */
  def releaseCaches(): Unit = {
    // best-effort: a queued pin whose SparkContext has since stopped
    // (suite teardown) has nothing left to free — skip it instead of
    // failing the release of the live ones
    var df = liveCaches.poll()
    while (df != null) {
      if (!df.sparkSession.sparkContext.isStopped)
        df.unpersist(blocking = false)
      df = liveCaches.poll()
    }
    var r = liveRdds.poll()
    while (r != null) {
      if (!r.sparkContext.isStopped) r.unpersist(blocking = false)
      r = liveRdds.poll()
    }
    var b = liveBroadcasts.poll()
    while (b != null) {
      try b.destroy()
      catch { case _: org.apache.spark.SparkException => () }
      b = liveBroadcasts.poll()
    }
  }

  /** Inner join on (partCol, _blk) with NULL-SAFE key equality: a NULL
    * partition key is its own window group (the windows and groupBys in
    * these layouts all keep it), and the plain USING join the first cut
    * used silently dropped those rows — a divergence from both the
    * classic window and the FrameStats operator. The right side's keys
    * are renamed first, which also sidesteps derived-self-join column
    * ambiguity (every metadata side here derives from `blocked`). */
  private def joinKeyBlk(left: DataFrame, right: DataFrame,
      partCol: String, bcast: Boolean): DataFrame = {
    val r0 = right.withColumnRenamed(partCol, "_jp")
      .withColumnRenamed("_blk", "_jb")
    val r = if (bcast) org.apache.spark.sql.functions.broadcast(r0) else r0
    left.join(r, col("_blk") === col("_jb") &&
        col(partCol) <=> col("_jp"))
      .drop("_jp", "_jb")
  }

  /** `df` + column `out` = running sum of `valueCol` over
    * (PARTITION BY partCol ORDER BY orderCols ROWS UNBOUNDED
    * PRECEDING), computed `numRanges` wide. */
  def runningSum(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, out: String, numRanges: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val spark = df.sparkSession
    val n = if (numRanges > 0) numRanges
      else spark.sessionState.conf.numShufflePartitions
    val rangeCols = (partCol +: orderCols).map(col)
    // The block id is the range-shuffle partition id, read AFTER the
    // exchange — and the local and offsets branches below are two
    // consumers of it. Left lazy, AQE may coalesce each consumer's
    // reads differently (a window vs a tiny aggregate) and the ids
    // diverge between branches (measured: one-row drift). Persisting
    // pins ONE physical layout both branches read — the "checkpoint
    // the layout" step every distributed sort-based pass pays; callers
    // release it via releaseCaches() once the result is materialized.
    val blocked = trackedCache(df
      .repartitionByRange(n, rangeCols: _*)
      .withColumn("_blk", spark_partition_id()))
    // phase 2: local running sum inside each (partition key, block)
    // group — the groups re-shuffle by hash, but there are ~n of them
    // per partition key, so the sort work is spread across the cluster
    val wLocal = Window.partitionBy(col(partCol), col("_blk"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = blocked.withColumn("_run_local",
      sum(col(valueCol)).over(wLocal))
    // phase 3: block totals → start offset of each block within its
    // partition key. One row per (p, block) pair that exists — the
    // windowed sort here runs over block counts, not row counts.
    val wOff = Window.partitionBy(col(partCol)).orderBy(col("_blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy(col(partCol), col("_blk"))
      .agg(sum(col(valueCol)).as("_bt"))
      .withColumn("_boff", sum(col("_bt")).over(wOff))
      .drop("_bt")
    // phase 4: add the offset back. A null offset means no preceding
    // block carried a non-null value → the local prefix IS the answer
    // (possibly null, matching the classic window's all-null prefix);
    // a non-null offset with a null local prefix means this row's
    // block hasn't seen a non-null yet → the offset alone.
    joinKeyBlk(local, offsets, partCol, bcast = false)
      .withColumn(out,
        when(col("_boff").isNull, col("_run_local"))
          .otherwise(col("_boff") + coalesce(col("_run_local"), lit(0))))
      .drop("_blk", "_run_local", "_boff")
  }

  /** Running count (1-based row index) over the same distributed
    * shape — `row_number()` for partitions one task cannot sort. */
  def runningCount(df: DataFrame, partCol: String, orderCols: Seq[String],
      out: String, numRanges: Int = 0): DataFrame =
    runningSum(df.withColumn("_one", lit(1L)), partCol, orderCols,
      "_one", out, numRanges).drop("_one")

  /** `df` + column `out` = `lag(valueCol, offset)` over (PARTITION BY
    * partCol ORDER BY orderCols) — the offset-function analogue of
    * [[trailingSum]], same carry-rows layout: each block re-sends its
    * last `offset` rows to the key's next occupied block, lag runs per
    * (key, block) group in parallel, carries drop from the output.
    * Falls back to the classic serial window when a middle slice is
    * shorter than `offset` (same sufficiency rule). */
  def lagValue(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, out: String, offset: Int = 1,
      numRanges: Int = 0): DataFrame =
    carried(df, partCol, orderCols, offset + 1, numRanges) {
      (aug, wOrdered) =>
        aug.withColumn(out, lag(col(valueCol), offset).over(wOrdered))
    }.getOrElse {
      val w = Window.partitionBy(col(partCol))
        .orderBy(orderCols.map(col): _*)
      df.withColumn(out, lag(col(valueCol), offset).over(w))
    }

  /** `lead(valueCol, offset)` distributed: `lead` over an ascending
    * order IS `lag` over the descending one, so this is [[lagValue]]
    * with the carry direction reversed (each group re-sends its FIRST
    * `offset` rows to the key's PREVIOUS occupied block). */
  def leadValue(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, out: String, offset: Int = 1,
      numRanges: Int = 0): DataFrame =
    carried(df, partCol, orderCols, offset + 1, numRanges,
        reverse = true) { (aug, wOrderedDesc) =>
      aug.withColumn(out, lag(col(valueCol), offset).over(wOrderedDesc))
    }.getOrElse {
      val w = Window.partitionBy(col(partCol))
        .orderBy(orderCols.map(col): _*)
      df.withColumn(out, lead(col(valueCol), offset).over(w))
    }

  /** `df` + column `out` = sum of `valueCol` over (PARTITION BY partCol
    * ORDER BY orderCols ROWS BETWEEN `frame`−1 PRECEDING AND CURRENT
    * ROW), distributed by the carry-rows trick: each block re-sends its
    * LAST `frame`−1 rows to the next block as phantom carry rows, the
    * bounded frame runs per (key, block) group in parallel, and carry
    * rows are dropped from the output. A row's frame can only reach
    * into the immediately previous block when every block holds at
    * least `frame`−1 rows of its keys — if the layout comes up shorter
    * (tiny inputs, extreme skew), fall back to the classic window
    * rather than emit silently wrong sums. */
  def trailingSum(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, out: String, frame: Int,
      numRanges: Int = 0): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    if (frame == 1)
      return df.withColumn(out, col(valueCol))
    carried(df, partCol, orderCols, frame, numRanges) { (aug, wOrdered) =>
      aug.withColumn(out,
        sum(col(valueCol)).over(wOrdered.rowsBetween(-(frame - 1), 0)))
    }.getOrElse {
      val w = Window.partitionBy(col(partCol))
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(-(frame - 1), 0)
      df.withColumn(out, sum(col(valueCol)).over(w))
    }
  }

  /** All three frame families of the classic running-stats shape —
    * trailing sum (ROWS `trail`−1 PRECEDING..CURRENT), running sum
    * (UNBOUNDED PRECEDING..CURRENT) and forward sum+count (CURRENT..
    * `fwd` FOLLOWING) — over ONE shared range-blocked layout, instead of
    * three separate distributed passes (or one classic window that sorts
    * an entire low-cardinality partition in a single task).
    *
    * Layout: range-shuffle by (partCol, orderCols); forward carries =
    * each (key, block) group's last `trail`−1 rows re-sent to the key's
    * next occupied block (they fill the trailing frames of the next
    * block's first rows); backward carries = each group's first `fwd`
    * rows re-sent to the previous occupied block (they fill the forward
    * frames of that block's last rows). Range partitioning on the full
    * (partCol, orderCols) tuple guarantees forward carries sort before
    * all real rows of the target block and backward carries after them,
    * so carries occupy exactly the frame positions the true neighboring
    * rows would. One window pass over the augmented frame computes all
    * locals (the running prefix simply skips carries via a conditional
    * sum); block-start offsets (a metadata-sized per-(key, block)
    * relation) then lift the local prefix to the global running sum.
    *
    * Falls back to the classic serial window when a middle slice is
    * shorter than max(`trail`−1, `fwd`) rows of its key (its neighbor
    * would need carries from two blocks away). Exact for sums whose
    * addition is associative in practice (integers, integer-valued
    * doubles, decimals); arbitrary float sums reassociate like any
    * parallel aggregate.
    *
    * Output: `df` + columns `_trail`, `_run`, `_fsum`, `_fcnt`.
    *
    * Size-adaptive ([[SizeDispatch.BigWindowSize]]): below the limit the
    * classic single-task-per-key window wins — the layout's fixed job
    * cost (range sampling, cache, sufficiency count) exceeds what
    * distribution saves on sub-second sorts (sf0.1: classic 0.38 s vs
    * layout 2.9 s) — while above it the serial sort is the
    * low-cardinality window-skew failure mode (sf10: 12.9 → 9.9 s, and at
    * cluster scale the classic plan caps at one executor per distinct
    * key). One declaration, right regime at every scale. */
  def frameStats(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, trail: Int, fwd: Int,
      numRanges: Int = 0): DataFrame = {
    require(trail >= 1 && fwd >= 0, s"bad frames trail=$trail fwd=$fwd")
    val spark = df.sparkSession
    def classic: DataFrame = {
      val w = Window.partitionBy(col(partCol))
        .orderBy(orderCols.map(col): _*)
      df.withColumn("_trail",
          sum(col(valueCol)).over(w.rowsBetween(-(trail - 1), 0)))
        .withColumn("_run", sum(col(valueCol))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("_fsum",
          sum(col(valueCol)).over(w.rowsBetween(0, fwd)))
        // count(valueCol), not count(*): _fsum/_fcnt is used as the
        // frame avg, and avg() skips NULL values — counting null-valued
        // rows would deviate on a nullable value column
        .withColumn("_fcnt",
          count(col(valueCol)).over(w.rowsBetween(0, fwd)))
    }
    import SizeDispatch.{BigWindowSize, FrameStatsKeys, above, arm, planBytes}
    val route = arm(BigWindowSize, spark, planBytes(df))
    if (route == BigWindowSize.small) return classic
    // single-exchange custom operator where the types allow it (double
    // value, string/integral key): one range shuffle + one in-partition
    // sort vs this layout's four exchanges / three sorts — and its
    // declared output partitioning lets a downstream ORDER BY on an
    // orderCols prefix skip the final exchange too. Key-cardinality
    // guard ([[SizeDispatch.FrameStatsKeys]]): its seed metadata is
    // O(partitions × keys) ON THE DRIVER, so high-cardinality keys route
    // away — which is also the regime where the classic window has NO
    // skew problem (many keys parallelize on their own) and is the right
    // plan anyway.
    if (route != "layout" &&
        graft.plans.FrameStats.supports(df, partCol, valueCol)) {
      val maxKeys = FrameStatsKeys.limit(spark).toLong
      // two-stage probe. Stage 1 (nearly free): a limited scan's
      // distinct count is a LOWER bound on the true count, so exceeding
      // maxKeys here is a sound rejection. Stage 2 (one full scan of
      // the key column, memoized as a statistic per analyzed plan —
      // CardStats): the limited probe is BIASED LOW on key-sorted
      // data — a pass must be confirmed unbiased, else a
      // high-cardinality sorted input would sail past the guard and hit
      // the exec's loud backstop (or worse, a giant driver collect).
      // A stale memo entry can only mis-route, never mis-answer (the
      // exec's in-task backstop stays loud).
      // Memo-first (the default since r10): a repeated plan re-routes
      // from the cached unbiased statistic with NO scan at all — the
      // cheap probe only exists to dodge the full scan on a plan the
      // memo has never seen, so a hit makes both probes dead weight
      // (~0.3 s/rep measured on q_win_frame_rows at sf10).
      val probed = CardStats.peek(df, partCol).getOrElse {
        val cheap = df.select(col(partCol)).limit(500000)
          .agg(approx_count_distinct(col(partCol))).head().getLong(0)
        if (cheap > maxKeys) cheap // sound rejection; skip the full scan
        else CardStats.approxDistinct(df, partCol)
      }
      if (above(FrameStatsKeys, spark, probed)) return classic
      return graft.plans.FrameStats.frameStats(df, partCol, orderCols,
        valueCol, trail, fwd)
    }
    val n = if (numRanges > 0) numRanges
      else spark.sessionState.conf.numShufflePartitions
    // range-block by the ORDER columns alone (not partCol-first): the
    // tuple is a total order, so each key's rows still land in global
    // order across ascending blocks (a block holds an orderCols
    // interval; within it each key's subsequence is contiguous in the
    // key's own order) and the chain/carry algebra is unchanged. With
    // partCol leading, each key's rows concentrate in a few blocks and
    // the per-(key, block) window sort degrades toward the serial skew
    // this layout exists to avoid; orderCols-only ranging spreads every
    // key across all blocks (interleaved A/B at sf10: 6.27 vs 6.95 and
    // 9.57 vs 13.12 s best-of — consistently faster, FrameStatsDiff
    // 600K-row real-data diff exact)
    val rangeCols = orderCols.map(col)
    val blocked = trackedCache(df
      .repartitionByRange(n, rangeCols: _*)
      .withColumn("_blk", spark_partition_id()))
    val wChain = Window.partitionBy(col(partCol)).orderBy(col("_blk"))
    val chain = blocked.groupBy(col(partCol), col("_blk"))
      .agg(count(lit(1)).as("_c"), sum(col(valueCol)).as("_bt"))
      .withColumn("_next", lead(col("_blk"), 1).over(wChain))
      .withColumn("_prev", lag(col("_blk"), 1).over(wChain))
      .withColumn("_boff", sum(col("_bt")).over(
        wChain.rowsBetween(Window.unboundedPreceding, -1)))
    val need = math.max(trail - 1, fwd)
    val shortMiddles = chain
      .filter(col("_prev").isNotNull && col("_next").isNotNull &&
        col("_c") < need)
      .count()
    // classic fallback: extreme skew — correctness never depends on
    // the layout coming up sufficient
    if (shortMiddles > 0) return classic
    // ONE ascending row_number pass extracts both carry sets: a row is
    // in the group's head (first `fwd` rows → backward carry) by _rn,
    // and in its tail (last `trail`−1 rows → forward carry) by
    // _rn > _c − (trail−1) with the group size _c broadcast from the
    // metadata-sized chain — a second descending window sort over the
    // full relation just to number from the end would double the
    // heaviest pass.
    val wFromStart = Window.partitionBy(col(partCol), col("_blk"))
      .orderBy(orderCols.map(c => col(c).asc): _*)
    val numbered = joinKeyBlk(
      blocked.withColumn("_rn", row_number().over(wFromStart)),
      chain.select(col(partCol), col("_blk"), col("_c"),
        col("_next"), col("_prev")), partCol, bcast = true)
    // a row can be head carry, tail carry, both, or neither — explode a
    // per-row target-block array so the numbering pass feeds ONE union
    // branch (two filter branches would execute the window sort twice)
    val targets = filter(array(
      when(col("_rn") <= fwd, col("_prev")),
      when(col("_rn") > col("_c") - (trail - 1), col("_next"))),
      t => t.isNotNull)
    val carriesDf = numbered
      .withColumn("_tgt", explode(targets))
      .withColumn("_blk", col("_tgt"))
      .drop("_rn", "_c", "_next", "_prev", "_tgt")
      .withColumn("_carry", lit(true))
    val aug = blocked.withColumn("_carry", lit(false))
      .unionByName(carriesDf)
    val wOrdered = Window.partitionBy(col(partCol), col("_blk"))
      .orderBy(orderCols.map(c => col(c).asc): _*)
    val local = aug
      .withColumn("_trail",
        sum(col(valueCol)).over(wOrdered.rowsBetween(-(trail - 1), 0)))
      .withColumn("_runl",
        sum(when(!col("_carry"), col(valueCol)))
          .over(wOrdered.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_fsum",
        sum(col(valueCol)).over(wOrdered.rowsBetween(0, fwd)))
      // count(valueCol) to match avg()'s null-skip (carries are real
      // rows of the next block, so the same rule applies to them)
      .withColumn("_fcnt",
        count(col(valueCol)).over(wOrdered.rowsBetween(0, fwd)))
      .filter(!col("_carry"))
    joinKeyBlk(local,
        chain.select(col(partCol), col("_blk"), col("_boff")),
        partCol, bcast = false)
      .withColumn("_run",
        when(col("_boff").isNull, col("_runl"))
          .otherwise(col("_boff") + coalesce(col("_runl"), lit(0))))
      .drop("_blk", "_carry", "_runl", "_boff")
  }

  /** Shared carry-rows layout for bounded-lookback window shapes: range-
    * block the rows, re-send each (key, block) group's last `frame`−1
    * rows to the key's NEXT OCCUPIED block (a range boundary can leave
    * a block without rows of a key — a blind `_blk + 1` would strand
    * the carry in an empty group), run `body` with the augmented frame
    * and the per-(key, block) ordered window spec, drop the carries.
    *
    * Returns None — caller falls back to the classic serial window —
    * when a MIDDLE slice of a key (one with both a predecessor and a
    * successor) is shorter than `frame`−1 rows: its successor would
    * need carries from TWO blocks back. First slices are fine (they
    * carry the key's ENTIRE history so far); last slices feed nobody.
    * The sufficiency test is metadata-sized (per-key block chain). */
  private def carried(df: DataFrame, partCol: String,
      orderCols: Seq[String], frame: Int, numRanges: Int,
      reverse: Boolean = false)(
      body: (DataFrame,
        org.apache.spark.sql.expressions.WindowSpec) => DataFrame)
      : Option[DataFrame] = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val spark = df.sparkSession
    val n = if (numRanges > 0) numRanges
      else spark.sessionState.conf.numShufflePartitions
    val rangeCols = (partCol +: orderCols).map(col)
    val blocked = trackedCache(df
      .repartitionByRange(n, rangeCols: _*)
      .withColumn("_blk", spark_partition_id()))
    val wChain = Window.partitionBy(col(partCol)).orderBy(col("_blk"))
    val chain = blocked.groupBy(col(partCol), col("_blk"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_next", lead(col("_blk"), 1).over(wChain))
      .withColumn("_prev", lag(col("_blk"), 1).over(wChain))
    val shortMiddles = chain
      .filter(col("_prev").isNotNull && col("_next").isNotNull &&
        col("_c") < frame - 1)
      .count()
    if (shortMiddles > 0) return None
    // carry rows = each group's tail in the EFFECTIVE order (desc when
    // reverse), sent to the key's effective-next block (= previous
    // occupied block when reverse)
    val wFromEnd = Window.partitionBy(col(partCol), col("_blk"))
      .orderBy(orderCols.map(c =>
        if (reverse) col(c).asc else col(c).desc): _*)
    val target = if (reverse) "_prev" else "_next"
    val carry = joinKeyBlk(
        blocked
          .withColumn("_rne", row_number().over(wFromEnd))
          .filter(col("_rne") <= frame - 1)
          .drop("_rne"),
        chain.filter(col(target).isNotNull)
          .select(col(partCol), col("_blk"), col(target)),
        partCol, bcast = false)
      .withColumn("_blk", col(target)).drop(target)
      .withColumn("_carry", lit(true))
    val aug = blocked.withColumn("_carry", lit(false))
      .unionByName(carry)
    val wOrdered = Window.partitionBy(col(partCol), col("_blk"))
      .orderBy(orderCols.map(c =>
        if (reverse) col(c).desc else col(c).asc): _*)
    Some(body(aug, wOrdered)
      .filter(!col("_carry"))
      .drop("_blk", "_carry"))
  }
}
