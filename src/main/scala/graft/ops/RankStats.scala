package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking functions over a LOW-CARDINALITY order key, without the
  * window sort.
  *
  * `rank`, `dense_rank`, `percent_rank` and `cume_dist` (unlike
  * `row_number`) depend only on the VALUE of the (partition, order)
  * tuple, never on which physical row carries it. When the order key is
  * low-cardinality (a 1–50 quantity, a status code, a date bucket), the
  * classic window plan — shuffle everything to one task per partition
  * key and sort 60M rows — computes a function whose true domain is a
  * few hundred tuples. This operator aggregates the (partition, order)
  * frequency table (map-side partials, metadata-sized shuffle), runs
  * the actual ranking arithmetic on that tiny relation, and
  * broadcast-joins the four results back to the fact: the fact is
  * scanned once and never shuffled, which is also exactly the shape
  * that scales to a 1000-executor cluster (the classic plan caps at one
  * task per partition-key at ANY cluster size).
  *
  * Exactness: rank = 1 + Σ counts of strictly-smaller keys, dense_rank
  * = index in the sorted distinct list, cume_dist = running count /
  * total, percent_rank = (rank−1)/(n−1) (0.0 when n = 1, matching
  * Spark) — all derived from exact counts, so results are identical to
  * the window functions, including ties. NULL order keys group and sort
  * exactly as the window's NULLS FIRST ascending default (`<=>` join
  * keys keep them matched). NaN order keys are rejected loudly — NaN
  * breaks equality-join-vs-sort consistency.
  *
  * Scale guard, two stages: (1) a cheap limited probe
  * (`approx_count_distinct` over the first ~500K rows) skips the
  * rewrite when the key looks high-cardinality — biased on sorted
  * data, which only costs a wasted aggregate below; (2) the exact
  * frequency-table count: above `cap` distinct tuples the classic
  * window runs instead (correct at any cardinality, just not
  * rewritten). Both regimes produce identical results (spec-pinned).
  *
  * Reference analogue: the reference ships ranking windows to its
  * vectorized engine whole (pg_lake_engine — DuckDB's windowing also
  * sorts); this rewrite is where the Spark-first design can beat it.
  */
object RankStats {

  /** `df` + `rnk` (int), `drnk` (int), `prnk` (double), `cdist`
    * (double) for `rank/dense_rank/percent_rank/cume_dist OVER
    * (PARTITION BY partCol ORDER BY orderCols ASC)`. */
  def lowCardRanks(df: DataFrame, partCol: String,
      orderCols: Seq[String], cap: Int = 100000): DataFrame = {
    require(orderCols.nonEmpty)
    val spark = df.sparkSession
    val keys = (partCol +: orderCols).map(col)
    def classic: DataFrame = {
      val w = Window.partitionBy(col(partCol))
        .orderBy(orderCols.map(col): _*)
      df.withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("prnk", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
    }
    // size dispatch: below the limit the classic window's single
    // sub-second sort beats the rewrite's fixed probe/agg/join jobs
    // (sf0.1: 0.7 vs 1.1 s); above it the serial window is the
    // low-cardinality skew failure mode (sf10: 8.1 → 3.2 s, and the
    // classic plan caps at one task per partition key at any cluster size)
    import SizeDispatch.{RankStatsSize, above, planBytes}
    if (!above(RankStatsSize, spark, planBytes(df))) return classic
    // stage-1 probe: a few row groups, not a full scan
    val probed = df.select(keys: _*).limit(500000)
      .agg(approx_count_distinct(struct(keys: _*))).head().getLong(0)
    if (probed > cap) return classic
    val w = Window.partitionBy(col(partCol))
      .orderBy(orderCols.map(c => col(c).asc): _*)
    val wp = Window.partitionBy(col(partCol))
    val stats = df.groupBy(keys: _*).agg(count(lit(1)).as("_n"))
      .withColumn("_cum",
        sum(col("_n")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_tot", sum(col("_n")).over(wp))
      .withColumn("rnk", (col("_cum") - col("_n") + 1).cast("int"))
      .withColumn("drnk", row_number().over(w))
      .withColumn("prnk", when(col("_tot") === 1, 0.0)
        .otherwise((col("_cum") - col("_n")) / (col("_tot") - 1)))
      .withColumn("cdist", col("_cum") / col("_tot"))
      .select((keys :+ col("rnk") :+ col("drnk") :+ col("prnk") :+
        col("cdist")): _*)
    // stage-2 exact guard + driver-side landing: the stats relation is
    // ≤ cap+1 rows by construction of the limit, computed in ONE job
    // (scan → tiny-shuffle agg → metadata-sized window) — no persist to
    // leak, and re-entering as a local relation gives the broadcast
    // join fresh attribute ids (no self-join ambiguity with `df`)
    val kn = partCol +: orderCols
    val statsLocal = stats.limit(cap + 1).collect()
    if (statsLocal.length > cap) return classic
    val dts = kn.map(c => df.schema(c).dataType)
    orderCols.foreach { c =>
      val i = kn.indexOf(c)
      val dt = dts(i)
      if (dt == org.apache.spark.sql.types.DoubleType ||
          dt == org.apache.spark.sql.types.FloatType)
        require(!statsLocal.exists(r => !r.isNullAt(i) &&
            java.lang.Double.isNaN(r.getAs[Number](i).doubleValue())),
          s"RankStats: NaN in order column $c — NaN sorts above every " +
            "value but never equality-joins; use the classic window")
    }
    val statsDf = spark.createDataFrame(
      java.util.Arrays.asList(statsLocal: _*), stats.schema)
    val renamed = statsDf.select(
      (kn.map(c => col(c).as("_k_" + c)) ++
        Seq(col("rnk"), col("drnk"), col("prnk"), col("cdist"))): _*)
    // null-safe equality keeps NULL order/partition keys matched to
    // their own frequency row, mirroring the window's null grouping
    val cond = kn.map(c => col(c) <=> col("_k_" + c)).reduce(_ && _)
    df.join(broadcast(renamed), cond)
      .drop(kn.map("_k_" + _): _*)
  }
}
