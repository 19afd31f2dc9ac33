package graft.queries

import Q._

/** TPC-DS-shaped wave. The reference ships the full TPC-DS harness
  * (pg_lake_benchmark/README.md:25-30; src/tpcds.c); the fixture schema
  * has no store/web/catalog split, so the distinctive TPC-DS query
  * *shapes* are adapted: channel-union rollups (Q5/Q77), same-store
  * year-over-year deltas (Q75), INTERSECT repeat-customer analysis
  * (Q38), CASE-bucketed scans (Q9), rank-within-category top-N,
  * moving-window averages, and ntile deciles. Same SQL to both engines.
  */
object QTpcds {

  private def sql(q: String): QueryFn = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  // Spark-side plan for qds_yoy: Spark inlines (does not materialize)
  // WITH-CTEs, so the oracle's self-join form would execute the 4-table
  // join + aggregation twice. One pass + lag() over the year sequence is
  // semantically identical — lag pairs adjacent EXISTING years, so it
  // must be guarded to consecutive years exactly like the yr = yr+1 join
  // — and halves the heavy subtree (measured 1.76 s → ~1.0 s at sf0.1).
  private val qYoySpark: QueryFn = { (s, dir) =>
    import org.apache.spark.sql.functions._
    import graft.ops.JoinOpt.withinReduceBound
    import graft.plans.ProbeAgg
    import graft.plans.ProbeAgg.Probe
    import graft.plans.LowCardAgg.{ProductSum, Term}
    def t(n: String) = graft.Tables.load(s, dir, n)
    val o = t("orders")
    val c = t("customer")
    // years pruned as a date range exactly like the SQL fallback below:
    // only 1996..1999 and the lag partner 1995 can reach the output
    val oPruned = o
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
    // under the bucketed layout the co-located lineitem⋈orders join
    // (the SQL branch below) is strictly better than the kernel: yoy's
    // probe map is ~80% of orders (12M entries at sf10 — the largest
    // map any declaration builds), and the zero-exchange join never
    // materializes it (r7: bucketed 2.40 s)
    val bucketed = graft.Tables.isOverlaid(dir, "lineitem") &&
      graft.Tables.isOverlaid(dir, "orders")
    if (!bucketed &&
        withinReduceBound(o.select("o_orderkey", "o_custkey")) &&
        withinReduceBound(c.select("c_custkey", "c_nationkey"))) {
      // ProbeAgg kernel: probe VALUE = nationkey·10⁴ + order year, so
      // the (nation, year) revenue matrix (175 groups) accumulates in
      // the fact's scan pass — sf10: 4.92 → 0.96 s (BASELINE round 8
      // ProbeAgg ledger);
      // the lag window then runs on 175 rows
      val cN = c.join(broadcast(t("nation")
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_nationkey")
      val oc = oPruned.join(broadcast(cN),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          (col("n_nationkey").cast("long") * 10000L +
            year(col("o_orderdate"))).as("combo"))
      val finest = ProbeAgg.probeSums(t("lineitem"),
          Seq(Probe("l_orderkey", oc, "o_orderkey", "combo")),
          Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
            Term("l_discount", mul = -1.0, add = 1.0)))),
          groupByProbe = Some(0))
      val yearly = finest
        .join(broadcast(t("nation").select("n_nationkey", "n_name")),
          (col("_gkey") / 10000L).cast("int") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          (col("_gkey") % 10000L).cast("int").as("yr"), col("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("nation").orderBy("yr")
      yearly
        .withColumn("prev_raw", lag(col("rev"), 1).over(w))
        .withColumn("prev_yr", lag(col("yr"), 1).over(w))
        .filter(col("prev_yr") === col("yr") - 1 &&
          col("yr").between(1996, 1999))
        .select(col("nation"), col("yr"),
          round(col("rev"), 2).as("cur_rev"),
          round(col("prev_raw"), 2).as("prev_rev"),
          round(col("rev") / col("prev_raw"), 4).as("ratio"))
        // <= |nation| x 4 years rows by construction: one-task sort,
        // no sampling pass (r18, q10 dispatch class)
        .transform(orderedTiny(_, col("nation"), col("yr")))
    } else if (!bucketed &&
        // analyzed-plan stats (r18): the probe input is a bare table
        // scan, where the size visitor's estimate equals the optimized
        // plan's and the per-construction optimizer run is saved — the
        // last production-path optimizedPlan.stats probe
        t("lineitem").queryExecution.analyzed.stats.sizeInBytes >
          BigInt(s.conf.get("spark.graft.yoy.aggBelowJoinBytes",
            (4L << 30).toString).toLong)) {
      // beyond the probe-map bound, no co-located layout, and a fact
      // too big for the shuffle to stay in memory (the sf100 headline
      // regime — the threshold is the scan-stats size, default 4 GiB):
      // aggregate BELOW the join. Summing revenue per orderkey first
      // rides the map-side partial aggregation (lineitem rows for an
      // order co-locate in files, so ~4 items collapse to 1 before the
      // exchange) — the big shuffle carries ~N_orders narrow (key, rev)
      // rows instead of ~4N wide fact rows. Measured sf100 solo:
      // 106.5 → 45.6 s (tools/QueryOne). The size dial keeps smaller
      // fixtures on the join form the oracle gate exercises; in
      // practice the kernel arm owns everything within the probe-map
      // bound anyway (sf10 included — BASELINE "Round-10 follow-up:
      // the qds_yoy sf100 arm"). Sum-of-sums
      // re-associates float addition, so a rounded cent can move where
      // a .xx5 boundary flips (one group at sf0.01; PlanSpec pins
      // cent-exactness — the finest-first-rollup deviation class); the
      // oracle gate always runs the kernel arm, which the driver
      // hash-matches.
      yoyAggBelowJoin(s, dir)
    } else {
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT nation, yr, round(rev, 2) AS cur_rev,
          |  round(prev_raw, 2) AS prev_rev,
          |  round(rev / prev_raw, 4) AS ratio
          |FROM (
          |  SELECT nation, yr, rev,
          |    lag(rev) OVER (PARTITION BY nation ORDER BY yr) AS prev_raw,
          |    lag(yr) OVER (PARTITION BY nation ORDER BY yr) AS prev_yr
          |  FROM (
          |    SELECT n_name AS nation,
          |      CAST(extract(year FROM o_orderdate) AS INT) AS yr,
          |      sum(l_extendedprice * (1 - l_discount)) AS rev
          |    FROM lineitem
          |    JOIN orders ON o_orderkey = l_orderkey
          |    JOIN customer ON c_custkey = o_custkey
          |    JOIN nation ON c_nationkey = n_nationkey
          |    -- derived from the outer guard: only yr 1996..1999 and its
          |    -- lag partner yr-1 can reach the output, so years outside
          |    -- [1995, 1999] cannot affect any surviving group — and as a
          |    -- date range (unlike extract()) it prunes the orders scan
          |    -- and shrinks the fact join ~60% before the shuffle
          |    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |      AND o_orderdate < TIMESTAMP '2000-01-01'
          |    GROUP BY n_name, CAST(extract(year FROM o_orderdate) AS INT)))
          |WHERE prev_yr = yr - 1 AND yr BETWEEN 1996 AND 1999
          |ORDER BY nation, yr""".stripMargin)
    }
  }

  /** The agg-below-join yoy arm (see dispatch above): per-orderkey
    * revenue partials → join the date-pruned orders→customer→nation
    * mapping → re-aggregate to (nation, yr) → lag window on ~175 rows.
    * Exposed for the PlanSpec equivalence pin. */
  private[graft] def yoyAggBelowJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    def t(n: String) = graft.Tables.load(s, dir, n)
    val oPruned = t("orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
    val liRev = t("lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("x"))
      .groupBy("l_orderkey").agg(sum("x").as("rev0"))
    // both big joins are HINTED sort-merge: this arm only dispatches in
    // the disk-bound regime, where an AQE shuffled-hash conversion can
    // fail FATALLY under concurrent-task memory pressure ("can't acquire
    // N bytes to build hash relation" — observed in-suite at sf100);
    // SMJ sorts spill and never abort. Solo cost re-measured after the
    // hint (BASELINE round-11 note).
    val oc = oPruned
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("yr"))
      .join(t("customer").select("c_custkey", "c_nationkey").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t("nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("yr"), col("n_name").as("nation"))
    val yearly = liRev.join(oc.hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("nation", "yr").agg(sum("rev0").as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("nation").orderBy("yr")
    yearly
      .withColumn("prev_raw", lag(col("rev"), 1).over(w))
      .withColumn("prev_yr", lag(col("yr"), 1).over(w))
      .filter(col("prev_yr") === col("yr") - 1 &&
        col("yr").between(1996, 1999))
      .select(col("nation"), col("yr"),
        round(col("rev"), 2).as("cur_rev"),
        round(col("prev_raw"), 2).as("prev_rev"),
        round(col("rev") / col("prev_raw"), 4).as("ratio"))
      .orderBy("nation", "yr")
  }

  // Q5/Q77 shape: per-channel revenue union → rollup with grand total.
  // Channels are proxied by order priority classes. The FROM clause
  // leads with the FACT (lineitem ⋈ orders first, dims after):
  // BASELINE "qds_channel_rollup join order" measured both left-deep
  // orders at sf0.1/sf1/sf10 and fact-first won every scale (0.67 vs 0.93 /
  // 1.27 vs 1.71 / 4.25 vs 5.50 s median) — the dims-first build-up
  // shuffles orders on custkey AND its join output on orderkey, while
  // fact-first pays one orderkey co-shuffle and then broadcasts the
  // nation-filtered customer side (AQE keeps choosing that even with a
  // 128 MB broadcast threshold offered; see BASELINE.md). DuckDB
  // cost-reorders either text identically, so the gate stays neutral.
  private val qChannelRollup =
    """SELECT channel, nation, round(sum(revenue), 2) AS revenue,
      |  count(*) AS n_sales
      |FROM (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 'express' ELSE 'standard' END AS channel,
      |    n_name AS nation,
      |    l_extendedprice * (1 - l_discount) AS revenue
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_1','NATION_2','NATION_3'))
      |GROUP BY ROLLUP(channel, nation)
      |ORDER BY channel NULLS FIRST, nation NULLS FIRST""".stripMargin

  // Q75 shape: year-over-year delta per group via self-joined yearly aggs.
  private val qYoy =
    """WITH yearly AS (
      |  SELECT n_name AS nation,
      |    CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      |    sum(l_extendedprice * (1 - l_discount)) AS rev
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, CAST(extract(year FROM o_orderdate) AS INT))
      |SELECT cur.nation, cur.yr,
      |  round(cur.rev, 2) AS cur_rev,
      |  round(prev.rev, 2) AS prev_rev,
      |  round(cur.rev / prev.rev, 4) AS ratio
      |FROM yearly cur JOIN yearly prev
      |  ON cur.nation = prev.nation AND cur.yr = prev.yr + 1
      |WHERE cur.yr BETWEEN 1996 AND 1999
      |ORDER BY cur.nation, cur.yr""".stripMargin

  // Q38 shape: customers active in three consecutive years (INTERSECT).
  private val qRepeatCustomers =
    """SELECT count(*) AS n_loyal FROM (
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1996
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1997
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1998)""".stripMargin

  // Q9 shape: CASE-bucketed single-scan statistics.
  private val qBucketStats =
    """SELECT
      |  count(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN 1 END) AS n_small,
      |  round(avg(CASE WHEN l_quantity BETWEEN 1 AND 10
      |    THEN l_extendedprice END), 2) AS avg_small,
      |  count(CASE WHEN l_quantity BETWEEN 11 AND 30 THEN 1 END) AS n_mid,
      |  round(avg(CASE WHEN l_quantity BETWEEN 11 AND 30
      |    THEN l_extendedprice END), 2) AS avg_mid,
      |  count(CASE WHEN l_quantity > 30 THEN 1 END) AS n_large,
      |  round(avg(CASE WHEN l_quantity > 30
      |    THEN l_extendedprice END), 2) AS avg_large
      |FROM lineitem WHERE l_returnflag <> 'R'""".stripMargin

  // top-N within category via rank() (the Q67-style shape).
  // Spark plan note: part is a 3-column dim (p_partkey, p_brand, p_type —
  // ~2M rows at sf10, well inside broadcast range) while lineitem is the
  // fact; without the hint the size estimate exceeds the 10 MB auto
  // threshold and the planner sort-merge-joins, shuffling the whole fact
  // on l_partkey. Broadcasting the pruned dim keeps the fact un-shuffled:
  // scan → broadcast probe → map-side partial agg on (brand,type) → tiny
  // exchange. Measured sf10: 1.72 → ~0.9 s. At cluster scale the same
  // call holds: a dim this size torrent-broadcasts routinely, and the
  // fact never moves. Oracle text (DuckDB cost-reorders regardless) stays
  // hint-free below.
  private val qTopPerGroupSpark: QueryFn = { (s, dir) =>
    import org.apache.spark.sql.functions._
    import graft.ops.JoinOpt.withinReduceBound
    import graft.plans.ProbeAgg
    import graft.plans.ProbeAgg.Probe
    import graft.plans.LowCardAgg.{ProductSum, Term}
    def t(n: String) = graft.Tables.load(s, dir, n)
    val partProj = t("part").select("p_partkey", "p_brand", "p_type")
    if (withinReduceBound(partProj)) {
      // ProbeAgg kernel: the (brand, type) pairs dictionary-encode into
      // the probe VALUE (a few thousand combos), so the fact probes
      // partkey→combo once and accumulates per-combo sums in the scan
      // pass; the rank window then runs on the tiny decoded result
      import org.apache.spark.sql.expressions.Window
      val pairs = t("part").select("p_brand", "p_type").distinct()
        .orderBy("p_brand", "p_type").collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getString(0), r.getString(1)) }
      val decode = s.createDataFrame(pairs.toList)
        .toDF("_gkey", "p_brand", "p_type")
      val pk = partProj
        .join(broadcast(decode.withColumnRenamed("_gkey", "combo")),
          Seq("p_brand", "p_type"))
        .select("p_partkey", "combo")
      val finest = ProbeAgg.probeSums(t("lineitem"),
          Seq(Probe("l_partkey", pk, "p_partkey", "combo")),
          Seq(ProductSum("rev", Seq(Term("l_extendedprice")))),
          groupByProbe = Some(0))
      val w = Window.partitionBy("p_brand")
        .orderBy(desc("rev"), col("p_type"))
      finest.join(broadcast(decode), Seq("_gkey"))
        .withColumn("rev_rank", rank().over(w))
        .filter(col("rev_rank") <= 3)
        .select(col("p_brand"), col("p_type"), col("rev_rank"),
          round(col("rev"), 2).as("revenue"))
        // <= |decode| rows (the collected (brand,type) dictionary this
        // arm already materializes): one-task sort (r18)
        .transform(orderedTiny(_, col("p_brand"), col("rev_rank")))
    } else {
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_brand, p_type, rev_rank, revenue FROM (
          |  SELECT /*+ BROADCAST(part) */ p_brand, p_type,
          |    rank() OVER (PARTITION BY p_brand
          |      ORDER BY sum(l_extendedprice) DESC, p_type) AS rev_rank,
          |    round(sum(l_extendedprice), 2) AS revenue
          |  FROM lineitem JOIN part ON p_partkey = l_partkey
          |  GROUP BY p_brand, p_type)
          |WHERE rev_rank <= 3
          |ORDER BY p_brand, rev_rank""".stripMargin)
    }
  }

  private val qTopPerGroup =
    """SELECT p_brand, p_type, rev_rank, revenue FROM (
      |  SELECT p_brand, p_type,
      |    rank() OVER (PARTITION BY p_brand
      |      ORDER BY sum(l_extendedprice) DESC, p_type) AS rev_rank,
      |    round(sum(l_extendedprice), 2) AS revenue
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY p_brand, p_type)
      |WHERE rev_rank <= 3
      |ORDER BY p_brand, rev_rank""".stripMargin

  // rolling 3-month moving average per nation (Q? windowed trend shape).
  // Money is integer cents end-to-end (BIGINT in, BIGINT out — no float
  // column survives to the output): a two-row window puts avg on an exact
  // half-cent, where Spark (shortest-decimal BigDecimal rounding) and
  // DuckDB (binary std::round) disagree at 2 decimals — but both round
  // integer halves away from zero, so rounding in cent space is
  // engine-identical and the driver's hash has no float surface left.
  private val qMovingAvg =
    """SELECT nation, mon,
      |  rev_cents AS revenue_cents,
      |  CAST(round(avg(rev_cents) OVER (PARTITION BY nation ORDER BY mon
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS BIGINT)
      |    AS ma3_cents
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(extract(year FROM o_orderdate) * 100
      |      + extract(month FROM o_orderdate) AS INT) AS mon,
      |    CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_cents
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_4','NATION_9')
      |  GROUP BY n_name, CAST(extract(year FROM o_orderdate) * 100
      |    + extract(month FROM o_orderdate) AS INT))
      |ORDER BY nation, mon""".stripMargin

  // customer-value deciles via ntile (Q? segmentation shape).
  private val qValueDeciles =
    """SELECT decile, count(*) AS n_customers,
      |  round(min(spend), 2) AS min_spend, round(max(spend), 2) AS max_spend
      |FROM (
      |  SELECT o_custkey, sum(o_totalprice) AS spend,
      |    ntile(10) OVER (ORDER BY sum(o_totalprice) DESC, o_custkey)
      |      AS decile
      |  FROM orders GROUP BY o_custkey)
      |GROUP BY decile ORDER BY decile""".stripMargin

  // cross-class ratio per month (Q? share-of-total shape), computed with
  // conditional aggregation rather than a self-join.
  private val qUrgentShare =
    """SELECT mon,
      |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |    THEN o_totalprice ELSE 0 END), 2) AS urgent_rev,
      |  round(sum(o_totalprice), 2) AS total_rev,
      |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN o_totalprice ELSE 0 END) / sum(o_totalprice), 5)
      |    AS urgent_share
      |FROM (
      |  SELECT CAST(extract(year FROM o_orderdate) * 100
      |      + extract(month FROM o_orderdate) AS INT) AS mon,
      |    o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |GROUP BY mon ORDER BY mon""".stripMargin

  // Q34 shape: cohort by per-period activity count with a HAVING range.
  private val qHavingRange =
    """SELECT n_orders, count(*) AS n_customers
      |FROM (
      |  SELECT o_custkey, count(*) AS n_orders
      |  FROM orders
      |  WHERE extract(year FROM o_orderdate) = 1997
      |  GROUP BY o_custkey
      |  HAVING count(*) BETWEEN 3 AND 7)
      |GROUP BY n_orders ORDER BY n_orders""".stripMargin

  // Q51 shape: cumulative revenue per channel compared via FULL OUTER
  // JOIN on the period (cents-snapped so the running sums are exact).
  private val qCumulative =
    """SELECT COALESCE(a.mon, b.mon) AS mon,
      |  CAST(COALESCE(a.cum_cents, 0) AS BIGINT) AS express_cum,
      |  CAST(COALESCE(b.cum_cents, 0) AS BIGINT) AS standard_cum
      |FROM (
      |  SELECT mon, sum(cents) OVER (ORDER BY mon
      |    ROWS UNBOUNDED PRECEDING) AS cum_cents
      |  FROM (SELECT CAST(extract(year FROM o_orderdate) * 100
      |        + extract(month FROM o_orderdate) AS INT) AS mon,
      |      sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |    FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
      |    GROUP BY 1)) a
      |FULL OUTER JOIN (
      |  SELECT mon, sum(cents) OVER (ORDER BY mon
      |    ROWS UNBOUNDED PRECEDING) AS cum_cents
      |  FROM (SELECT CAST(extract(year FROM o_orderdate) * 100
      |        + extract(month FROM o_orderdate) AS INT) AS mon,
      |      sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |    FROM orders WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |    GROUP BY 1)) b
      |ON a.mon = b.mon
      |ORDER BY mon""".stripMargin

  // Q90 shape: ratio of two scalar subqueries over disjoint time slots.
  private val qAmPmRatio =
    """SELECT round(CAST(am.cnt AS DOUBLE) / pm.cnt, 6) AS am_pm_ratio
      |FROM
      |  (SELECT count(*) AS cnt FROM events
      |   WHERE extract(hour FROM CAST(ts AS TIMESTAMP)) BETWEEN 6 AND 11)
      |    am,
      |  (SELECT count(*) AS cnt FROM events
      |   WHERE extract(hour FROM CAST(ts AS TIMESTAMP)) BETWEEN 18 AND 23)
      |    pm""".stripMargin

  private val all = Map(
    "qds_channel_rollup" -> qChannelRollup,
    "qds_yoy" -> qYoy,
    "qds_repeat_customers" -> qRepeatCustomers,
    "qds_bucket_stats" -> qBucketStats,
    "qds_top_per_group" -> qTopPerGroup,
    "qds_moving_avg" -> qMovingAvg,
    "qds_value_deciles" -> qValueDeciles,
    "qds_urgent_share" -> qUrgentShare,
    "qds_having_range" -> qHavingRange,
    "qds_cumulative" -> qCumulative,
    "qds_am_pm_ratio" -> qAmPmRatio)

  // Spark-side channel rollup, reduction-first + finest-first:
  // customer⋈nation(3 nations) resolves to a (custkey, nation) map that
  // broadcasts into orders (scale-guarded — at sf10 that is 12% of
  // customers), the (orderkey, channel, nation) result broadcasts into
  // lineitem (guarded on the orders projection bound), so the fact
  // never shuffles; then ops/Rollup aggregates ONCE at the finest
  // (channel, nation) level — 6 groups, map-side — and derives the
  // super-aggregate levels from that 6-row result instead of running
  // Expand over the 9M joined rows. Output matches the SQL ROLLUP
  // oracle exactly (channel/nation are never genuinely NULL here, so
  // dropping the grouping flags reproduces the NULL super-rows).
  private val qChannelRollupSpark: QueryFn = { (s, dir) =>
    import org.apache.spark.sql.functions._
    import graft.ops.JoinOpt.{broadcastIfBounded, withinReduceBound}
    import graft.plans.ProbeAgg
    import graft.plans.ProbeAgg.Probe
    import graft.plans.LowCardAgg.{ProductSum, Term}
    def t(n: String) = graft.Tables.load(s, dir, n)
    val nats = Seq("NATION_1", "NATION_2", "NATION_3")
    val n3 = t("nation").filter(col("n_name").isin(nats: _*))
      .select("n_nationkey", "n_name")
    val c = t("customer")
    val o = t("orders")
    val ocBound = o.select("o_orderkey", "o_orderpriority", "o_custkey")
    val cBound = c.select("c_custkey", "c_nationkey")
    val decoded =
      if (withinReduceBound(ocBound) && withinReduceBound(cBound)) {
        // ProbeAgg kernel: (channel, nation) dictionary-coded into the
        // probe VALUE (6 combos), the fact's batches probe once and
        // accumulate the 6-group sums — sf10: 3.10 → 0.90 s
        // (BASELINE round 8 ProbeAgg ledger); decode is a 6-row
        // broadcast join
        val cN = c.join(broadcast(n3),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("nation"))
        val natIdx = nats.zipWithIndex
          .map { case (nm, i) => (col("nation") === nm, i) }
          .foldLeft(lit(-1)) { case (acc, (cond, i)) =>
            when(cond, i).otherwise(acc) }
        val oc = o.join(broadcast(cN),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"),
            (when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
              .otherwise(1) * 3 + natIdx).as("combo"))
        val finest = ProbeAgg.probeSums(t("lineitem"),
            Seq(Probe("l_orderkey", oc, "o_orderkey", "combo")),
            Seq(ProductSum("revenue", Seq(Term("l_extendedprice"),
              Term("l_discount", mul = -1.0, add = 1.0)))),
            groupByProbe = Some(0))
        val decode = s.createDataFrame(
          (for (ch <- 0 to 1; ni <- nats.indices) yield
            ((ch * 3 + ni).toLong, if (ch == 0) "express" else "standard",
              nats(ni))).toList).toDF("_gkey", "channel", "nation")
        finest.join(broadcast(decode), Seq("_gkey"))
          .select(col("channel"), col("nation"), col("revenue"),
            col("cnt").as("n_sales"))
      } else {
        // 100 TB regime: same reduction order on broadcast/shuffle
        // joins, finest (channel, nation) aggregated the normal way
        val cN = c.join(broadcast(n3),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("nation"))
        val oc = o.join(broadcastIfBounded(cN, cBound),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              "express").otherwise("standard").as("channel"),
            col("nation"))
        t("lineitem")
          .join(broadcastIfBounded(oc, ocBound),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("channel", "nation")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"), count(lit(1)).as("n_sales"))
      }
    // finest-first ROLLUP: upper levels derive from the 6-row finest
    // result (sum of sums / sum of counts); Expand never runs
    graft.ops.Rollup.rollup(decoded, Seq("channel", "nation"),
        Seq(graft.ops.Rollup.sum(col("revenue"), "revenue"),
          graft.ops.Rollup.sum(col("n_sales"), "n_sales")))
      .withColumn("revenue", round(col("revenue"), 2))
      .select("channel", "nation", "revenue", "n_sales")
      // <= 2 channels x 3 literal nations + rollup levels = 10 rows by
      // construction in BOTH arms: one-task sort (r18)
      .transform(orderedTiny(_,
        col("channel").asc_nulls_first, col("nation").asc_nulls_first))
  }

  val queries: Map[String, QueryFn] =
    all.map { case (n, q) => n -> sql(q) } +
      ("qds_yoy" -> qYoySpark) +
      ("qds_top_per_group" -> qTopPerGroupSpark) +
      ("qds_channel_rollup" -> qChannelRollupSpark)
  val oracleSql: Map[String, String] = all
}
