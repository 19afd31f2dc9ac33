package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** TPC-H-shaped headline queries over the driver fixtures.
  *
  * These correspond to the reference's benchmark surface
  * (pg_lake_benchmark/src/tpch.c:57-96) adapted to the trimmed fixture
  * schema (TESTDATA.md). Full-query pushdown tier in the reference
  * (pg_lake_table/src/planner/query_pushdown.c) — here Catalyst plans the
  * whole query natively.
  */
object QTpch {

  val queries: Map[String, QueryFn] = Map(
    // Q1: scan + filter + wide aggregate. Plans as a single-shuffle
    // partial/final hash aggregate over the parquet scan. The avg columns
    // are derived post-aggregate from sums the query already computes:
    // Spark's Average(double) buffers (sum, count) separately from Sum, so
    // declaring avg() alongside sum() of the same column carries 11 buffer
    // slots per group where 6 suffice. Average evaluates exactly
    // `sum / count` on the same double accumulation order, and the fixture
    // columns are non-null (count(col) ≡ count(*)), so sum/count here is
    // bit-identical to avg — the oracle keeps plain avg() and hash-matches.
    // q1 runs through the columnar low-cardinality aggregate kernel
    // (plans/LowCardAgg): the partial pass consumes the scan's
    // ColumnarBatches directly — dictionary-id group lookup, bulk
    // column decode, group-indexed accumulation — measured 0.55 s vs
    // 0.78 s native partial-HashAggregate at sf10, identical rows. The
    // final aggregate and everything above stays ordinary Catalyst.
    "q1_agg" -> { (s, dir) =>
      import graft.plans.LowCardAgg
      import graft.plans.LowCardAgg.{ColFilter, ProductSum, Term}
      val cutoff = java.time.Instant.parse("2001-09-02T00:00:00Z")
        .getEpochSecond * 1000000L
      LowCardAgg.sumsByKey(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(ProductSum("_sq", Seq(Term("l_quantity"))),
            ProductSum("_se", Seq(Term("l_extendedprice"))),
            ProductSum("_sdp", Seq(Term("l_extendedprice"),
              Term("l_discount", mul = -1.0, add = 1.0))),
            ProductSum("_sc", Seq(Term("l_extendedprice"),
              Term("l_discount", mul = -1.0, add = 1.0),
              Term("l_tax", add = 1.0))),
            ProductSum("_sd", Seq(Term("l_discount")))),
          Seq(ColFilter("l_shipdate", "le", cutoff.toDouble)))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("_sq"), 2).as("sum_qty"),
          round(col("_se"), 2).as("sum_base_price"),
          round(col("_sdp"), 2).as("sum_disc_price"),
          round(col("_sc"), 2).as("sum_charge"),
          round(col("_sq") / col("cnt"), 6).as("avg_qty"),
          round(col("_se") / col("cnt"), 4).as("avg_price"),
          round(col("_sd") / col("cnt"), 6).as("avg_disc"),
          col("cnt").as("count_order"))
        // <= |rf x ls| rows by construction (low-card kernel): one-task
        // sort, no sampling pass (r18, same dispatch class as q10)
        .transform(orderedTiny(_, col("l_returnflag"), col("l_linestatus")))
    },

    // Q3: 3-way join. No broadcast hints: FileIndex size estimates make
    // the small filtered sides broadcast on their own, Catalyst reorders
    // the dims first, and AQE re-plans from runtime sizes — the same
    // declaration stays correct when customer is 1.5B rows (a forced
    // broadcast() would OOM there; measured no slower here).
    "q3_shipping" -> { (s, dir) =>
      import graft.ops.JoinOpt.withinReduceBound
      import graft.plans.ProbeAgg
      import graft.plans.ProbeAgg.Probe
      import graft.plans.LowCardAgg.{ColFilter, ProductSum, Term}
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val oBound = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val cBound = t(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
      // under the bucketed layout the co-located join is strictly
      // better for THIS query: group key = join key = bucket key, so
      // join AND aggregation run with zero exchanges (measured 0.91 s
      // vs the kernel's 2.10 s at sf10 — the kernel's high-cardinality
      // partials shuffle 3M rows that bucketing never materializes)
      val bucketed = graft.Tables.isOverlaid(dir, "lineitem") &&
        graft.Tables.isOverlaid(dir, "orders")
      if (!bucketed && withinReduceBound(oBound) && withinReduceBound(cBound)) {
        // ProbeAgg kernel, q10's pattern with the group key = the probe
        // key itself (map orderkey→orderkey over BUILDING-customer
        // qualifying orders): revenue accumulates by orderkey in the
        // scan pass, top-10 on the aggregate, orders re-joined for the
        // two display attributes
        // epoch micros of the cutoff AS THE SESSION TIMEZONE PARSES IT
        // — the fallback arm's lit("1998-03-15").cast("timestamp") uses
        // the session zone, and the two guard arms must agree in any
        // session, not just the UTC ones every in-repo entry point pins
        val shipCut = java.time.LocalDate.parse("1998-03-15")
          .atStartOfDay(java.time.ZoneId.of(
            s.sessionState.conf.sessionLocalTimeZone))
          .toInstant.getEpochSecond * 1000000.0
        val qualifying = o
          .join(broadcast(c.select("c_custkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("k"), col("o_orderkey").as("v"))
        val top = ProbeAgg.probeSums(t(s, dir, "lineitem"),
            Seq(Probe("l_orderkey", qualifying, "k", "v")),
            Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
              Term("l_discount", mul = -1.0, add = 1.0)))),
            groupByProbe = Some(0),
            numFilters = Seq(ColFilter("l_shipdate", "gt", shipCut)))
          .select(col("_gkey").as("l_orderkey"),
            round(col("rev"), 2).as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
        o.join(broadcast(top), col("o_orderkey") === col("l_orderkey"))
          .select(col("l_orderkey"), col("o_orderdate"),
            col("o_orderpriority"), col("revenue"))
          // <= 10 rows by construction (top is limit(10)); plan stats
          // stay scan-sized, so dispatch can't see it (r18, q10 pattern)
          .transform(orderedTiny(_, desc("revenue"), col("l_orderkey")))
      } else {
        // reduction-first beyond the kernel bound (the sf100 headline
        // regime): the BUILDING key set is far smaller than customer
        // itself, so it guard-broadcasts into a SEMI join and orders
        // never co-shuffles with customer; the remaining orderkey join
        // moves only the shipdate-filtered lineitem (~5%) against the
        // qualified orders (~1/5), and the groupBy's leading key IS the
        // join key, so the aggregate reuses the join's partitioning —
        // one narrow exchange per side, no more. sf100 solo best-of-2
        // across sessions: 14.0–19.8 s vs the two-shuffle form's 22.9
        // (single-SSD variance dominates single runs; the shuffle-bytes
        // reduction is structural). At the 100 TB regime the broadcast
        // degrades by the same scan-derived guard q5 uses, leaving the
        // still-optimal keyed-shuffle order.
        import graft.ops.JoinOpt.broadcastIfBounded
        val oQual = o.join(
          broadcastIfBounded(c.select("c_custkey"), cBound),
          col("o_custkey") === col("c_custkey"), "left_semi")
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        l.join(oQual, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      }
    },

    // Q5: 6-way star join, reduction-first. The selective dim chain
    // (region→nation→customer, 20% of customers) is resolved BEFORE it
    // ever meets a fact: ASIA customers broadcast into the date-filtered
    // orders (map-side, orders never shuffles), and the resulting
    // (orderkey, nationkey) side — one row per qualifying order —
    // broadcasts into lineitem, so the FACT NEVER SHUFFLES; supplier
    // (always broadcast-sized) closes the (suppkey, nationkey) edge.
    // This is the hash-build pipeline DuckDB runs in shared memory.
    // Measured (BASELINE round 8 join-core sweep, sf10, interleaved
    // medians): declared
    // left-deep 4.94 s, this 1.91 s, pre-aggregated lineitem 15.7 s;
    // answers verified identical. Both data-dependent broadcasts are
    // scale-guarded by scan-derived bounds (JoinOpt.broadcastIfBounded):
    // at the 100 TB regime neither fires and the same declaration
    // degrades to keyed shuffle joins in this same (still optimal)
    // reduction order — which the bucketed orderkey layout then
    // co-locates. Reference analogue: the FDW tier's join pushdown
    // (pg_lake_table/src/fdw/pg_lake_table.c:3846-4170).
    "q5_local_supplier" -> { (s, dir) =>
      import graft.ops.JoinOpt.{broadcastIfBounded, withinReduceBound}
      import graft.plans.ProbeAgg
      import graft.plans.ProbeAgg.Probe
      import graft.plans.LowCardAgg.{ProductSum, Term}
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      // nation/region are fixed 25/5-row tables: unconditionally tiny
      val asiaNations = n
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cAsia = c
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val oc = o
        .join(broadcastIfBounded(cAsia,
          c.select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
      val supProj = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val ocBound = o.select("o_orderkey", "o_custkey")
      if (withinReduceBound(ocBound) && withinReduceBound(supProj) &&
          withinReduceBound(c.select("c_custkey", "c_nationkey"))) {
        // columnar probe+aggregate fusion (plans/ProbeAgg): the fact's
        // batches probe the two reduced maps and accumulate the 5-group
        // sums directly — sf10: 2.96 s (BHJ chain) → 0.56 s, 0.9× the
        // oracle engine (BASELINE round 8 ProbeAgg ledger, answers
        // asserted identical)
        ProbeAgg.probeSums(t(s, dir, "lineitem"),
            Seq(Probe("l_orderkey", oc, "o_orderkey", "c_nationkey"),
              Probe("l_suppkey", supProj, "s_suppkey", "s_nationkey")),
            Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
              Term("l_discount", mul = -1.0, add = 1.0)))),
            groupByProbe = Some(0), constraintEq = Some((0, 1)))
          .join(broadcast(n.select("n_nationkey", "n_name")),
            col("_gkey") === col("n_nationkey"))
          .select(col("n_name"), round(col("rev"), 2).as("revenue"))
          // <= |nation| = 25 rows at any scale: one-task sort (r18)
          .transform(orderedTiny(_, desc("revenue"), col("n_name")))
      } else {
        // past the reduce bound (100 TB regime): same reduction order,
        // broadcast/shuffle joins as the per-side guards decide
        t(s, dir, "lineitem")
          .join(broadcastIfBounded(oc, ocBound),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcastIfBounded(supProj, supProj),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n.select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          // <= |nation| = 25 rows at any scale: one-task sort (r18)
          .transform(orderedTiny(_, desc("revenue"), col("n_name")))
      }
    },

    // Q6: pure scan-filter-aggregate; predicate fully pushed to parquet.
    // q6 through the keyless columnar kernel: four range filters and
    // one product sum, all evaluated on the scan's column vectors.
    "q6_forecast_revenue" -> { (s, dir) =>
      import graft.plans.LowCardAgg
      import graft.plans.LowCardAgg.{ColFilter, ProductSum, Term}
      def micros(d: String) = java.time.Instant.parse(d + "T00:00:00Z")
        .getEpochSecond * 1000000.0
      LowCardAgg.globalSums(t(s, dir, "lineitem"),
          Seq(ProductSum("_rev",
            Seq(Term("l_extendedprice"), Term("l_discount")))),
          Seq(ColFilter("l_shipdate", "ge", micros("1996-01-01")),
            ColFilter("l_shipdate", "lt", micros("1997-01-01")),
            ColFilter("l_discount", "ge", 0.03),
            ColFilter("l_discount", "le", 0.07),
            ColFilter("l_quantity", "lt", 24.0)))
        .select(round(col("_rev"), 2).as("revenue"))
    },

    // Q10: returned-item reporting, join + group + top-k.
    // Q10, decomposed around the functional dependency: the grouping key
    // is really c_custkey (c_name/c_acctbal are attributes of it), so
    // aggregate the fact by o_custkey FIRST — the quarter-filtered
    // orders side broadcasts into the returned-lineitem scan (scale-
    // guarded), the fact's only exchange is the partial-agg shuffle of
    // (custkey, revenue) pairs — take the top 20 deterministically
    // (rounded revenue desc, custkey), and only then join the 20-row
    // result against customer for the display attributes. The wide
    // customer table is never part of the fact pipeline.
    "q10_returned_items" -> { (s, dir) =>
      import graft.ops.JoinOpt.{broadcastIfBounded, withinReduceBound}
      import graft.plans.ProbeAgg
      import graft.plans.ProbeAgg.{Probe, StrEqFilter}
      import graft.plans.LowCardAgg.{ProductSum, Term}
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
                col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
      val bound = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val top =
        if (withinReduceBound(bound))
          // ProbeAgg kernel: the R-filter and the quarter-orders probe
          // run on the scan's vectors, custkey-grouped sums accumulate
          // in the same pass — sf10: 3.22 → 1.09 s (BASELINE round 8
          // ProbeAgg ledger)
          ProbeAgg.probeSums(t(s, dir, "lineitem"),
              Seq(Probe("l_orderkey", o.select("o_orderkey", "o_custkey"),
                "o_orderkey", "o_custkey")),
              Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
                Term("l_discount", mul = -1.0, add = 1.0)))),
              groupByProbe = Some(0),
              strFilters = Seq(StrEqFilter("l_returnflag", "R")))
            .select(col("_gkey").as("o_custkey"),
              round(col("rev"), 2).as("revenue"))
            .orderBy(desc("revenue"), col("o_custkey"))
            .limit(20)
        else t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .join(o.select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), col("o_custkey"))
          .limit(20)
      // top is ≤20 rows by construction, so the display join's output
      // is ≤20 rows at ANY scale — but its plan-stats estimate stays
      // customer-scan-sized, so the generic dispatch can't see it: sort
      // the k rows in one task unconditionally (the range sort's
      // sampling pass would re-run the customer scan + join to bound 20
      // rows)
      c.join(broadcast(top), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("revenue"))
        .transform(orderedTiny(_, desc("revenue"), col("c_custkey")))
    })

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)
}
