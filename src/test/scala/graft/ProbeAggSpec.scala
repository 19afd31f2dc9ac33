package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.ProbeAgg
import graft.plans.ProbeAgg.{Probe, StrEqFilter}
import graft.plans.LowCardAgg.{ColFilter, ProductSum, Term}

class ProbeAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.01"

  override def afterAll(): Unit = spark.stop()

  private def t(n: String) = Tables.load(spark, sf, n)

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("snapshot-keyed probe cache: unchanged table reuses the packed " +
      "probe, a table change misses (opt-in, identical results)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probecache")
    val tbl = s"$dir/probe_tbl"
    spark.range(0, 1000).selectExpr("id as k", "id % 7 as v")
      .write.mode("overwrite").parquet(tbl)
    def run(): Seq[String] = {
      val probe = spark.read.parquet(tbl)
      val fact = t("lineitem").limit(5000)
        .withColumn("fk", col("l_orderkey") % 1000)
      sorted(ProbeAgg.probeSums(fact,
        Seq(Probe("fk", probe, "k", "v")),
        Seq(ProductSum("rev", Seq(Term("l_extendedprice")))),
        groupByProbe = Some(0)))
    }
    ProbeAgg.clearProbeCache()
    sys.props("spark.graft.probe.cache") = "1"
    try {
      val r1 = run()
      assert(ProbeAgg.probeCacheMisses.get() == 1 &&
        ProbeAgg.probeCacheHits.get() == 0)
      ProbeAgg.releaseBroadcasts() // the bench protocol's per-rep release
      val r2 = run()
      assert(r2 == r1, "cached probe must reproduce the result")
      assert(ProbeAgg.probeCacheHits.get() == 1,
        "unchanged table must hit the cache")
      // table CHANGES: new files -> new fingerprint -> miss, fresh data
      spark.range(0, 1000).selectExpr("id as k", "id % 3 as v")
        .write.mode("overwrite").parquet(tbl)
      val r3 = run()
      assert(ProbeAgg.probeCacheMisses.get() == 2,
        "a changed table must not reuse the stale probe")
      assert(r3 != r1, "results must reflect the new table state")
    } finally {
      sys.props.remove("spark.graft.probe.cache")
      ProbeAgg.clearProbeCache()
    }
  }

  test("probe cache is ON by default (r17) and an EXTERNAL in-place " +
      "rewrite that keeps name+size still invalidates via mtime") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probecache2")
    val tbl = s"$dir/probe_tbl"
    spark.range(0, 500).repartition(1).selectExpr("id as k", "id % 5 as v")
      .write.mode("overwrite").parquet(tbl)
    def run(): Seq[String] = {
      val probe = spark.read.parquet(tbl) // fresh file listing each call
      val fact = t("lineitem").limit(3000)
        .withColumn("fk", col("l_orderkey") % 500)
      sorted(ProbeAgg.probeSums(fact,
        Seq(Probe("fk", probe, "k", "v")),
        Seq(ProductSum("rev", Seq(Term("l_extendedprice")))),
        groupByProbe = Some(0)))
    }
    // no prop, no env: the default posture must be caching
    val hadProp = sys.props.remove("spark.graft.probe.cache")
    ProbeAgg.clearProbeCache()
    try {
      val r1 = run()
      assert(ProbeAgg.probeCacheMisses.get() == 1 &&
        ProbeAgg.probeCacheHits.get() == 0,
        "default-on: first execution populates the cache")
      ProbeAgg.releaseBroadcasts()
      val r2 = run()
      assert(r2 == r1 && ProbeAgg.probeCacheHits.get() == 1,
        "default-on: unchanged table reuses the packed probe")
      // external writer rewrites the data file IN PLACE: same path,
      // same byte count, only the mtime moves — the per-file
      // (path,size,mtime) fingerprint must miss, not serve stale state
      val part = new java.io.File(tbl).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bumped = part.lastModified() + 5000
      assert(part.setLastModified(bumped), "mtime bump must apply")
      val r3 = run()
      assert(ProbeAgg.probeCacheMisses.get() == 2,
        "an in-place external rewrite (mtime moved) must miss")
      assert(r3 == r1, "recomputed result matches (content unchanged)")
    } finally {
      hadProp.foreach(v => sys.props("spark.graft.probe.cache") = v)
      ProbeAgg.clearProbeCache()
    }
  }

  test("q5 shape: two probes + equality constraint ≡ the BHJ chain") {
    val o = t("orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val asiaN = t("nation")
      .join(broadcast(t("region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cAsia = t("customer")
      .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey")
    val oc = o.join(broadcast(cAsia), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_nationkey")
    val kernel = ProbeAgg.probeSums(t("lineitem"),
        Seq(Probe("l_orderkey", oc, "o_orderkey", "c_nationkey"),
          Probe("l_suppkey",
            t("supplier").select("s_suppkey", "s_nationkey"),
            "s_suppkey", "s_nationkey")),
        Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
          Term("l_discount", mul = -1.0, add = 1.0)))),
        groupByProbe = Some(0), constraintEq = Some((0, 1)))
      .join(broadcast(t("nation").select("n_nationkey", "n_name")),
        col("_gkey") === col("n_nationkey"))
      .select(col("n_name"), round(col("rev"), 2).as("revenue"),
        col("cnt"))
    val native = t("lineitem")
      .join(oc, col("l_orderkey") === col("o_orderkey"))
      .join(t("supplier"), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }

  test("string filter + single probe grouped by probed value (q10 shape)") {
    val o = t("orders")
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val kernel = ProbeAgg.probeSums(t("lineitem"),
        Seq(Probe("l_orderkey", o.select("o_orderkey", "o_custkey"),
          "o_orderkey", "o_custkey")),
        Seq(ProductSum("rev", Seq(Term("l_extendedprice"),
          Term("l_discount", mul = -1.0, add = 1.0)))),
        groupByProbe = Some(0),
        strFilters = Seq(StrEqFilter("l_returnflag", "R")))
      .select(col("_gkey").as("custkey"), round(col("rev"), 2).as("rev"),
        col("cnt"))
    val native = t("lineitem").filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("rev"), count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }

  test("numeric filter composes; global group; misses drop rows") {
    // only a third of orders in the probe table → inner-join drops
    val o3 = t("orders").filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_custkey")
    val kernel = ProbeAgg.probeSums(t("lineitem"),
        Seq(Probe("l_orderkey", o3, "o_orderkey", "o_custkey")),
        Seq(ProductSum("q", Seq(Term("l_quantity")))),
        groupByProbe = None,
        numFilters = Seq(ColFilter("l_discount", "ge", 0.05)))
      .select(round(col("q"), 2).as("q"), col("cnt"))
    val native = t("lineitem").filter(col("l_discount") >= 0.05)
      .join(o3, col("l_orderkey") === col("o_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("q"),
        count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }

  test("caller's own filter is NOT skipped (row fallback preserves it)") {
    val o = t("orders").select("o_orderkey", "o_custkey")
    val pre = t("lineitem").filter(col("l_quantity") > 30.0)
    val kernel = ProbeAgg.probeSums(pre,
        Seq(Probe("l_orderkey", o, "o_orderkey", "o_custkey")),
        Seq(ProductSum("q", Seq(Term("l_quantity")))),
        groupByProbe = None)
      .select(round(col("q"), 2).as("q"), col("cnt"))
    val native = t("lineitem").filter(col("l_quantity") > 30.0)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("q"), count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }

  test("row fallback (non-columnar child) ≡ columnar") {
    import spark.implicits._
    val fact = Seq((1L, 2.0), (2L, 3.0), (3L, 5.0), (1L, 7.0))
      .toDF("k", "v")
    val dim = Seq((1L, 10L), (2L, 20L)).toDF("dk", "dv")
    val r = ProbeAgg.probeSums(fact, Seq(Probe("k", dim, "dk", "dv")),
        Seq(ProductSum("s", Seq(Term("v")))), groupByProbe = Some(0))
      .select(col("_gkey"), col("s"), col("cnt"))
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
      .sortBy(_._1)
    assert(r.toSeq === Seq((10L, 9.0, 2L), (20L, 3.0, 1L)))
  }

  test("declared queries: kernel arm ≡ fallback arm across the guard") {
    // both sides of the withinReduceBound dispatch must answer
    // identically — the fallback is what a 100 TB deployment runs
    for (q <- Seq("q5_local_supplier", "q10_returned_items",
        "qds_channel_rollup", "qds_yoy", "q3_shipping",
        "qds_top_per_group")) {
      val kernel = SparkEntry.queries(q)(spark, sf).collect()
        .map(_.toString).toSeq
      val fallback = graft.ops.SizeDispatch.forcing(
          graft.ops.SizeDispatch.ReduceBound -> "beyond") {
        SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq
      }
      assert(kernel === fallback, q)
    }
  }

  test("groupByCol with no probes ≡ native groupBy (q_cte agg shape)") {
    val kernel = ProbeAgg.probeSums(t("orders"), probes = Nil,
        sums = Seq(ProductSum("spend", Seq(Term("o_totalprice")))),
        groupByProbe = None, groupByCol = Some("o_custkey"))
      .select(col("_gkey").as("o_custkey"), col("cnt").as("n"),
        round(col("spend"), 2).as("spend"))
    val native = t("orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("spend"))
      .select(col("o_custkey"), col("n"), col("spend"))
    assert(sorted(kernel) === sorted(native))
  }

  test("groupByCol composes with probes and filters") {
    // group by the fact's own suppkey while probing orders for an
    // inner-join restriction — both reductions in one pass
    val o3 = t("orders").filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_custkey")
    val kernel = ProbeAgg.probeSums(t("lineitem"),
        Seq(Probe("l_orderkey", o3, "o_orderkey", "o_custkey")),
        Seq(ProductSum("q", Seq(Term("l_quantity")))),
        groupByProbe = None, groupByCol = Some("l_suppkey"),
        numFilters = Seq(ColFilter("l_discount", "ge", 0.05)))
      .select(col("_gkey").as("l_suppkey"), round(col("q"), 2).as("q"),
        col("cnt"))
    val native = t("lineitem").filter(col("l_discount") >= 0.05)
      .join(o3, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_quantity")), 2).as("q"), count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }

  test("null or negative group-by column fails loudly, both paths") {
    import spark.implicits._
    // columnar path: parquet scan with a null key
    val dir = java.nio.file.Files.createTempDirectory("probeaggG").toString
    Seq((Some(1L), Some(2.0)), (None, Some(9.0)))
      .toDF("k", "v").write.mode("overwrite").parquet(dir)
    val exCol = intercept[Exception] {
      ProbeAgg.probeSums(spark.read.parquet(dir), probes = Nil,
        sums = Seq(ProductSum("s", Seq(Term("v")))),
        groupByProbe = None, groupByCol = Some("k")).collect()
    }
    assert(exCol.getMessage.contains("non-negative") ||
      (exCol.getCause != null &&
        exCol.getCause.getMessage.contains("non-negative")))
    // row path: in-memory relation with a negative key
    val exNeg = intercept[Exception] {
      ProbeAgg.probeSums(Seq((-5L, 1.0)).toDF("k", "v"), probes = Nil,
        sums = Seq(ProductSum("s", Seq(Term("v")))),
        groupByProbe = None, groupByCol = Some("k")).collect()
    }
    assert(exNeg.getMessage.contains("non-negative") ||
      (exNeg.getCause != null &&
        exNeg.getCause.getMessage.contains("non-negative")))
  }

  test("global aggregate over fully-filtered input yields SQL's one row " +
      "(null sum, zero count) on BOTH physical paths") {
    import spark.implicits._
    val dim = Seq((1L, 10L)).toDF("dk", "dv")
    // columnar path: parquet scan
    val dir = java.nio.file.Files.createTempDirectory("probeaggE").toString
    Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    for (fact <- Seq(spark.read.parquet(dir),          // columnar
        Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v"))) {  // row fallback
      val r = ProbeAgg.probeSums(fact, Seq(Probe("k", dim, "dk", "dv")),
          Seq(ProductSum("s", Seq(Term("v")))), groupByProbe = None,
          numFilters = Seq(ColFilter("v", "gt", 99.0)))
        .select(col("s"), col("cnt")).collect()
      assert(r.length === 1)
      assert(r(0).isNullAt(0) && r(0).getLong(1) === 0L)
    }
  }

  test("duplicate probe keys with conflicting values fail loudly") {
    import spark.implicits._
    val dim = Seq((1L, 10L), (1L, 11L)).toDF("dk", "dv")
    val fact = Seq((1L, 2.0)).toDF("k", "v")
    val ex = intercept[Exception] {
      ProbeAgg.probeSums(fact, Seq(Probe("k", dim, "dk", "dv")),
        Seq(ProductSum("s", Seq(Term("v")))), groupByProbe = Some(0))
        .collect()
    }
    assert(ex.getMessage.contains("key-unique") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("key-unique")))
  }

  test("releaseBroadcasts then re-execute: held DataFrame re-broadcasts " +
      "and answers identically (no destroyed-broadcast trap)") {
    import spark.implicits._
    val dim = Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("dk", "dv")
    val fact = Seq((1L, 2.0), (2L, 4.0), (3L, 8.0), (4L, 99.0))
      .toDF("k", "v")
    val df = ProbeAgg.probeSums(fact, Seq(Probe("k", dim, "dk", "dv")),
        Seq(ProductSum("s", Seq(Term("v")))), groupByProbe = Some(0))
      .select(col("_gkey"), col("s"), col("cnt"))
    val first = sorted(df)
    ProbeAgg.releaseBroadcasts()
    // the library-user mistake the old destroy() contract punished:
    // re-executing a result DataFrame built before the release
    val again = sorted(df)
    assert(again === first)
    // and a release after the re-execution releases the re-broadcast too
    ProbeAgg.releaseBroadcasts()
    assert(sorted(df) === first)
  }

  test("null fact keys and null sum inputs follow SQL semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("probeagg").toString
    Seq((Some(1L), Some(2.0)), (None, Some(9.0)), (Some(1L), None),
      (Some(2L), Some(4.0))).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Seq((1L, 10L), (2L, 20L)).toDF("dk", "dv")
    val kernel = ProbeAgg.probeSums(fact, Seq(Probe("k", dim, "dk", "dv")),
        Seq(ProductSum("s", Seq(Term("v")))), groupByProbe = Some(0))
      .select(col("_gkey"), col("s"), col("cnt"))
    val native = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dv").as("_gkey"))
      .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
    assert(sorted(kernel) === sorted(native))
  }
}
