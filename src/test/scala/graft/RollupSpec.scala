package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.Rollup
import graft.ops.SizeDispatch.{RollupSize, forcing}

/** Finest-first ROLLUP/CUBE/GROUPING SETS (ops/Rollup.scala): multiset
  * equality with Spark's native Expand-based operators — including
  * grouping flags and genuine NULL dimension values — and the plan
  * property that makes it worth having (the fact aggregates once, upper
  * levels reuse the exchange).
  */
class RollupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** Fixture with genuine NULL dim values planted (the case that makes
    * grouping flags load-bearing: a NULL-valued finest row must stay
    * distinct from the super-aggregate row). */
  private lazy val withNulls: DataFrame =
    Tables.load(spark, sf, "lineitem")
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_returnflag")))

  private def sortedRows(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .sortBy(_.toString)
  }

  test("rollup ≡ native rollup (grouping flags, null dims)") {
    val native = withNulls
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("int").as("grouping_l_returnflag"),
        grouping(col("l_linestatus")).cast("int").as("grouping_l_linestatus"))
    val finest = Rollup.rollup(withNulls,
      Seq("l_returnflag", "l_linestatus"),
      Seq(Rollup.sum(col("l_quantity"), "sum_qty"),
        Rollup.count(lit(1), "n")))
    assert(sortedRows(finest) == sortedRows(native))
  }

  test("cube ≡ native cube") {
    val native = withNulls
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"),
        min("l_extendedprice").as("min_p"), max("l_extendedprice").as("max_p"),
        grouping(col("l_returnflag")).cast("int").as("grouping_l_returnflag"),
        grouping(col("l_linestatus")).cast("int").as("grouping_l_linestatus"))
    val finest = Rollup.cube(withNulls,
      Seq("l_returnflag", "l_linestatus"),
      Seq(Rollup.sum(col("l_quantity"), "sum_qty"),
        Rollup.min(col("l_extendedprice"), "min_p"),
        Rollup.max(col("l_extendedprice"), "max_p")))
    assert(sortedRows(finest) == sortedRows(native))
  }

  test("groupingSets ≡ native GROUPING SETS") {
    withNulls.createOrReplaceTempView("li_null")
    val native = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(1) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS grouping_l_returnflag,
        |  CAST(grouping(l_linestatus) AS INT) AS grouping_l_linestatus
        |FROM li_null
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |""".stripMargin)
    val finest = Rollup.groupingSets(withNulls,
      Seq("l_returnflag", "l_linestatus"),
      Seq(Rollup.sum(col("l_quantity"), "sum_qty"),
        Rollup.count(lit(1), "n")),
      Seq(Seq("l_returnflag"), Seq("l_linestatus"), Seq()))
    assert(sortedRows(finest) == sortedRows(native))
  }

  test("count counts non-nulls per level (decomposes as sum of counts)") {
    val df = Tables.load(spark, sf, "lineitem")
      .withColumn("maybe",
        when(col("l_quantity") > 25, col("l_quantity")))
    val native = df.rollup("l_returnflag")
      .agg(count(col("maybe")).as("n_big"),
        grouping(col("l_returnflag")).cast("int").as("grouping_l_returnflag"))
    val finest = Rollup.rollup(df, Seq("l_returnflag"),
      Seq(Rollup.count(col("maybe"), "n_big")))
    assert(sortedRows(finest) == sortedRows(native))
  }

  test("auto dispatch picks by input size estimate, same rows either way") {
    val df = Tables.load(spark, sf, "lineitem")
    val dims = Seq("l_returnflag", "l_linestatus")
    val aggs = Seq(Rollup.sum(col("l_quantity"), "sum_qty"),
      Rollup.count(lit(1), "n"))
    def runWith(arm: String) =
      forcing(RollupSize -> arm)(Rollup.rollupAuto(df, dims, aggs))
    // finest-first → decomposed (union of levels); native → Expand
    val forced = runWith("finestFirst")
    val native = runWith("native")
    assert(forced.queryExecution.executedPlan.toString.contains("Union"))
    assert(native.queryExecution.executedPlan.toString.contains("Expand"))
    assert(sortedRows(forced) == sortedRows(native))
    val cubeF =
      forcing(RollupSize -> "finestFirst")(Rollup.cubeAuto(df, dims, aggs))
    val cubeN = Rollup.cube(df, dims, aggs)
    assert(sortedRows(cubeF) == sortedRows(cubeN))
  }

  test("kernel-backed finest pass returns the same rows as native") {
    val df = Tables.load(spark, sf, "lineitem")
    val dims = Seq("l_returnflag", "l_linestatus")
    val aggs = Seq(Rollup.sum(col("l_quantity"), "sum_qty"),
      Rollup.count(lit(1), "n"))
    forcing(RollupSize -> "finestFirst") {
      val viaKernel = Rollup.rollupAuto(df, dims, aggs,
        kernelMaxGroups = 64)
      val native = Rollup.rollupAuto(df, dims, aggs) // plain finest path
      assert(sortedRows(viaKernel) == sortedRows(native))
      val cubeK = Rollup.cubeAuto(df, dims, aggs, kernelMaxGroups = 64)
      assert(sortedRows(cubeK) == sortedRows(Rollup.cube(df, dims, aggs)))
    }
  }

  test("the fact aggregates once: upper levels reuse the finest exchange") {
    val finest = Rollup.rollup(Tables.load(spark, sf, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      Seq(Rollup.sum(col("l_quantity"), "sum_qty")))
    finest.collect()
    val plan = finest.queryExecution.executedPlan.toString
    val reused = "ReusedExchange|ReusedShuffle|reused".r.findAllIn(plan).size
    assert(reused >= 2, s"expected both upper levels to reuse the finest " +
      s"exchange, plan:\n$plan")
  }
}
