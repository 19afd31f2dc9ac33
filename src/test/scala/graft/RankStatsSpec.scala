package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.RankStats
import graft.ops.SizeDispatch.{RankStatsSize, forcing}

class RankStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // forces the rewrite path on the tiny fixtures — the size dispatch
  // itself is exercised by the gate at sf0.01 (classic regime)
  private def ranks(df: org.apache.spark.sql.DataFrame, partCol: String,
      orderCols: Seq[String], cap: Int = 100000) =
    forcing(RankStatsSize -> "rewrite") {
      RankStats.lowCardRanks(df, partCol, orderCols, cap)
    }

  private def classicOf(df: org.apache.spark.sql.DataFrame,
      partCol: String, orderCols: Seq[String]) = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(orderCols.map(col): _*)
    df.withColumn("rnk_c", rank().over(w))
      .withColumn("drnk_c", dense_rank().over(w))
      .withColumn("prnk_c", percent_rank().over(w))
      .withColumn("cdist_c", cume_dist().over(w))
  }

  test("frequency-table ranks ≡ classic window on real data (ties incl.)") {
    val df = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val fast = ranks(df, "l_returnflag", Seq("l_quantity"))
    val bad = fast.join(classicOf(df, "l_returnflag", Seq("l_quantity")),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"))
      .filter(col("rnk") =!= col("rnk_c") ||
        col("drnk") =!= col("drnk_c") ||
        not(col("prnk") <=> col("prnk_c")) ||
        not(col("cdist") <=> col("cdist_c")))
    assert(bad.count() === 0, bad.take(3).toSeq)
  }

  test("null keys and single-row partitions match the window semantics") {
    import spark.implicits._
    val df = Seq[(Integer, java.lang.Double, Int)](
      (1, 5.0, 1), (1, 5.0, 2), (1, null, 3), (1, 2.0, 4),
      (null, 7.0, 5), (2, 9.0, 6))
      .toDF("p", "q", "id")
    val fast = ranks(df, "p", Seq("q"))
    val bad = fast.join(classicOf(df, "p", Seq("q")), Seq("p", "q", "id"))
      .filter(col("rnk") =!= col("rnk_c") ||
        col("drnk") =!= col("drnk_c") ||
        not(col("prnk") <=> col("prnk_c")) ||
        not(col("cdist") <=> col("cdist_c")))
    assert(bad.count() === 0, bad.take(6).toSeq)
  }

  test("above the cap the classic window runs (identical columns)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i % 3, i.toDouble, i)).toDF("p", "q", "id")
    val fast = ranks(df, "p", Seq("q"), cap = 10)
    val bad = fast.join(classicOf(df, "p", Seq("q")), Seq("p", "q", "id"))
      .filter(col("rnk") =!= col("rnk_c") ||
        col("drnk") =!= col("drnk_c") ||
        not(col("prnk") <=> col("prnk_c")) ||
        not(col("cdist") <=> col("cdist_c")))
    assert(bad.count() === 0)
  }

  test("NaN order keys fail loudly instead of silently dropping rows") {
    import spark.implicits._
    val df = Seq((1, 1.0), (1, Double.NaN)).toDF("p", "q")
    val ex = intercept[Exception] {
      ranks(df, "p", Seq("q")).collect()
    }
    assert(ex.getMessage.contains("NaN"))
  }
}
