package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.SizeDispatch

/** The dispatch table: which arm every size-gated site picks while the
  * olap_read queries and the two forced oracle twins are built, at each
  * fixture scale. The expected arms are the ones the engine picked before
  * the sites shared [[SizeDispatch]] (read off that engine's decisions,
  * which its plans confirm), so a change of limit, signal or inequality
  * that moves any fixture query to another arm fails here. Every fixture
  * sits in the small regime of every site; the twins force theirs.
  */
class DispatchTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fixtures = "/root/testdata" // TESTDATA.md

  private val within = "JoinOpt.withinReduceBound:within"
  private val onePartition = "Q.ordered:onePartition"

  /** (site:arm) in decision order; the same at sf0.001, sf0.01, sf0.1. */
  private val expected: Map[String, Seq[String]] = Map(
    "q1_agg" -> Nil,
    "q3_shipping" -> Seq(within, within),
    "q5_local_supplier" -> Seq(within, within, within, within),
    "q6_forecast_revenue" -> Nil,
    "q10_returned_items" -> Seq(within),
    "q_join_inner" -> Seq(onePartition),
    "q_agg_stats" -> Nil,
    "q_rollup" -> Seq("Rollup.decompose:native", onePartition),
    "q_win_rank" -> Seq("RankStats.lowCardRanks:classic", onePartition),
    "q_win_frame_rows" -> Seq("BigWindow.frameStats:classic", onePartition),
    "q_cte" -> Seq("JoinOpt.aggBuildJoin:aggBuild", onePartition),
    "qds_channel_rollup" -> Seq(within, within),
    "qds_yoy" -> Seq(within, within),
    "qds_top_per_group" -> Seq(within),
    "q_sessionize" -> Seq(onePartition),
    "q_geo_zones" -> Nil,
    "q_win_rank_freq" -> Seq("RankStats.lowCardRanks:rewrite"),
    "q_win_frame_dist" -> Seq("BigWindow.frameStats:distributed",
      "BigWindow.frameStatsKeys:frameStats"))

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every site picks the pinned arm at $sf") {
      val dir = s"$fixtures/$sf"
      val got = expected.keys.map { q =>
        val arms = SizeDispatch.recording(SparkEntry.queries(q)(spark, dir))
          .map(d => s"${d.site}:${d.arm}")
        graft.ops.BigWindow.releaseCaches()
        graft.plans.ProbeAgg.releaseBroadcasts()
        q -> arms
      }.toMap
      val wrong = expected.filter { case (q, arms) => got(q) != arms }
      assert(wrong.isEmpty,
        wrong.keys.map(q => s"$q: got ${got(q)}").mkString("; "))
    }

  test("forcing is scoped to its block; recording sees forced arms") {
    val df = Tables.load(spark, s"$fixtures/sf0.001", "orders")
    def sort = queries.Q.ordered(df, df("o_orderkey"))
    val arms = SizeDispatch.recording {
      SizeDispatch.forcing(SizeDispatch.Ordered -> "rangeSort")(sort)
      sort
    }.map(_.arm)
    assert(arms == Seq("rangeSort", "onePartition"))
    intercept[IllegalArgumentException] {
      SizeDispatch.forcing(SizeDispatch.Ordered -> "layout")(sort)
    }
  }
}
