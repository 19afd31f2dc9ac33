package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.SizeDispatch.{Ordered, forcing}

/** queries.Q.ordered — the size-dispatched deterministic sort the gate
  * queries end with (r17 optimization round). Pins:
  *  - small regime: ONE single-partition shuffle, NO range partitioning
  *    (a range sort runs a sampling job that re-executes the narrow
  *    chain above the last shuffle once more per query);
  *  - large regime (arm forced): the scale-correct
  *    parallel range sort;
  *  - both regimes produce the same rows in the same key order.
  */
class OrderedDispatchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def base = Tables.load(spark, sf, "orders")
    .select("o_orderkey", "o_totalprice")

  test("small regime: single-partition sort, no range sampling pass") {
    val p = physical(queries.Q.ordered(base, col("o_orderkey")))
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("large regime (forced): parallel range sort") {
    val p = physical(forcing(Ordered -> "rangeSort") {
      queries.Q.ordered(base, col("o_orderkey"))
    })
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("both regimes emit identical ordered rows") {
    val small = queries.Q.ordered(base, col("o_orderkey")).collect()
    val large = forcing(Ordered -> "rangeSort") {
      queries.Q.ordered(base, col("o_orderkey"))
    }.collect()
    assert(small.toSeq == large.toSeq)
  }

  test("join above small leaves dispatches single-partition " +
      "(r18: leaf-size signal, not the inflated join estimate)") {
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    val c = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_name")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
    val p = physical(queries.Q.ordered(joined, col("o_orderkey")))
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("orderedTiny is always single-partition (proven-tiny outputs)") {
    val p = physical(forcing(Ordered -> "rangeSort") {
      queries.Q.orderedTiny(base, col("o_orderkey"))
    })
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }
}
