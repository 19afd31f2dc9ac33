package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.SizeDispatch.{FanOut, forcing}

/** ops.Par.fanOutIfBulky — the size-gated fan-out the exact-dedup
  * operators use (r18). Pins:
  *  - gate-scale inputs (KBs per scan task) pass through untouched: no
  *    extra exchange in the plan, the bench posture is unchanged;
  *  - past the per-task byte bound (arm forced here) the same call
  *    repartitions to full parallelism;
  *  - the fan-out is row-preserving (round-robin repartition only).
  */
class ParSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def docs = Tables.load(spark, sf, "documents")

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("small scan: no-op (no exchange added)") {
    val p = physical(graft.ops.Par.fanOutIfBulky(docs))
    assert(!p.contains("Exchange"), p)
  }

  test("past the per-task bound: fans out to full parallelism") {
    // coalesce(1) models the single-big-file ingest shape (fanOut's
    // chain-cap sees parallelism 1); forcing the arm passes the size gate
    val p = physical(forcing(FanOut -> "fanOut") {
      graft.ops.Par.fanOutIfBulky(docs.coalesce(1))
    })
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("fan-out preserves rows (dedup clusters identical)") {
    val base = graft.ops.Dedup
      .exactClustersFast(docs, "doc_id", "text").collect()
      .map(_.toSeq).toSet
    val fanned = forcing(FanOut -> "fanOut") {
      graft.ops.Dedup.exactClustersFast(docs.coalesce(1), "doc_id", "text")
    }.collect().map(_.toSeq).toSet
    assert(fanned == base)
    assert(base.nonEmpty)
  }
}
