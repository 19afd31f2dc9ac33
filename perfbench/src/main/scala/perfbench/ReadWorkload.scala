package perfbench

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** olap_read and llm_pipeline: SparkEntry queries, one at a time, each
  * result collected to the client and fingerprinted against the DuckDB
  * oracle outside the timed window. */
final class ReadWorkload(h: Harness, queries: Seq[String],
    expected: Map[String, Digest.Result]) extends Workload {

  def setup(): Unit = graft.Tables.registerAll(h.spark, h.dataDir)

  def round(rng: Random): Unit = rng.shuffle(queries).foreach(query)

  private def run(q: String, dir: String, id: Long): (StructType, Array[Row]) = {
    val df = Trace.span("queries.build", id, id)(
      graft.SparkEntry.queries(q)(h.spark, dir))
    (df.schema, df.collect())
  }

  def query(q: String): Unit =
    h.op(q, "query")(id => run(q, h.dataDir, id)) { case (schema, rows) =>
      expected.get(q) match {
        case None => Some("no oracle fingerprint")
        case Some(want) =>
          val got = Digest.of(schema, rows)
          if (got == want) None else Some(s"result $got, oracle $want")
      }
    }

  /** Fixed-work box probe: q_geo_zones on the sf0.001 fixture. */
  def probe(dir: String): Unit =
    h.op("q_geo_zones@sf0.001", "probe")(id => run("q_geo_zones", dir, id)) {
      case (_, rows) => if (rows.nonEmpty) None else Some("empty result")
    }
}
