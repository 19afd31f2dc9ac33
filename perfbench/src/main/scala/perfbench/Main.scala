package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload. perfbench/run.py launches it and
  * turns its record file into metrics.
  *
  * Args (all `--key value`): workload, seed, seconds, trace (0|1), data
  * (sf0.1 fixture dir), probe-data (sf0.001 fixture dir), oracle
  * (fingerprint JSON), out (record dir), work (scratch dir), cores,
  * warmups, min-rounds. `--dump-oracle-sql <file>` instead writes the
  * oracle SQL of every read query and exits. */
object Main {
  val workloads: Map[String, Seq[String]] = Map(
    "olap_read" -> Seq("q1_agg", "q3_shipping", "q5_local_supplier",
      "q6_forecast_revenue", "q10_returned_items", "q_join_inner",
      "q_agg_stats", "q_rollup", "q_win_rank", "q_win_frame_rows", "q_cte",
      "qds_channel_rollup", "qds_yoy", "qds_top_per_group", "q_sessionize",
      "q_geo_zones"),
    "llm_pipeline" -> Seq("q_dedup_exact", "q_dedup_exact_fast",
      "q_dedup_minhash", "q_sim_cosine", "q_text_stats", "q_text_bpe",
      "q_c4_clean", "q_dedup_simhash", "q_text_bm25", "q_hybrid_rrf"),
    "lake_dml" -> Nil)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    o.get("dump-oracle-sql") match {
      case Some(path) => dumpOracleSql(path)
      case None => run(o)
    }
  }

  private def dumpOracleSql(path: String): Unit = {
    val all = graft.SparkEntry.oracleSql
    val qs = workloads.values.flatten.toSeq.sorted
    Files.writeString(Paths.get(path), Json.value(
      qs.map(q => q -> all.getOrElse(q, null)).toMap))
  }

  private def loadOracle(path: String): Map[String, Digest.Result] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(path))
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Digest.Result(v.get("types").asText, v.get("rows").asLong,
        v.get("sum").asText)
    }.toMap
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def run(o: Map[String, String]): Unit = {
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val cores = o.getOrElse("cores", "4").toInt
    val work = new File(o("work")).getAbsolutePath
    val out = new File(o("out"))
    out.mkdirs()
    val records = new PrintWriter(new File(out, "records.jsonl"))

    // deployment settings only: the engine's shipped defaults otherwise
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (trace)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[QeListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new Trace.Listener)

    val h = new Harness(spark, name, o("data"), work, records)
    h.emit("kind" -> "start", "workload" -> name, "seed" -> seed,
      "trace" -> trace, "cores" -> cores,
      "jvm_start_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime)
    val read = workloads(name) match {
      case Nil => None
      case qs => Some(new ReadWorkload(h, qs, loadOracle(o("oracle"))))
    }
    val w: Workload = read.getOrElse(new LakeWorkload(h))
    val rng = new Random(seed)
    w.setup()
    val warmups = o.getOrElse("warmups", "1").toInt
    for (i <- 1 to warmups) {
      h.round = -i
      w.round(rng)
    }
    h.emit("kind" -> "measure", "start_us" -> Clock.nowUs)

    // closed loop: whole rounds until the measuring time is used up; a
    // traced run interleaves traced and untraced rounds (T U U T T U ...,
    // balanced against drift) so the recorder's overhead is measured in
    // the same process
    val minRounds = o.getOrElse("min-rounds", "3").toInt
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r < minRounds || System.nanoTime() < deadline) {
      h.round = r
      Trace.enabled = trace && (r % 4 == 0 || r % 4 == 3)
      w.round(rng)
      Trace.enabled = false
      r += 1
    }
    if (trace) {
      val prober = read.getOrElse(new ReadWorkload(h, Nil, Map.empty))
      h.round = -100
      (1 to 3).foreach(_ => prober.probe(o("probe-data")))
      val spanOut = new PrintWriter(new File(out, "spans.jsonl"))
      Trace.allSpans.foreach(s => spanOut.println(s.json))
      spanOut.close()
    }
    h.emit("kind" -> "end", "rounds" -> r, "peak_rss_mb" -> peakRssMb())
    records.close()
    spark.stop()
  }
}
