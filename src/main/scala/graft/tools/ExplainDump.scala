package graft.tools

/** Dump `.explain("formatted")` for gate queries to files — the
  * optimization rounds' plan-evidence capture (plans/rNN/<q>_before.txt).
  *
  * Usage: ExplainDump <sfDir> <outDir> <query>[,<query>...] [suffix]
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "before").
  * The session is Bench.session's, so the captured plans are the
  * benched plans.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // "ALL" sweeps every declared gate — the optimization-round plan
    // hygiene audit (grep the output for cartesians / missed pushdown)
    val queries =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = graft.Bench.session(sfDir).spark
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // GRAFT_EXPLAIN_EXEC=1: execute (noop sink) BEFORE dumping, so the
    // capture is the FINAL adaptive plan — AQE stage reuse, coalesced
    // reads and runtime join changes are visible only there
    val exec = sys.env.getOrElse("GRAFT_EXPLAIN_EXEC", "0") == "1"
    queries.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val txt =
        try {
          // execute THIS df's QueryExecution (a noop write would wrap
          // the plan in a new QueryExecution whose stages we can't see)
          if (exec)
            df.queryExecution.toRdd.foreach(_ => ())
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
