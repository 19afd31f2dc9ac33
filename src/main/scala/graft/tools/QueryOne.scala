package graft.tools

/** Time one gate query under ad-hoc session confs — the conf-arm A/B
  * behind the bench tuning notes in BASELINE.md (commit-vs-commit A/Bs
  * run through perfbench/run.py).
  *
  * Usage: QueryOne <sfDir> <query>[,<query>...] [k=v ...]
  * Extra args become session confs over the bench posture (e.g.
  * spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m).
  * Prints warm + best-of-2 per query.
  */
object QueryOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = args(1).split(",").toSeq
    val confs = args.drop(2).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val spark = graft.Bench.session(sfDir, confs).spark
    queries.foreach { q =>
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val w = once()
      val best = Seq.fill(2)(once()).min
      println(f"[one] $q warm=$w%.2f best=$best%.2f")
    }
    spark.stop()
  }
}
