package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark process: the session, the record file and the op
  * protocol every workload goes through.
  *
  * An op is one closed-loop client call. Its timed window covers exactly
  * the call; releasing per-op pins, draining listeners and checking the
  * output all happen after the window closes. A thrown or mismatched op
  * is recorded as failed, never dropped. */
final class Harness(val spark: SparkSession, val workload: String,
    val dataDir: String, val workDir: String, out: PrintWriter) {

  /** Round index of the op being run; negative for warm-up passes. */
  var round = 0

  private val notes = mutable.LinkedHashMap[String, Any]()
  /** Attach a value to the current op's record (outside-window facts such
    * as files rewritten or rows matched). */
  def note(k: String, v: Any): Unit = notes(k) = v

  def emit(kv: (String, Any)*): Unit = {
    out.println(Json.obj(kv: _*))
    out.flush()
  }

  /** Release what layout operators pin for the duration of one query
    * (the same per-op hygiene graft.Bench applies between queries). */
  private def releasePins(): Unit = {
    graft.ops.BigWindow.releaseCaches()
    graft.ops.Dedup.releaseCaches()
    graft.plans.ProbeAgg.releaseBroadcasts()
  }

  /** Run one op: `body` gets the op's span id (to parent its own spans)
    * and is timed; `check` runs afterwards and returns a mismatch reason. */
  def op[T](name: String, kind: String)(body: Long => T)(
      check: T => Option[String]): Unit = {
    val sc = spark.sparkContext
    val isTraced = Trace.enabled
    val acc = new OpAcc(Trace.nextId())
    notes.clear()
    val hits0 = graft.plans.ProbeAgg.probeCacheHits.get
    val misses0 = graft.plans.ProbeAgg.probeCacheMisses.get
    if (isTraced) {
      Trace.begin(acc)
      sc.setLocalProperty(Trace.OpProperty, acc.id.toString)
    }
    val startUs = Clock.nowUs
    val t0 = System.nanoTime()
    val res: Either[Throwable, T] =
      try Right(body(acc.id)) catch { case e: Throwable => Left(e) }
    val wallNs = System.nanoTime() - t0
    val endUs = Clock.nowUs
    releasePins()
    if (isTraced) {
      sc.setLocalProperty(Trace.OpProperty, null)
      PerfbenchBridge.drainListeners(sc)
      Trace.end()
      Trace.clearOpState()
      Trace.add(Span(acc.id, s"$workload/$round/$name", startUs, endUs, 0L,
        acc.id))
    }
    val c0 = System.nanoTime()
    val verdict: Option[String] = res match {
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw: $e") }
      case Left(e) => Some(s"op threw: ${e.toString.take(500)}")
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    verdict.foreach(v => System.err.println(s"[perfbench] $name: $v"))
    val base = Seq[(String, Any)]("kind" -> "op", "round" -> round,
      "traced" -> isTraced, "op" -> name, "type" -> kind, "id" -> acc.id,
      "wall_s" -> wallNs / 1e9, "check_s" -> checkS,
      "start_us" -> startUs, "end_us" -> endUs,
      "ok" -> verdict.isEmpty, "err" -> verdict.orNull,
      "probe_cache_hits" -> (graft.plans.ProbeAgg.probeCacheHits.get - hits0),
      "probe_cache_misses" ->
        (graft.plans.ProbeAgg.probeCacheMisses.get - misses0))
    val layers = if (isTraced) acc.fields else Nil
    emit(base ++ layers ++ notes.toSeq: _*)
  }

  /** Bytes under a directory. */
  def du(path: String): Long = {
    def go(f: File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(go).sum).getOrElse(0L)
    go(new File(path))
  }
}
