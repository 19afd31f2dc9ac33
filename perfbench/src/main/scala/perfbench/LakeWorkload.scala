package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.core.{LakeTable, PartitionField}
import graft.engine.Engine

/** lake_dml: the write path. Every round builds a fresh month-partitioned
  * lake table from six months of lineitem (6 partitions) and applies a
  * seeded op sequence — small appends of the next three months' rows, COW
  * and MOR deletes, COW update, upsert, merge, lake reads, COPY out and
  * back in, then maintenance. A plain-DataFrame model of
  * the same ops (no lake code) gives the expected rows: every read is
  * compared with the model, and the table's row multiset is compared
  * with it at the end of the round. */
final class LakeWorkload(h: Harness) extends Workload {
  import h.spark
  import LakeWorkload._

  private val keys = Seq("l_orderkey", "l_linenumber")
  private lazy val li = spark.read.parquet(s"${h.dataDir}/lineitem.parquet")
  private lazy val cols = li.columns.toSeq
  private lazy val schema = li.schema
  private lazy val keyIdx = schema.fieldIndex("l_orderkey")
  private val spec = List(PartitionField("l_shipdate", "month"))
  /** The table holds ship months 1996-01..06; appends bring 07..09. */
  private val tableMonths = 6
  private val months: IndexedSeq[LocalDateTime] =
    (0 to 9).map(i => LocalDateTime.of(1996, 1, 1, 0, 0).plusMonths(i))
  private lazy val base = li.filter(monthPred(0, tableMonths))
  /** The model's copy of `base`, materialised once so model checks do
    * not re-scan the fixture (a separate plan, so the engine's CTAS never
    * reads it). */
  private var modelBase: DataFrame = _

  /** Generator pools, fixed 1-in-10 samples sorted by ship date: rows of
    * the table (DML sources) and of the following months (appends). */
  private var tablePool, appendPool: Array[Row] = Array.empty
  private var minKey, maxKey = 0L

  def setup(): Unit = {
    def sample(df: DataFrame) =
      df.filter(pmod(xxhash64(keys.map(col): _*), lit(10)) === 0)
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber").collect()
    tablePool = sample(base)
    appendPool = sample(li.filter(monthPred(tableMonths, 3)))
    modelBase = base.localCheckpoint()
    val r = base.agg(min("l_orderkey"), max("l_orderkey")).head()
    minKey = r.getLong(0)
    maxKey = r.getLong(1)
  }

  private def tsLit(t: LocalDateTime): Column =
    if (schema("l_shipdate").dataType == TimestampNTZType) lit(t)
    else lit(java.sql.Timestamp.valueOf(t))

  /** Ship date within months [i, i + n) of the nine the workload covers. */
  private def monthPred(i: Int, n: Int = 1): Column =
    col("l_shipdate") >= tsLit(months(i)) &&
      col("l_shipdate") < tsLit(months(i + n))

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def withKey(r: Row, k: Long): Row =
    Row.fromSeq(r.toSeq.updated(keyIdx, k))

  /** `n` table-pool rows with pairwise-distinct keys from a seeded window
    * of about six weeks of ship dates (a batch of recent corrections). */
  private def distinctRows(rng: Random, n: Int): Seq[Row] = {
    val w = 4 * n
    val s = rng.nextInt(tablePool.length - w)
    rng.shuffle(tablePool.slice(s, s + w).toIndexedSeq)
      .distinctBy(r => (r.getLong(0), r.getInt(3))).take(n)
  }

  /** Key-unique DML source: half existing keys with changed quantity, half
    * new keys (offset past every fixture and append key). */
  private def dmlSource(rng: Random, keyBase: Long): Seq[Row] = {
    val upd = distinctRows(rng, BatchRows / 2).map { r =>
      val q = schema.fieldIndex("l_quantity")
      Row.fromSeq(r.toSeq.updated(q, r.getDouble(q) + 100.0))
    }
    val ins = distinctRows(rng, BatchRows - upd.size).zipWithIndex
      .map { case (r, i) => withKey(r, keyBase + i) }
    upd ++ ins
  }

  /** Exact aggregate a lake read returns and the model is checked on. */
  private def summary(df: DataFrame): Seq[Any] =
    df.agg(count(lit(1)), sum("l_orderkey"),
      sum(functions.round(col("l_extendedprice") * 100).cast("long")),
      sum(col("l_quantity").cast("long"))).head().toSeq

  /** Row-multiset fingerprint: count plus summed row hashes. */
  private def fingerprint(df: DataFrame): Seq[Any] = {
    val x = xxhash64(cols.map(col): _*)
    df.agg(count(lit(1)), sum(x.bitwiseAND(0xffffffffL)),
      sum(shiftrightunsigned(x, 32)),
      sum(hash(cols.map(col): _*).cast("long"))).head().toSeq
  }

  private def same(what: String, got: Seq[Any], want: Seq[Any]) =
    if (got == want) None else Some(s"$what $got, model $want")

  def round(rng: Random): Unit = {
    val dir = s"${h.workDir}/lake-r${h.round}"
    val tdir = s"$dir/table"
    deleteTree(dir)
    var model: DataFrame = modelBase
    var tbl: LakeTable = null
    var liveBefore: Map[String, Long] = Map.empty

    // ---- generated inputs (before any op: the engine sees only these)
    val nAppends = if (h.round < 0) WarmupAppends else AppendsPerRound
    val appends = (0 until nAppends).map { i =>
      val s = rng.nextInt(appendPool.length - AppendRows)
      appendPool.slice(s, s + AppendRows).toSeq
        .map(r => withKey(r, 100000000L * (i + 1) + r.getLong(keyIdx)))
    }
    val readAt = rng.shuffle((0 until nAppends).toList).take(2).toSet
    val delPred = monthPred(rng.nextInt(tableMonths)) &&
      col("l_returnflag") === "R"
    val updPred = monthPred(rng.nextInt(tableMonths)) && col("l_quantity") < 10
    val updSet = Map("l_discount" -> (col("l_discount") + 0.01))
    val morLo = minKey + (rng.nextDouble() * (maxKey - minKey) * 0.99).toLong
    val morPred = col("l_orderkey").between(morLo, morLo + (maxKey - minKey) / 400)
    val mergeSrc = dmlSource(rng, 9000000000L)
    val upsertSrc = dmlSource(rng, 8000000000L)
    val cowOrder = rng.shuffle(Seq("delete", "update", "merge"))
    val morOrder = rng.shuffle(Seq("delete_mor", "upsert"))
    val readPreds = Seq.fill(4)(monthPred(rng.nextInt(months.size - 3), 3))
    val copyPred = monthPred(rng.nextInt(tableMonths))

    /** Commit-side bookkeeping after each write (outside the window):
      * in traced rounds time the metadata reads and diff the live file
      * set to count files rewritten. */
    def afterCommit(opId: Long): Option[String] = {
      if (Trace.enabled) {
        Trace.span("core.meta_read", opId, opId)(tbl.meta)
        val live = Trace.span("core.live_files", opId, opId)(tbl.liveFiles)
          .filterNot(_.isAnyDelete).map(f => f.path -> f.rowCount).toMap
        val gone = liveBefore.keySet -- live.keySet
        h.note("files_rewritten", gone.size)
        h.note("rewritten_rows", gone.toSeq.map(liveBefore).sum)
        liveBefore = live
      }
      None
    }
    def write(name: String)(body: => Any): Unit = {
      var opId = 0L
      h.op(name, name) { id =>
        opId = id
        Trace.span(s"engine.$name", id, id)(body) match {
          case r: Engine.DmlResult => h.note("matched_rows", r.matchedRows)
          case _ =>
        }
      }(_ => afterCommit(opId))
    }
    var readNo = 0
    def scanRead(): Unit = {
      val pred = readPreds(readNo % readPreds.size)
      readNo += 1
      val want = model.filter(pred)
      h.op("scan", "read") { id =>
        val (df, st) = Trace.span("core.scan", id, id)(tbl.scan(pred))
        h.note("files_scanned", st.scanned)
        h.note("files_skipped", st.skipped)
        summary(df)
      }(got => same("scan", got, summary(want)))
    }

    var ctasId = 0L
    h.op("ctas", "ctas") { id =>
      ctasId = id
      tbl = Trace.span("engine.ctas", id, id)(
        Engine.ctas(spark, tdir, base, spec))
    }(_ => afterCommit(ctasId))
    if (tbl == null) return
    val cdcFrom = tbl.meta.currentSnapshotId

    appends.zipWithIndex.foreach { case (rows, i) =>
      write("append")(Engine.insert(tbl, local(rows)))
      if (readAt(i)) {
        model = modelBase.unionByName(local(appends.take(i + 1).flatten))
        scanRead()
      }
    }
    val cdcTo = tbl.meta.currentSnapshotId
    val appended = local(appends.flatten)
    model = modelBase.unionByName(appended)
    h.op("cdc", "read") { id =>
      fingerprint(Trace.span("streaming.appends_between", id, id)(
        tbl.appendsBetween(cdcFrom, cdcTo)))
    }(got => same("cdc", got, fingerprint(appended)))

    cowOrder.foreach {
      case "delete" =>
        write("delete")(Engine.delete(tbl, delPred))
        model = model.filter(!delPred)
      case "update" =>
        write("update")(Engine.update(tbl, updPred, updSet))
        model = model.select(cols.map(c => updSet.get(c)
          .map(v => when(updPred, v).otherwise(col(c)).as(c))
          .getOrElse(col(c))): _*)
      case "merge" =>
        val src = local(mergeSrc)
        write("merge")(Engine.merge(tbl, src, keys,
          whenMatchedUpdate = Some(mergeSet)))
        model = mergeModel(model, src)
    }
    scanRead()
    morOrder.foreach {
      case "delete_mor" =>
        write("delete_mor")(Engine.deleteMor(tbl, morPred))
        model = model.filter(!morPred)
      case "upsert" =>
        val src = local(upsertSrc)
        write("upsert")(Engine.upsertByKey(tbl, keys, src))
        model = model.join(src.select(keys.map(col): _*), keys, "left_anti")
          .select(cols.map(col): _*).unionByName(src)
    }
    val modelNow = model
    h.op("to_df", "read") { id =>
      summary(Trace.span("core.to_df", id, id)(tbl.toDF))
    }(got => same("to_df", got, summary(modelNow)))

    val csv = s"$dir/copy"
    h.op("copy_to", "copy_to") { id =>
      Trace.span("engine.copy_to", id, id)(
        Engine.copyTo(tbl.scan(copyPred)._1, csv, "csv",
          compression = "none", singleFile = true))
    }(_ => None)
    write("copy_from") {
      val file = new java.io.File(csv).listFiles()
        .filter(_.getName.endsWith(".csv")).head.getPath
      val in = Engine.copyFrom(spark, file, "csv", Map("header" -> "true"))
      Engine.insert(tbl, in.select(cols.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*))
    }
    model = model.unionByName(model.filter(copyPred))

    if (h.round == 0) {
      // storage amplification as maintenance starts (data files, pending
      // delete files, metadata), against the same live rows written once
      // by CTAS
      val once = s"$dir/once"
      Engine.ctas(spark, once, tbl.toDF, spec)
      h.emit("kind" -> "storage", "round" -> h.round,
        "table_bytes" -> h.du(tdir), "once_bytes" -> h.du(once))
      deleteTree(once)
    }
    if (Trace.enabled) {
      val m = tbl.meta
      val live = tbl.liveFiles
      h.emit("kind" -> "table_state", "round" -> h.round,
        "snapshots" -> m.snapshots.size,
        "manifests" -> m.currentSnapshot.map(_.manifests.size).getOrElse(0),
        "live_files" -> live.count(!_.isAnyDelete),
        "delete_files" -> live.count(_.isAnyDelete),
        "metadata_bytes" -> h.du(s"$tdir/metadata"),
        "data_bytes" -> h.du(s"$tdir/data"))
    }
    write("flush_deletes")(Engine.flushDeletes(tbl))
    write("compact")(Engine.compact(tbl))
    val finalModel = model
    var expireId = 0L
    h.op("expire", "expire") { id =>
      expireId = id
      Trace.span("engine.expire", id, id)(Engine.expireSnapshots(tbl))
    } { _ =>
      afterCommit(expireId)
      same("table", fingerprint(tbl.toDF), fingerprint(finalModel))
    }
    deleteTree(dir)
  }

  /** Columns a MERGE match updates from the source: the measures and
    * flags, not the ship date the table is partitioned on. */
  private val mergeSet = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus")

  /** MERGE by key, `mergeSet` updated from the source; source rows
    * matching nothing are inserted. */
  private def mergeModel(target: DataFrame, src: DataFrame): DataFrame = {
    val s = src.select(keys.map(col) ++ mergeSet.map(c => col(c).as(s"_s_$c")): _*)
    val matched = target.join(s, keys, "inner")
      .select(cols.map(c =>
        if (mergeSet.contains(c)) col(s"_s_$c").as(c) else col(c)): _*)
    target.join(src.select(keys.map(col): _*), keys, "left_anti")
      .select(cols.map(col): _*)
      .unionByName(matched)
      .unionByName(src.join(target.select(keys.map(col): _*).distinct(),
        keys, "left_anti").select(cols.map(col): _*))
  }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.deleteIfExists(x))
      finally s.close()
    }
  }
}

object LakeWorkload {
  /** 3 measured rounds x 34 appends give the 100 samples append_p90_s
    * needs (ten beyond p90); the warm-up pass runs the op list with 10. */
  val AppendsPerRound = 34
  val WarmupAppends = 10
  /** Rows per append micro-batch and per MERGE / upsert source. */
  val AppendRows = 200
  val BatchRows = 500
}
