package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core._
import graft.engine.Engine
import graft.streaming.StreamIngest

class EvolutionStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    Files.createTempDirectory("evo").toString + "/t"

  override def afterAll(): Unit = spark.stop()

  test("rename column: old files keep reading via field ids") {
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.ctas(spark, dir, n)
    Engine.renameColumn(tbl, "n_name", "nation_name")
    assert(tbl.schema.fieldNames.contains("nation_name"))
    // rows written under the OLD name still resolve (field-id match)
    val vals = tbl.toDF.select("nation_name").collect().map(_.getString(0))
    assert(vals.toSet == n.select("n_name").collect().map(_.getString(0)).toSet)
    // and new writes under the new name coexist with old files
    Engine.insert(tbl, tbl.toDF.limit(2))
    assert(tbl.toDF.filter(col("nation_name").isNull).count() == 0)
    assert(tbl.toDF.count() == n.count() + 2)
  }

  test("add column: old files read as null; drop column hides data") {
    val dir = tmp()
    val r = Tables.load(spark, sf, "region")
    val tbl = Engine.ctas(spark, dir, r)
    Engine.addColumn(tbl, "score", "DOUBLE")
    assert(tbl.toDF.filter(col("score").isNull).count() == r.count())
    Engine.insert(tbl, tbl.toDF.limit(1)
      .withColumn("score", lit(9.5)))
    assert(tbl.toDF.filter(col("score") === 9.5).count() == 1)
    Engine.dropColumn(tbl, "score")
    assert(!tbl.schema.fieldNames.contains("score"))
    assert(tbl.toDF.count() == r.count() + 1)
  }

  test("rewrites after rename or drop+re-add resolve columns by field id " +
      "in a session that never read the table") {
    // every step runs on a fresh session, so no earlier toDF has set a
    // read flag the rewrite could lean on
    def fresh(dir: String): LakeTable = LakeTable.load(spark.newSession(), dir)
    def make(): String = {
      val dir = tmp()
      val s = spark.newSession()
      Engine.ctas(s, dir, s.range(100).repartition(2)
        .select(col("id").as("a"), (col("id") * 10).as("b"), lit(1).as("x")))
      dir
    }
    def pairs(tbl: LakeTable, c: String): Seq[(Long, Any)] =
      tbl.toDF.select("a", c).collect().toSeq
        .map(r => (r.getLong(0), r.get(1))).sortBy(_._1)
    val expected: Seq[(Long, Any)] = (0L until 100L).map(i => (i, i * 10))

    // rename, then compact: the renamed column keeps its values
    val renamed = make()
    Engine.renameColumn(fresh(renamed), "b", "c")
    assert(Engine.compact(fresh(renamed)) == 1)
    assert(pairs(fresh(renamed), "c") == expected)

    // rename, then a COW update: rewritten files keep the renamed column
    val updated = make()
    Engine.renameColumn(fresh(updated), "b", "c")
    val res = Engine.update(fresh(updated), col("a") < 50,
      Map("a" -> col("a")))
    assert(res.rewrittenFiles > 0)
    assert(pairs(fresh(updated), "c") == expected)

    // drop + re-add under the same name (a fresh field id, since b is not
    // the highest): the new column starts empty and compaction must not
    // resurrect the dropped column's values
    val readded = make()
    Engine.dropColumn(fresh(readded), "b")
    Engine.addColumn(fresh(readded), "b", "BIGINT")
    assert(Engine.compact(fresh(readded)) == 1)
    val t = fresh(readded)
    assert(t.toDF.count() == 100)
    assert(t.toDF.filter(col("b").isNotNull).count() == 0)
  }

  test("alter column type: widening reads old files, writes new type") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("float").as("qty"),
        col("l_extendedprice").cast("decimal(10,2)").as("price"))
    val tbl = Engine.ctas(spark, dir, li)
    val before = tbl.toDF.agg(
      sum(col("l_linenumber").cast("long")), sum(col("qty").cast("double")),
      sum(col("price"))).head()
    // widen: int -> bigint, float -> double, decimal(10,2) -> (16,4)
    Engine.alterColumnType(tbl, "l_linenumber", "BIGINT")
    Engine.alterColumnType(tbl, "qty", "DOUBLE")
    Engine.alterColumnType(tbl, "price", "DECIMAL(16,4)")
    assert(tbl.schema("l_linenumber").dataType ==
      org.apache.spark.sql.types.LongType)
    // old int32/float/decimal(10,2) files read through native promotion
    val after = tbl.toDF.agg(sum("l_linenumber"), sum("qty"), sum("price"))
      .head()
    assert(after.getLong(0) == before.getLong(0))
    assert(after.getDouble(1) == before.getDouble(1))
    assert(after.getDecimal(2).compareTo(before.getDecimal(2)) == 0)
    // new writes carry the widened type; generations mix in one scan
    Engine.insert(tbl, tbl.toDF.limit(10))
    assert(tbl.toDF.count() == li.count() + 10)
    // pruning still works across generations (stats re-typed on parse)
    val (_, stats) = tbl.scan(col("l_orderkey") < 10)
    assert(stats.scanned + stats.skipped > 0)
    // narrowing and incompatible changes are rejected
    intercept[IllegalArgumentException](
      Engine.alterColumnType(tbl, "l_linenumber", "INT"))
    intercept[IllegalArgumentException](
      Engine.alterColumnType(tbl, "price", "DECIMAL(8,2)"))
    intercept[IllegalArgumentException](
      Engine.alterColumnType(tbl, "qty", "STRING"))
  }

  test("streaming micro-batch append: one snapshot per batch") {
    val srcDir = Files.createTempDirectory("stream_src").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.create(spark, dir, n.schema.toDDL)

    // batch 1
    n.filter(col("n_nationkey") < 10).write.parquet(s"$srcDir/b1")
    val stream1 = spark.readStream.schema(n.schema).parquet(s"$srcDir/b1")
    val q1 = StreamIngest.appendStream(tbl, stream1, s"$ckpt/c1")
    q1.awaitTermination(60000)
    assert(tbl.toDF.count() == 10)
    val snapsAfterB1 = tbl.meta.snapshots.size

    // batch 2 into a second stream dir
    n.filter(col("n_nationkey") >= 10).write.parquet(s"$srcDir/b2")
    val stream2 = spark.readStream.schema(n.schema).parquet(s"$srcDir/b2")
    val q2 = StreamIngest.appendStream(tbl, stream2, s"$ckpt/c2")
    q2.awaitTermination(60000)
    assert(tbl.toDF.count() == n.count())
    assert(tbl.meta.snapshots.size > snapsAfterB1)
    // operations recorded as appends
    assert(tbl.meta.snapshots.count(_.operation == "append") >= 2)
  }

  test("maintenance tick (autovacuum analogue): no-op below the " +
      "small-file threshold, compacts above it, and rides appendStream") {
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.create(spark, dir, n.schema.toDDL)
    // accrete small files: 5 single-row inserts
    (0 until 5).foreach(i =>
      Engine.insert(LakeTable.load(spark, dir),
        n.filter(col("n_nationkey") === i)))
    val t5 = LakeTable.load(spark, dir)
    val files5 = t5.liveFiles.filterNot(_.isDelete).size
    assert(files5 >= 5)
    // below threshold: the tick must not touch data
    assert(Engine.maintenanceTick(t5, minSmallFiles = 100) == 0)
    assert(LakeTable.load(spark, dir).liveFiles
      .filterNot(_.isDelete).size == files5)
    // above threshold: compaction rounds run and the file count drops
    assert(Engine.maintenanceTick(t5, minSmallFiles = 3) > 0)
    val after = LakeTable.load(spark, dir)
    assert(after.liveFiles.filterNot(_.isDelete).size < files5)
    assert(after.toDF.count() == 5)

    // rider on the ingest trigger: appendStream with maintainEvery=1
    // compacts the accreted small files as part of the batch cycle
    val srcDir = Files.createTempDirectory("mt_src").toString
    val ckpt = Files.createTempDirectory("mt_ckpt").toString
    n.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 10)
      .repartition(5).write.parquet(s"$srcDir/b1")
    val stream = spark.readStream.schema(n.schema).parquet(s"$srcDir/b1")
    val q = StreamIngest.appendStream(after, stream, ckpt,
      maintainEvery = 1, maintainMinSmallFiles = 2)
    q.awaitTermination(60000)
    val t2 = LakeTable.load(spark, dir)
    assert(t2.toDF.count() == 10)
    assert(t2.meta.snapshots.exists(_.operation == "compact"),
      "the ingest-riding tick must have committed a compaction")
  }

  test("cluster tick rides appendStream: appends stale the declared " +
      "layout, the rider re-converges it within the batch cycle") {
    import graft.engine.ClusterLayout
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.ctas(spark, dir, n.filter(col("n_nationkey") < 15))
    ClusterLayout.declare(tbl, Seq("n_nationkey"), 2)
    assert(ClusterLayout.converge(tbl), "initial convergence failed")
    assert(ClusterLayout.isConverged(tbl))
    // stream in the remaining rows: each micro-batch append STALES the
    // layout; clusterEvery=1 must fold it back in as part of the cycle
    val srcDir = Files.createTempDirectory("cl_src").toString
    val ckpt = Files.createTempDirectory("cl_ckpt").toString
    n.filter(col("n_nationkey") >= 15).write.parquet(s"$srcDir/b1")
    val stream = spark.readStream.schema(n.schema).parquet(s"$srcDir/b1")
    val q = StreamIngest.appendStream(tbl, stream, ckpt,
      clusterEvery = 1, clusterMaxRoundsPerTick = 16)
    q.awaitTermination(60000)
    val after = LakeTable.load(spark, dir)
    assert(after.toDF.count() == n.count())
    assert(ClusterLayout.isConverged(after),
      "the rider must have re-converged the layout")
    // the converged read serves the full row set from the layout
    assert(ClusterLayout.read(after).count() == n.count())
  }

  test("upsertStream applies CDC batches by key (last-wins on the " +
      "ordering column) and the maintenance rider drains the deletion " +
      "queue") {
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.ctas(spark, dir, n)
    val total = n.count()
    // CDC envelope: table columns + an event-ordering column; key 5
    // carries TWO events in the batch — the later one must win
    val srcDir = Files.createTempDirectory("ups_src").toString
    val ckpt = Files.createTempDirectory("ups_ckpt").toString
    val b1 = n.filter(col("n_nationkey") === 5)
      .withColumn("n_name", lit("stale")).withColumn("_lsn", lit(1L))
      .union(n.filter(col("n_nationkey") === 5)
        .withColumn("n_name", lit("fresh")).withColumn("_lsn", lit(2L)))
      .union(n.filter(col("n_nationkey") === 6)
        .withColumn("n_name", lit("six-v2")).withColumn("_lsn", lit(1L)))
    b1.write.parquet(s"$srcDir/b1")
    val stream = spark.readStream.schema(b1.schema).parquet(s"$srcDir/b1")
    val q = StreamIngest.upsertStream(tbl, stream, Seq("n_nationkey"),
      ckpt, orderCol = Some("_lsn"),
      maintainEvery = 1, maintainMinDeleteFiles = 1)
    q.awaitTermination(60000)
    val after = LakeTable.load(spark, dir)
    assert(after.toDF.count() == total, "upsert must not change row count")
    assert(after.toDF.filter(col("n_nationkey") === 5)
      .select("n_name").collect().map(_.getString(0)).toSeq == Seq("fresh"),
      "the higher-_lsn event must win within the batch")
    assert(after.toDF.filter(col("n_nationkey") === 6)
      .select("n_name").collect().map(_.getString(0)).toSeq == Seq("six-v2"))
    // the rider's tick (minDeleteFiles=1) flushed the equality deletes
    assert(after.liveFiles.forall(!_.isAnyDelete),
      "maintenance rider should have drained the deletion queue")
    assert(after.meta.snapshots.exists(_.operation == "flush-deletes"))
  }

  test("streaming dedup drops watermark-window duplicates, keeps the rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val deduped = StreamIngest.dedupStream(
      input.toDF.toDF("ts", "text"), "ts", "text", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: a and b, plus a retry-duplicate of a at a later minute
      input.addData((ts(0), "doc a"), (ts(1), "doc b"), (ts(3), "doc a"))
      q.processAllAvailable()
      // batch 2: late duplicate of b inside the window -> dropped; c new
      input.addData((ts(5), "doc b"), (ts(6), "doc c"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("text")
        .collect().map(_.getString(0)).sorted
      assert(out.sameElements(Array("doc a", "doc b", "doc c")), out.toSeq)
      // ≡ batch semantics on the same content key
      val batch = Seq((ts(0), "doc a"), (ts(1), "doc b"), (ts(3), "doc a"),
        (ts(5), "doc b"), (ts(6), "doc c")).toDF("ts", "text")
        .dropDuplicates("text")
      assert(batch.count() == out.length)
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the lookback, " +
      "matches batch semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val clicks = MemoryStream[(java.sql.Timestamp, Long, String)]
    val views = MemoryStream[(java.sql.Timestamp, Long, String)]
    val joined = StreamIngest.intervalJoin(
      clicks.toDF.toDF("ts", "user_id", "cid"),
      views.toDF.toDF("ts", "user_id", "vid"),
      "user_id", "ts", "ts", lookback = "10 minutes",
      watermark = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      views.addData((ts(0), 1L, "v1"), (ts(5), 1L, "v2"),
        (ts(0), 2L, "v3"), (ts(30), 1L, "v4"))
      clicks.addData((ts(8), 1L, "c1"), // pairs v1 (8m back) and v2 (3m)
        (ts(12), 1L, "c2"), // pairs v2 only (v1 is 12m back, outside)
        (ts(9), 3L, "c3")) // keyless: no view for user 3
      q.processAllAvailable()
      val got = spark.table("ij_out")
        .select("l_cid", "r_vid").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("c1", "v1"), ("c1", "v2"), ("c2", "v2")), got)
      // batch-equivalent semantics on the same data
      val bc = Seq((ts(8), 1L, "c1"), (ts(12), 1L, "c2"), (ts(9), 3L, "c3"))
        .toDF("ts", "user_id", "cid")
      val bv = Seq((ts(0), 1L, "v1"), (ts(5), 1L, "v2"), (ts(0), 2L, "v3"),
        (ts(30), 1L, "v4")).toDF("ts", "user_id", "vid")
      val batch = bc.as("c").join(bv.as("v"),
          col("c.user_id") === col("v.user_id") &&
            col("v.ts") <= col("c.ts") &&
            col("v.ts") >= col("c.ts") - expr("INTERVAL 10 minutes"))
        .select("cid", "vid").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("lake-cdc stream: tails commits, skips compaction rewrites, exactly-once") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val tbl = Engine.ctas(spark, dir, li.filter(col("l_returnflag") === "A"))
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("lake-cdc")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add((id, batch.count())); ()
      }
      .start()
    try {
      q.processAllAvailable()
      val first = seen.iterator().next()._2
      assert(first == li.filter(col("l_returnflag") === "A").count())

      // an appended commit arrives as its own batch
      Engine.insert(tbl, li.filter(col("l_returnflag") === "R"))
      q.processAllAvailable()
      val counts = seen.iterator()
      counts.next()
      assert(counts.next()._2 ==
        li.filter(col("l_returnflag") === "R").count())

      // compaction rewrites every file but appends no rows: the CDC
      // stream must emit NOTHING for it (the duplicate-replay bug the
      // advisor flagged in appendsBetween)
      Engine.compact(tbl)
      q.processAllAvailable()
      // one more real append still flows after the compaction
      Engine.insert(tbl, li.filter(col("l_returnflag") === "N").limit(10))
      q.processAllAvailable()
      val all = {
        val it = seen.iterator()
        Iterator.continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten.toSeq
      }
      assert(all.map(_._2).sum ==
        li.filter(col("l_returnflag") === "A").count() +
        li.filter(col("l_returnflag") === "R").count() + 10,
        s"batches: $all")
    } finally q.stop()
  }

  test("lake-cdc maxSnapshotsPerBatch drains a backlog in bounded batches") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val a = li.filter(col("l_returnflag") === "A")
    val tbl = Engine.ctas(spark, dir, a.limit(5))
    // backlog: three more commits BEFORE the stream starts
    (1 to 3).foreach(i => Engine.insert(tbl, a.limit(5 + i)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("lake-cdc")
      .option("path", dir)
      .option("maxSnapshotsPerBatch", "1")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdcb").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add((id, batch.count())); ()
      }
      .start()
    try {
      q.processAllAvailable()
      val batches = {
        val it = seen.iterator()
        Iterator.continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten.toSeq
      }
      // five snapshots (ctas = create + insert, then 3 inserts) -> five
      // one-snapshot batches (the create commit is an empty batch), not
      // one backlog-sized batch; nothing lost, nothing duplicated
      assert(batches.size == 5, s"batches: $batches")
      assert(batches.map(_._2) == Seq(0L, 5L, 6L, 7L, 8L),
        s"batches: $batches")
    } finally q.stop()
  }

  test("lake-cdc cap survives a checkpoint restart without re-emitting") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val a = li.filter(col("l_returnflag") === "A")
    val tbl = Engine.ctas(spark, dir, a.limit(3))
    Engine.insert(tbl, a.limit(4))
    val ckpt = Files.createTempDirectory("cdc_restart").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def startQ() = spark.readStream.format("lake-cdc")
      .option("path", dir)
      .option("maxSnapshotsPerBatch", "1")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(batch.count()); ()
      }
      .start()
    val q1 = startQ()
    try { q1.processAllAvailable() } finally q1.stop()
    // two more commits while the stream is DOWN, then restart from the
    // checkpoint: a capped source that regressed its base here would
    // re-emit the pre-restart snapshots
    Engine.insert(tbl, a.limit(5))
    Engine.insert(tbl, a.limit(6))
    val q2 = startQ()
    try { q2.processAllAvailable() } finally q2.stop()
    val counts = {
      val it = seen.iterator()
      Iterator.continually(if (it.hasNext) Some(it.next()) else None)
        .takeWhile(_.isDefined).flatten.toSeq
    }
    // ctas = create(empty) + insert(3); the capped restart continues
    // from the checkpoint instead of replaying
    assert(counts == Seq(0L, 3L, 4L, 5L, 6L), s"batches: $counts")
  }

  test("windowed aggregation with watermark over the events fixture") {
    val ev = Tables.load(spark, sf, "events")
    val agg = StreamIngest.windowedCounts(ev, "ts", "value", "1 hour",
      "10 minutes")
    // batch execution of the same plan (streaming semantics superset)
    val total = agg.agg(sum("n")).head().getLong(0)
    assert(total == ev.count())
    assert(agg.count() > 10)
  }

  test("engine.sql over registered lake tables with PG shims") {
    val dir = tmp()
    val tbl = Engine.ctas(spark, dir, Tables.load(spark, sf, "nation"))
    val out = Engine.sql(spark, Map("lake_nation" -> tbl),
      "SELECT pg_initcap(n_name) AS n, n_nationkey FROM lake_nation " +
        "WHERE n_nationkey < 5 ORDER BY n_nationkey")
    assert(out.count() == 5)
  }

  test("transparent pruning: spark.sql over a registered lake table skips files") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li,
      spec = List(PartitionField("l_shipdate", "year")))
    val index = Engine.registerTable(tbl, "lake_lineitem")
    val total = tbl.liveFiles.size
    val out = spark.sql(
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS q
        |FROM lake_lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01'""".stripMargin).head()
    val stats = index.lastScan.get()
    assert(stats.skipped > 0, s"no files skipped: $stats")
    assert(stats.scanned < total)
    val expected = li.filter(
      col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
    assert(out.getLong(0) == expected.count())
    // unfiltered query sees everything
    assert(spark.sql("SELECT count(*) FROM lake_lineitem").head().getLong(0)
      == li.count())
  }

  test("iceberg metadata export is spec-shaped") {
    val dir = tmp()
    val tbl = Engine.ctas(spark, dir, Tables.load(spark, sf, "orders"),
      spec = List(PartitionField("o_orderdate", "month")))
    Engine.delete(tbl, col("o_totalprice") < 1000)
    val out = Files.createTempDirectory("iceberg_export").toString
    // JSON manifest variant here (the default Avro chain is round-trip
    // tested through IcebergImport in IcebergInteropSpec)
    val metaPath = graft.core.IcebergExport.export(tbl, out,
      avroManifests = false)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(metaPath)))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val doc = org.json4s.jackson.JsonMethods.parse(json)
    assert((doc \ "format-version").extract[Int] == 2)
    assert((doc \ "current-snapshot-id").extract[Long] ==
      tbl.meta.currentSnapshotId)
    val fields = (doc \ "schemas")(0) \ "fields"
    assert(fields.children.size == tbl.schema.fields.length)
    val specs = ((doc \ "partition-specs")(0) \ "fields")(0)
    assert((specs \ "transform").extract[String] == "month")
    // manifest listing for the current snapshot exists and counts match
    val mf = (doc \ "snapshots").children
      .find(s => (s \ "snapshot-id").extract[Long] ==
        tbl.meta.currentSnapshotId).get
    val listing = new String(Files.readAllBytes(java.nio.file.Paths.get(
      out, (mf \ "manifest-list").extract[String])))
    val entries = org.json4s.jackson.JsonMethods.parse(listing).children
    assert(entries.size == tbl.liveFiles.size)
  }

  test("salted aggregation and join match their unsalted plans") {
    val li = Tables.load(spark, sf, "lineitem")
    val plain = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.ops.Skew.saltedCount(li, "l_returnflag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    val dim = Tables.load(spark, sf, "nation")
    val plainJoin = li.join(dim, col("l_suppkey") % 25 === col("n_nationkey"))
      .count()
    val saltedJoin = graft.ops.Skew.saltedJoin(
      li.withColumn("nk", col("l_suppkey") % 25), dim, "nk", "n_nationkey")
      .count()
    assert(saltedJoin == plainJoin)
  }

  test("file utility surface: list/size/exists") {
    val dir = tmp()
    val tbl = Engine.ctas(spark, dir, Tables.load(spark, sf, "region"))
    val files = tbl.filesDF
    assert(files.count() == tbl.liveFiles.size)
    val sizes = files.select("size_bytes").collect().map(_.getLong(0))
    assert(sizes.forall(_ > 0))
    assert(tbl.snapshotsDF.count() == tbl.meta.snapshots.size)
  }

  test("filename column rides along and filters still push to the scan") {
    import org.apache.spark.sql.functions.col
    val named = graft.engine.LakeFiles.withFilename(
      Tables.load(spark, sf, "nation"))
    val rows = named.filter(col("n_regionkey") === 2)
      .select("n_name", "filename").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1).contains("nation.parquet")))
    // deterministic tag → the filter reaches the parquet scan
    val p = named.filter(col("n_regionkey") === 2).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(n_regionkey), " +
      "EqualTo(n_regionkey,2)]"), p)
  }
}
