package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core._
import graft.engine.{CsvSniffer, Engine}

class LakehouseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    Files.createTempDirectory("laketest").toString + "/t"

  override def afterAll(): Unit = spark.stop()

  // --- murmur3 / transforms: Iceberg-spec test vectors --------------------

  test("murmur3 bucket hash matches Iceberg spec vectors") {
    assert(Murmur3.hashLong(34L) == 2017239379)
    assert(Murmur3.hashString("iceberg") == 1210000089)
    // timestamp 2017-11-16T22:31:08 = 1510871468000000 micros
    assert(Murmur3.hashLong(1510871468000000L) == -2047944441)
    // date 2017-11-16 = 17486 days
    assert(Murmur3.hashLong(17486L) == -653330422)
  }

  test("time transforms") {
    val micros = 1510871468000000L // 2017-11-16T22:31:08
    assert(Transform.Year(micros) == 47)
    assert(Transform.Month(micros) == 574)
    assert(Transform.Day(micros) == 17486L)
    assert(Transform.Hour(micros) == 419686L)
    assert(Transform.Truncate(10)(97L) == 90L)
    assert(Transform.Truncate(3)("iceberg") == "ice")
    assert(Transform.Bucket(16)(34L) == 2017239379 % 16)
  }

  test("partition spec evolution: old files keep their layout, both prune") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val (oldHalf, newHalf) = (li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 === 1))
    // generation 1: partitioned by month(l_shipdate)
    var tbl = Engine.ctas(spark, dir, oldHalf,
      spec = List(PartitionField("l_shipdate", "month")))
    val gen1 = tbl.liveFiles.map(_.path).toSet
    // evolve: bucket(4) on l_partkey — metadata-only commit
    tbl = Engine.setPartitionSpec(tbl,
      List(PartitionField("l_partkey", "bucket[4]")))
    Engine.insert(tbl, newHalf)
    val files = tbl.liveFiles
    // old files still carry month values; new files carry bucket values
    val monthName = PartitionField("l_shipdate", "month").partName
    val bucketName = PartitionField("l_partkey", "bucket[4]").partName
    assert(files.filter(f => gen1.contains(f.path))
      .forall(_.partition.contains(monthName)))
    assert(files.filterNot(f => gen1.contains(f.path))
      .forall(_.partition.contains(bucketName)))
    // correctness across both generations
    assert(tbl.toDF.count() == li.count())
    val pred = col("l_partkey") === 1234L
    val (df, stats) = tbl.scan(pred)
    assert(df.count() == li.filter(pred).count())
    // bucket pruning skips ~3/4 of the NEW files; old files must-read
    // (their layout has no l_partkey value) unless stats refute them
    val newFiles = files.count(f => !gen1.contains(f.path))
    assert(stats.skipped > 0 && newFiles > 2)
    // and a shipdate predicate still prunes the OLD generation
    val (df2, stats2) = tbl.scan(
      col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
      col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    assert(stats2.skipped > 0)
    assert(df2.count() == li.filter(
      col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
      col("l_shipdate") < lit("1996-04-01").cast("timestamp")).count())
  }

  test("analyze persists table and column statistics") {
    val dir = tmp()
    val tbl = Engine.ctas(spark, dir, Tables.load(spark, sf, "nation"))
    val stats = Engine.analyze(tbl).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats("n_nationkey").getLong(3) == 25L) // row_count (exact)
    // NDV is an HLL estimate (like the reference's sampled ANALYZE):
    // allow the default ~5% relative error
    assert(math.abs(stats("n_nationkey").getLong(1) - 25L) <= 2)
    assert(math.abs(stats("n_regionkey").getLong(1) - 5L) <= 1)
    assert(stats("n_name").getLong(2) == 0L) // no nulls
    // persisted: a fresh table handle sees them without re-analyzing
    val again = Engine.statsDF(LakeTable.load(spark, dir)).collect()
    assert(again.map(_.getString(0)).toSet ==
      Set("n_nationkey", "n_name", "n_regionkey"))
    assert(tbl.meta.properties("stats.row_count") == "25")
  }

  // --- table lifecycle ----------------------------------------------------

  test("create/insert/read round-trip with stats") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li)
    assert(tbl.toDF.count() == li.count())
    val files = tbl.liveFiles
    assert(files.nonEmpty)
    assert(files.map(_.rowCount).sum == li.count())
    // footer stats present for a numeric column
    val st = files.head.stats("l_quantity")
    assert(st.min.isDefined && st.max.isDefined)
  }

  test("file pruning skips files by min/max stats") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.create(spark, dir, li.schema.toDDL)
    // 4 inserts with disjoint l_orderkey ranges -> 4 files with tight stats
    val keys = li.select(max("l_orderkey")).head().getLong(0)
    val q = keys / 4
    for (i <- 0 until 4)
      Engine.insert(tbl, li.filter(col("l_orderkey") >= i * q &&
        (col("l_orderkey") < (i + 1) * q || lit(i == 3))))
    assert(tbl.liveFiles.size >= 4)
    val (df, stats) = tbl.scan(col("l_orderkey") < q / 2)
    assert(stats.skipped >= 2, s"expected >=2 skipped, got $stats")
    val expected = li.filter(col("l_orderkey") < q / 2).count()
    assert(df.count() == expected)
  }

  test("hidden partitioning: month transform write + prune") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li,
      spec = List(PartitionField("l_shipdate", "month")))
    val files = tbl.liveFiles
    assert(files.forall(_.partition.contains("l_shipdate_month")))
    // query one month: everything outside is pruned without reading data
    val (df, stats) = tbl.scan(
      col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
      col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    assert(stats.skipped > 0)
    assert(stats.scanned <= 2)
    val expected = li.filter(
      col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
      col("l_shipdate") < lit("1996-04-01").cast("timestamp")).count()
    assert(df.count() == expected)
  }

  test("UPDATE and MERGE of a partition source column move rows to " +
      "their new partition") {
    val li = Tables.load(spark, sf, "lineitem")
    val dateType = li.schema("l_shipdate").dataType
    def month(from: String, to: String) =
      col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp")
    val jan = month("1996-01-01", "1996-02-01")
    val may = month("1996-05-01", "1996-06-01")
    val mayDate = lit("1996-05-15").cast(dateType)
    val half = li.filter(month("1996-01-01", "1996-07-01"))
    def monthly() = Engine.ctas(spark, tmp(), half,
      spec = List(PartitionField("l_shipdate", "month")))
    // a pruned scan of the new month sees every row the full read does
    def assertScanComplete(tbl: LakeTable, moved: Long): Unit = {
      val (scanned, stats) = tbl.scan(may)
      val full = tbl.toDF.filter(may)
      assert(stats.skipped > 0)
      assert(full.count() == half.filter(may).count() + moved)
      assert(scanned.exceptAll(full).isEmpty &&
        full.exceptAll(scanned).isEmpty,
        s"scan(May)=${scanned.count()} toDF.filter(May)=${full.count()}")
    }

    val upd = monthly()
    val r = Engine.update(upd, jan, Map("l_shipdate" -> mayDate))
    assert(r.matchedRows > 0)
    assertScanComplete(upd, r.matchedRows)

    val mrg = monthly()
    val src = half.filter(jan).orderBy("l_orderkey", "l_linenumber")
      .limit(50).withColumn("l_shipdate", mayDate)
    val m = Engine.merge(mrg, src, Seq("l_orderkey", "l_linenumber"),
      whenNotMatchedInsert = false)
    assert(m.matchedRows == 50)
    assertScanComplete(mrg, 50)
  }

  test("bucket partitioning prunes on equality only") {
    val dir = tmp()
    val c = Tables.load(spark, sf, "customer")
    val tbl = Engine.ctas(spark, dir, c,
      spec = List(PartitionField("c_custkey", "bucket[8]")))
    val total = tbl.liveFiles.size
    val (df, stats) = tbl.scan(col("c_custkey") === 42L)
    assert(stats.scanned < total, s"bucket pruning failed: $stats")
    assert(df.count() == c.filter(col("c_custkey") === 42L).count())
    // range predicate: bucket cannot prune
    val (_, stats2) = tbl.scan(col("c_custkey") < 100L)
    assert(stats2.skipped == 0)
  }

  test("COW delete with metadata-only full-match fast path") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li,
      spec = List(PartitionField("l_shipdate", "year")))
    val before = li.count()
    val cut = lit("1997-01-01").cast("timestamp")
    val nDel = li.filter(col("l_shipdate") < cut).count()
    val res = Engine.delete(tbl, col("l_shipdate") < cut)
    // whole-year partitions before 1997 should drop without a rewrite
    assert(res.droppedFiles > 0, s"no metadata-only drops: $res")
    assert(res.matchedRows == nDel)
    assert(tbl.toDF.count() == before - nDel)
    // snapshot history intact: time travel sees the old rows
    val firstSnap = tbl.meta.snapshots.sortBy(_.id).apply(1) // after insert
    assert(tbl.asOf(firstSnap.id).count() == before)
  }

  test("COW update rewrites only matching files") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.create(spark, dir, li.schema.toDDL)
    val mx = li.select(max("l_orderkey")).head().getLong(0)
    Engine.insert(tbl, li.filter(col("l_orderkey") <= mx / 2))
    Engine.insert(tbl, li.filter(col("l_orderkey") > mx / 2))
    val res = Engine.update(tbl, col("l_orderkey") <= 100L,
      Map("l_discount" -> lit(0.5), "l_returnflag" -> lit("X")))
    assert(res.untouchedFiles >= 1, s"update touched everything: $res")
    val updated = tbl.toDF.filter(col("l_returnflag") === "X")
    assert(updated.count() ==
      li.filter(col("l_orderkey") <= 100L).count())
    assert(updated.select(min("l_discount"), max("l_discount")).head()
      .toSeq == Seq(0.5, 0.5))
    assert(tbl.toDF.count() == li.count())
  }

  test("merge-on-read delete: position-delete files, then flush") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li)
    val before = li.count()
    val nDel = li.filter(col("l_quantity") < 5).count()
    val res = Engine.deleteMor(tbl, col("l_quantity") < 5)
    assert(res.matchedRows == nDel, s"$res")
    // no data file was rewritten — a position-delete file appeared
    assert(tbl.liveFiles.exists(_.isDelete))
    assert(res.rewrittenFiles == 0)
    assert(tbl.toDF.count() == before - nDel)
    assert(tbl.toDF.filter(col("l_quantity") < 5).count() == 0)
    // a second MOR delete stacks
    val nDel2 = tbl.toDF.filter(col("l_quantity") > 45).count()
    Engine.deleteMor(tbl, col("l_quantity") > 45)
    assert(tbl.toDF.count() == before - nDel - nDel2)
    // transparent SQL path also applies deletes
    Engine.registerTable(tbl, "mor_t")
    assert(spark.sql("SELECT count(*) FROM mor_t").head().getLong(0) ==
      before - nDel - nDel2)
    // flush rewrites affected files and drops the delete files
    val rewritten = Engine.flushDeletes(tbl)
    assert(rewritten > 0)
    assert(!tbl.liveFiles.exists(_.isDelete))
    assert(tbl.toDF.count() == before - nDel - nDel2)
    assert(tbl.toDF.filter(col("l_quantity") < 5 ||
      col("l_quantity") > 45).count() == 0)
  }

  test("incremental read: appendsBetween returns exactly the new rows") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val part1 = li.filter(col("l_orderkey") % 3 === 0)
    val part2 = li.filter(col("l_orderkey") % 3 === 1)
    val part3 = li.filter(col("l_orderkey") % 3 === 2)
    val tbl = Engine.ctas(spark, dir, part1)
    val s1 = tbl.meta.currentSnapshotId
    Engine.insert(tbl, part2)
    val s2 = tbl.meta.currentSnapshotId
    Engine.insert(tbl, part3)
    val s3 = tbl.meta.currentSnapshotId
    assert(tbl.appendsBetween(s1, s2).count() == part2.count())
    assert(tbl.appendsBetween(s2, s3).count() == part3.count())
    assert(tbl.appendsBetween(s1, s3).count() ==
      part2.count() + part3.count())
    assert(tbl.appendsBetween(s3, s3).count() == 0)
    // a MOR delete inside the range suppresses the deleted rows
    Engine.deleteMor(tbl, col("l_orderkey") % 3 === 2 &&
      col("l_quantity") < 10)
    val s4 = tbl.meta.currentSnapshotId
    val expected = part3.filter(!(col("l_quantity") < 10)).count()
    assert(tbl.appendsBetween(s2, s4).count() == expected)
  }

  test("appendsBetween is rewrite-safe: compaction does not re-emit rows") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val part1 = li.filter(col("l_orderkey") % 3 === 0)
    val part2 = li.filter(col("l_orderkey") % 3 === 1)
    val part3 = li.filter(col("l_orderkey") % 3 === 2)
    val tbl = Engine.ctas(spark, dir, part1)
    val s1 = tbl.meta.currentSnapshotId
    Engine.insert(tbl, part2)
    // a rewrite inside the consumer's checkpoint range: its output files
    // carry part1+part2 rows and must NOT surface as fresh appends
    assert(Engine.compact(tbl) > 0, "expected a compaction round")
    Engine.insert(tbl, part3)
    val s4 = tbl.meta.currentSnapshotId
    val inc = tbl.appendsBetween(s1, s4)
    assert(inc.count() == part2.count() + part3.count(),
      "compaction output leaked into the incremental read")
    // and the fresh rows are exactly parts 2+3 (no part1 duplicates)
    assert(inc.filter(col("l_orderkey") % 3 === 0).count() == 0)
  }

  test("many-file write collects footer stats executor-side, exactly") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    // month partitioning yields dozens of files -> the distributed
    // readMany branch (driver loop only below 16 files)
    val tbl = Engine.ctas(spark, dir, li,
      spec = List(PartitionField("l_shipdate", "month")))
    val files = tbl.liveFiles
    assert(files.size > 16, s"expected the distributed branch: ${files.size}")
    assert(files.map(_.rowCount).sum == li.count())
    assert(files.forall(_.stats.nonEmpty))
    // stats are real footer values: global min/max reassemble exactly
    val mins = files.flatMap(_.stats.get("l_orderkey")).flatMap(_.min)
    assert(mins.nonEmpty &&
      mins.map(_.toLong).min == li.agg(min("l_orderkey")).head().getLong(0))
  }

  test("overlapping MOR deletes do not double-count deleted rows") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.ctas(spark, dir, li)
    val n10 = li.filter(col("l_quantity") < 10).count()
    val n20 = li.filter(col("l_quantity") < 20).count()
    val r1 = Engine.deleteMor(tbl, col("l_quantity") < 10)
    assert(r1.matchedRows == n10, s"$r1")
    // second delete overlaps the first — only the NEW rows count
    val r2 = Engine.deleteMor(tbl, col("l_quantity") < 20)
    assert(r2.matchedRows == n20 - n10, s"$r2")
    assert(tbl.toDF.count() == li.count() - n20)
  }

  test("mass MOR delete fans out into multiple sorted delete files") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    // many small data files so the delete-write picks nParts > 1
    val tbl = Engine.create(spark, dir, li.schema.toDDL)
    for (i <- 0 until 10)
      Engine.insert(tbl, li.filter(col("l_orderkey") % 10 === i))
    val before = li.count()
    val nDel = li.filter(col("l_quantity") < 25).count()
    Engine.deleteMor(tbl, col("l_quantity") < 25)
    val delFiles = tbl.liveFiles.filter(_.isDelete)
    assert(delFiles.size > 1, s"expected fan-out, got ${delFiles.size}")
    assert(tbl.toDF.count() == before - nDel)
    // each delete file is sorted by (file_path, pos) — Iceberg v2 order
    delFiles.foreach { f =>
      val rows = spark.read.parquet(f.path)
        .select("file_path", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)), f.path)
    }
  }

  test("upsertByKey: second upsert of the same key wins; time travel " +
      "and incremental appends respect equality deletes") {
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.ctas(spark, dir, n)
    val total = n.count()
    val preUpsert = tbl.meta.currentSnapshotId
    // upsert the same key twice: the LAST version must win, row count flat
    val v1 = n.filter(col("n_nationkey") === 5)
      .withColumn("n_name", lit("v1"))
    val v2 = n.filter(col("n_nationkey") === 5)
      .withColumn("n_name", lit("v2"))
    Engine.upsertByKey(tbl, Seq("n_nationkey"), v1)
    Engine.upsertByKey(tbl, Seq("n_nationkey"), v2)
    val mid = tbl.meta.currentSnapshotId
    assert(tbl.toDF.count() == total)
    assert(tbl.toDF.filter(col("n_nationkey") === 5)
      .select("n_name").collect().map(_.getString(0)).toSeq == Seq("v2"))
    // snapshot isolation: the pre-upsert read sees the original name
    assert(tbl.asOf(preUpsert).filter(col("n_nationkey") === 5)
      .select("n_name").collect().head.getString(0) != "v2")
    // a row upserted then eq-deleted INSIDE a CDC window must not
    // surface from appendsBetween (same contract as position deletes)
    Engine.deleteByKey(tbl, Seq("n_nationkey"),
      n.filter(col("n_nationkey") === 5).select("n_nationkey"))
    val cdc = tbl.appendsBetween(preUpsert, tbl.meta.currentSnapshotId)
    assert(cdc.filter(col("n_nationkey") === 5).count() == 0L,
      "eq-deleted upsert row leaked from the incremental read")
    // window ending before the final delete: v1's row was eq-deleted
    // INSIDE the window by v2's upsert, so only the v2 version replays
    val cdcMid = tbl.appendsBetween(preUpsert, mid)
    assert(cdcMid.filter(col("n_nationkey") === 5)
      .select("n_name").collect().map(_.getString(0)).toSeq == Seq("v2"))
  }

  test("equality-delete flush prunes by key stats; upsert batch " +
      "cardinality is enforced") {
    val dir = tmp()
    val li = Tables.load(spark, sf, "lineitem")
    val tbl = Engine.create(spark, dir, li.schema.toDDL)
    // 4 files with disjoint l_orderkey ranges -> tight stats
    val keys = li.select(max("l_orderkey")).head().getLong(0)
    val q = keys / 4
    for (i <- 0 until 4)
      Engine.insert(tbl, li.filter(col("l_orderkey") >= i * q &&
        (col("l_orderkey") < (i + 1) * q || lit(i == 3))))
    val nFiles = tbl.liveFiles.count(!_.isAnyDelete)
    assert(nFiles >= 4)
    // delete keys confined to the FIRST quarter: stats must refute the
    // other files, so the flush rewrites only the touched one(s)
    val delKeys = li.filter(col("l_orderkey") < q / 8)
      .select("l_orderkey").distinct()
    val expectRemain = li.count() -
      li.filter(col("l_orderkey") < q / 8).count()
    Engine.deleteByKey(tbl, Seq("l_orderkey"), delKeys)
    val rewritten = Engine.flushDeletes(tbl)
    assert(rewritten < nFiles,
      s"stats pruning failed: flush rewrote $rewritten of $nFiles files")
    assert(tbl.toDF.count() == expectRemain)
    // upsert batches must be key-unique (the MERGE cardinality rule)
    val dup = li.limit(1).union(li.limit(1))
    val e = intercept[IllegalArgumentException](
      Engine.upsertByKey(tbl, Seq("l_orderkey"), dup))
    assert(e.getMessage.contains("more than one row"))
  }

  test("lake_file utilities: list/size/exists/preview/delete") {
    import graft.engine.LakeFiles
    val d = Files.createTempDirectory("lakefile")
    Files.write(d.resolve("a.csv"), "x;y\n1;hello\n2;world\n".getBytes)
    Files.write(d.resolve("b.json"),
      """{"id": 1, "s": "a"}
        |{"id": 2, "s": "b"}""".stripMargin.getBytes)
    // list: glob expansion with sizes
    val listed = LakeFiles.list(spark, d.toString + "/*").collect()
    assert(listed.length == 2)
    assert(listed.map(_.getString(0)).exists(_.endsWith("a.csv")))
    assert(listed.forall(_.getLong(1) > 0))
    // size / exists
    assert(LakeFiles.size(spark, d.resolve("a.csv").toString) ==
      Files.size(d.resolve("a.csv")))
    assert(LakeFiles.exists(spark, d.resolve("b.json").toString))
    assert(!LakeFiles.exists(spark, d.resolve("nope.csv").toString))
    // preview: inferred table schema, format from extension (CSV sniffed)
    val prev = LakeFiles.preview(spark, d.resolve("a.csv").toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(prev.keySet == Set("x", "y"))
    assert(prev("y") == "string")
    val prevJ = LakeFiles.preview(spark, d.resolve("b.json").toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(prevJ("id") == "bigint")
    // delete: gated off by default, works when enabled
    intercept[IllegalStateException] {
      LakeFiles.delete(spark, d.resolve("a.csv").toString)
    }
    LakeFiles.enableDelete = true
    try {
      assert(LakeFiles.delete(spark, d.resolve("a.csv").toString))
      assert(!LakeFiles.exists(spark, d.resolve("a.csv").toString))
    } finally LakeFiles.enableDelete = false
  }

  test("merge: update + insert + delete arms, range pruning, cardinality") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmp()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("amt", DoubleType)))
    def df(rows: (Long, String, Double)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
      schema)
    val tbl = Engine.ctas(spark, dir, df(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // second file with a DISJOINT id range — the source below must not
    // rewrite it (range pruning on the source's key min/max)
    Engine.insert(tbl, df((100L, "x", 1.0), (101L, "y", 2.0)))
    val filesBefore = tbl.liveFiles.map(_.path).toSet

    // upsert: id 2 updated, id 5 inserted; ids 100/101 untouched
    val r = Engine.merge(tbl,
      df((2L, "B", 99.0), (5L, "e", 50.0)), Seq("id"))
    assert(r.rewrittenFiles == 1, r)
    val after = tbl.toDF.orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(after == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (5L, "e", 50.0), (100L, "x", 1.0), (101L, "y", 2.0)))
    // the disjoint-range file survived untouched (same path)
    assert(tbl.liveFiles.map(_.path).toSet
      .intersect(filesBefore).nonEmpty)

    // delete arm: matched keys vanish, unmatched source doesn't insert
    Engine.merge(tbl, df((3L, "-", 0.0), (999L, "-", 0.0)), Seq("id"),
      whenMatchedDelete = true, whenNotMatchedInsert = false)
    assert(tbl.toDF.filter(col("id") === 3).count() == 0)
    assert(tbl.toDF.filter(col("id") === 999).count() == 0)
    assert(tbl.toDF.count() == 5)

    // cardinality rule: duplicate source keys are rejected
    val dup = intercept[IllegalArgumentException] {
      Engine.merge(tbl, df((1L, "p", 1.0), (1L, "q", 2.0)), Seq("id"))
    }
    assert(dup.getMessage.contains("more than one row"))

    // NULL keys never match and never insert a phantom: a null-keyed
    // source row inserts (not-matched) but matches nothing
    Engine.merge(tbl, spark.createDataFrame(
      java.util.Arrays.asList(Row(null, "n", 0.0)), schema), Seq("id"))
    assert(tbl.toDF.filter(col("v") === "n").count() == 1)
    assert(tbl.toDF.count() == 6)
  }

  test("compaction merges small files and preserves data") {
    val dir = tmp()
    val n = Tables.load(spark, sf, "nation")
    val tbl = Engine.create(spark, dir, n.schema.toDDL)
    for (i <- 0 until 5)
      Engine.insert(tbl, n.filter(col("n_nationkey") % 5 === i))
    val before = tbl.liveFiles.size
    val rounds = Engine.compact(tbl, targetBytes = 10L * 1024 * 1024)
    assert(rounds > 0)
    assert(tbl.liveFiles.size < before)
    assert(tbl.toDF.count() == n.count())
    // expiry drops history + GCs orphans
    val dropped = Engine.expireSnapshots(tbl, keepLast = 1)
    assert(dropped > 0)
    assert(tbl.toDF.count() == n.count())
    val dataFiles = Files.list(MetadataIO.dataDir(tbl.dir)).count()
    assert(dataFiles == tbl.liveFiles.size)
  }

  test("truncate is metadata-only and time-travelable") {
    val dir = tmp()
    val r = Tables.load(spark, sf, "region")
    val tbl = Engine.ctas(spark, dir, r)
    val preTruncate = tbl.meta.currentSnapshotId
    Engine.truncate(tbl)
    assert(tbl.toDF.count() == 0)
    assert(tbl.asOf(preTruncate).count() == r.count())
  }

  test("csv sniffer detects delimiter and header") {
    val d = Files.createTempDirectory("csv")
    val f = d.resolve("x.csv")
    Files.write(f, "name;qty;price\na;1;2.5\nb;2;3.5\n".getBytes)
    val opts = CsvSniffer.sniff(spark, f.toString)
    assert(opts("sep") == ";")
    assert(opts("header") == "true")
    val df = Engine.copyFrom(spark, f.toString, "csv")
    assert(df.columns.toSeq == Seq("name", "qty", "price"))
    assert(df.count() == 2)
  }

  test("copy to/from round-trips csv and json") {
    val d = Files.createTempDirectory("copy")
    val nation = Tables.load(spark, sf, "nation")
    Engine.copyTo(nation, s"$d/n_csv", "csv", "gzip", singleFile = true)
    val back = Engine.copyFrom(spark, s"$d/n_csv", "csv",
      Map("header" -> "true"))
    assert(back.count() == nation.count())
    Engine.copyTo(nation, s"$d/n_json", "json", "gzip")
    val backJ = Engine.copyFrom(spark, s"$d/n_json", "json")
    assert(backJ.count() == nation.count())
  }
}
