package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core._
import graft.engine.Engine

/** External-Iceberg interop: read genuine Spark-written Iceberg v2 tables
  * (the reference's interop fixtures, read-only) through
  * [[IcebergImport]] — metadata.json → Avro manifest list → Avro
  * manifests → data + position-delete parquet — and round-trip our own
  * [[IcebergExport]] output. Mirrors the reference's external-table tests
  * (pg_lake_table/tests/pytests/test_iceberg* over
  * test_common/sample/iceberg). Expected values below were derived
  * independently with DuckDB over the raw fixture files.
  */
class IcebergInteropSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val base =
    "/root/reference/test_common/sample/iceberg/sample_tables/public"
  def sample(name: String): String = s"$base/$name"
  def haveSamples: Boolean = Files.isDirectory(Paths.get(base))

  test("avro manifest chain with position-delete files") {
    assume(haveSamples)
    val dir = sample("spark_generated_iceberg_test")
    val df = IcebergImport.scan(spark, dir)
    assert(df.schema.fieldNames.toSeq == Seq("id"))
    assert(df.count() == 110L)
    assert(df.agg(sum("id")).collect()(0).getLong(0) == 5152L)
    // 9 snapshots: 6 appends then 3 overwrites
    val snaps = IcebergImport.snapshotsDF(spark, dir).collect()
    assert(snaps.length == 9)
    assert(snaps.count(_.getString(2) == "overwrite") == 3)
  }

  test("DELETED manifest entries drop whole files") {
    assume(haveSamples)
    // eight 1-row appends of {1,2,3,4,4,5,6,7}; the delete snapshot
    // removes both id=4 files via status=2 manifest entries
    val dir = sample("spark_generated_iceberg_test_2")
    val ids = IcebergImport.scan(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("time travel to a pre-delete snapshot") {
    assume(haveSamples)
    val dir = sample("spark_generated_iceberg_test_2")
    val preDelete = 1606975766868358947L // last append before the delete
    val ids = IcebergImport.scan(spark, dir, Some(preDelete))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 4L, 5L, 6L, 7L))
  }

  test("schema evolution: column added by DDL reads as null in old files") {
    assume(haveSamples)
    val dir = sample("spark_generated_iceberg_ddl_test")
    val df = IcebergImport.scan(spark, dir)
    assert(df.schema("point").dataType.isInstanceOf[StructType])
    val rows = df.orderBy("id").collect()
    assert(rows.length == 7)
    assert(rows.take(6).forall(_.isNullAt(1))) // pre-DDL files
    val p = rows.last.getStruct(1)
    assert(p.getDouble(0) == 7.7 && p.getDouble(1) == 7.7)
  }

  test("adopt an external Iceberg table: stats pruning + COW delete on top") {
    assume(haveSamples)
    val dest = Files.createTempDirectory("adopt").toString + "/t"
    val tbl = Engine.importIceberg(spark,
      sample("spark_generated_iceberg_test"), dest)
    assert(tbl.toDF.count() == 110L) // position deletes respected
    assert(tbl.meta.properties.contains("graft.adopted-from"))
    // footer stats were collected at adoption → pruning refutes out-of-range
    val (_, stats) = tbl.scan(col("id") > 1000000)
    assert(stats.scanned == 0 && stats.skipped > 0)
    // the engine's own DML now applies; source files are never modified
    val res = Engine.delete(tbl, col("id") === 1)
    assert(res.matchedRows == 4) // four id=1 rows in the adopted snapshot
    assert(tbl.toDF.count() == 106L)
    assert(tbl.toDF.filter(col("id") === 1).count() == 0)
    // time travel still shows the adopted state
    assert(tbl.asOf(1L).count() == 110L)
  }

  test("equality deletes apply only to older sequence numbers") {
    import spark.implicits._
    // synthesized v2 table (no reference fixture carries equality
    // deletes): f1 (ids 1-5, seq 1), f2 (ids 6-10, seq 3), and an
    // equality-delete file on {id} with ids {2, 7} at seq 2 — so id=2
    // (in the seq-1 file) is deleted but id=7 (seq 3 > 2) survives.
    val dir = Files.createTempDirectory("eqdel").toString
    Files.createDirectories(Paths.get(dir, "data"))
    Files.createDirectories(Paths.get(dir, "metadata"))
    // real Iceberg data files embed parquet field ids — write them too
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    def withIds(df: org.apache.spark.sql.DataFrame,
        ids: Map[String, Long]): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(df.rdd, StructType(df.schema.fields.map(f =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", ids(f.name)).build()))))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("eqtmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator()
      var found: String = null
      while (part.hasNext) {
        val p = part.next().toString
        if (p.endsWith(".parquet")) found = p
      }
      Files.move(Paths.get(found), Paths.get(dir, "data", name))
    }
    val fids = Map("id" -> 1L, "val" -> 2L)
    writeOne(withIds((1L to 5L).map(i => (i, s"v$i")).toDF("id", "val"), fids),
      "f1.parquet")
    writeOne(withIds((6L to 10L).map(i => (i, s"v$i")).toDF("id", "val"), fids),
      "f2.parquet")
    writeOne(withIds(Seq(2L, 7L).toDF("id"), fids), "eqdel.parquet")
    def size(n: String): Long = Files.size(Paths.get(dir, "data", n))
    val manifest =
      s"""[
         |{"file_path":"data/f1.parquet","content":0,"record_count":5,
         | "file_size_in_bytes":${size("f1.parquet")},"sequence_number":1},
         |{"file_path":"data/f2.parquet","content":0,"record_count":5,
         | "file_size_in_bytes":${size("f2.parquet")},"sequence_number":3},
         |{"file_path":"data/eqdel.parquet","content":2,"record_count":2,
         | "file_size_in_bytes":${size("eqdel.parquet")},
         | "sequence_number":2,"equality_ids":[1]}
         |]""".stripMargin
    Files.write(Paths.get(dir, "metadata", "list.json"),
      manifest.getBytes("UTF-8"))
    val meta =
      """{"format-version":2,"location":"/relocated/elsewhere",
        |"current-schema-id":0,
        |"schemas":[{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":false,"type":"long"},
        |  {"id":2,"name":"val","required":false,"type":"string"}]}],
        |"current-snapshot-id":77,
        |"snapshots":[{"snapshot-id":77,"timestamp-ms":1700000000000,
        |  "summary":{"operation":"overwrite"},
        |  "manifest-list":"metadata/list.json"}]}""".stripMargin
    Files.write(Paths.get(dir, "metadata", "00001-t.metadata.json"),
      meta.getBytes("UTF-8"))

    val ids = IcebergImport.scan(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L)) // only 2 gone
    // adoption rewrites the equality deletes into position deletes and
    // matches the scan exactly — the sequence rule included (id=7 lives)
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    def adoptDelDirs(): Set[String] = {
      val ls = Files.list(tmpRoot)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("adoptdel")).toSet
      finally ls.close()
    }
    val adoptDelBefore = adoptDelDirs()
    val dest = Files.createTempDirectory("eqadopt").toString + "/t"
    val adopted = Engine.importIceberg(spark, dir, dest)
    val adoptedIds = adopted.toDF
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(adoptedIds == ids)
    // adoption stages its delete file inside the destination table and
    // leaves nothing behind: no tmpdir scratch, no unreferenced file
    assert(adoptDelDirs() == adoptDelBefore)
    val onDisk = {
      val w = Files.walk(Paths.get(dest))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.startsWith(MetadataIO.metaDir(dest)))
        .map(_.toString).toSet
      finally w.close()
    }
    assert(onDisk == adopted.liveFiles.map(_.path)
      .filter(_.startsWith(dest)).toSet)
    // the engine's own DML applies on top of the converted deletes
    val res = Engine.delete(adopted, col("id") === 6)
    assert(res.matchedRows == 1)
    assert(adopted.toDF.select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L, 4L, 5L, 7L, 8L, 9L, 10L))
  }

  test("equality-delete adoption fails loudly on a path-form mismatch") {
    import spark.implicits._
    // If a data file's manifest path form differs from what
    // _metadata.file_path normalizes to (scheme variants, double
    // slashes), the sequence join must raise — NOT silently skip that
    // file's equality deletes and resurrect deleted rows.
    val dir = Files.createTempDirectory("eqmismatch")
    val fid = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 1L).build()
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    def withId(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(df.rdd, StructType(df.schema.fields.map(
        _.copy(metadata = fid))))
    def writeOne(df0: org.apache.spark.sql.DataFrame, name: String): String = {
      val df = withId(df0)
      val tmp = Files.createTempDirectory("eqmtmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = Files.list(tmp).iterator()
      var found: String = null
      while (it.hasNext) {
        val p = it.next().toString
        if (p.endsWith(".parquet")) found = p
      }
      val dest = dir.resolve(name)
      Files.move(Paths.get(found), dest)
      dest.toString
    }
    val dataPath = writeOne((1L to 5L).toDF("id"), "d.parquet")
    val delPath = writeOne(Seq(2L).toDF("id"), "e.parquet")
    val table = IcebergImport.ExtTable(dir.toString,
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType,
        nullable = true, metadata = fid))),
      None, Nil, "unused")
    // doubled slash: a legal path to the OS, but not the normalized form
    // _metadata.file_path produces — the join must not match silently
    val crooked = dataPath.replaceFirst("/([^/]+)$", "//$1")
    val data = List(IcebergImport.ExtFile(crooked, 0, 5L,
      Files.size(Paths.get(dataPath)), seq = 1L))
    val dels = List(IcebergImport.ExtFile(delPath, 2, 1L,
      Files.size(Paths.get(delPath)), seq = 2L, equalityIds = List(1)))
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val ex = intercept[Exception] {
      IcebergImport.equalityDeletePositions(spark, dir.toString, table,
        data, dels).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("matched no manifest path")))
  }

  test("v3 deletion vectors: Puffin blob applies as position deletes") {
    val dir = Files.createTempDirectory("icebergdv").toString + "/t"
    val df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    val tbl = Engine.ctas(spark, dir, df.coalesce(1).toDF())
    IcebergExport.export(tbl, dir, avroManifests = false)

    // locate the single data file from the JSON manifest listing
    val metaDir = Paths.get(dir, "metadata")
    val listing = Files.list(metaDir).iterator()
    val listPath = Iterator.continually(
        if (listing.hasNext) Some(listing.next()) else None)
      .takeWhile(_.isDefined).flatten
      .find(_.getFileName.toString.startsWith("manifest-list-")).get
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val entries = JsonMethods.parse(new String(
      Files.readAllBytes(listPath), "UTF-8")).children
    val dataPath = (entries.head \ "file_path").extract[String]

    // Puffin file: magic, the DV blob per the v3 spec ([4B BE length]
    // [magic D1 D3 39 64 + portable roaring bitmap][4B BE CRC-32 of
    // the data]), then a minimal spec-shaped footer
    val deletedPositions = Array(2L, 5L, 7L)
    val data = graft.core.DeltaDv.serialize(deletedPositions)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    val blob = java.nio.ByteBuffer.allocate(4 + data.length + 4)
      .putInt(data.length).put(data).putInt(crc.getValue.toInt).array()
    val payload = ("""{"blobs":[{"type":"deletion-vector-v1","fields":[],""" +
      s""""snapshot-id":1,"sequence-number":1,"offset":4,""" +
      s""""length":${blob.length}}]}""").getBytes("UTF-8")
    val magic = "PFA1".getBytes("UTF-8")
    val footerSize = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(payload.length).array()
    val puffin = magic ++ blob ++ magic ++ payload ++ footerSize ++
      Array[Byte](0, 0, 0, 0) ++ magic
    val puffinPath = metaDir.resolve("dv.puffin")
    Files.write(puffinPath, puffin)

    // append the DV manifest entry (content=1 + referenced_data_file +
    // content_offset/size — the v3 shape) to the listing
    val dvEntry = JsonMethods.parse(
      s"""{"status":1,"content":1,"file_path":"$puffinPath",""" +
        s""""file_format":"PUFFIN","record_count":3,""" +
        s""""file_size_in_bytes":${puffin.length},""" +
        s""""referenced_data_file":"$dataPath",""" +
        s""""content_offset":4,"content_size_in_bytes":${blob.length}}""")
    Files.write(listPath, JsonMethods.compact(JsonMethods.render(
      JArray(entries :+ dvEntry))).getBytes("UTF-8"))

    val back = IcebergImport.scan(spark, dir)
    assert(back.count() == 7)
    val ids = back.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 3L, 4L, 6L, 8L, 9L))
    // corrupted CRC is rejected, not silently misread
    val bad = puffin.clone()
    bad(4 + 4 + 2) = (bad(4 + 4 + 2) ^ 0x5a).toByte // flip a bitmap byte
    Files.write(puffinPath, bad)
    val err = intercept[org.apache.spark.SparkException] {
      IcebergImport.scan(spark, dir).count()
    }
    assert(err.getCause != null || err.getMessage.contains("checksum") ||
      err.toString.contains("checksum"))
    Files.write(puffinPath, puffin) // restore
    // a DV entry missing content_size_in_bytes (required by the v3
    // spec) fails with an actionable error naming the field, not a
    // bare NoSuchElementException
    val noSize = JsonMethods.parse(
      s"""{"status":1,"content":1,"file_path":"$puffinPath",""" +
        s""""file_format":"PUFFIN","record_count":3,""" +
        s""""file_size_in_bytes":${puffin.length},""" +
        s""""referenced_data_file":"$dataPath",""" +
        s""""content_offset":4}""")
    Files.write(listPath, JsonMethods.compact(JsonMethods.render(
      JArray(entries :+ noSize))).getBytes("UTF-8"))
    val err2 = intercept[IllegalStateException] {
      IcebergImport.scan(spark, dir).count()
    }
    assert(err2.getMessage.contains("content_size_in_bytes"))
  }

  test("iceberg-cdc stream: snapshot-log offsets, appends only, compaction silent") {
    val dir = Files.createTempDirectory("iceberg_cdc").toString + "/t"
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val tbl = Engine.ctas(spark, dir,
      li.filter(col("l_returnflag") === "A").coalesce(2).toDF())
    IcebergExport.export(tbl, dir, avroManifests = false)
    val nA = li.filter(col("l_returnflag") === "A").count()
    val ckpt = Files.createTempDirectory("iceberg_cdc_ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("iceberg-cdc")
      .option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(batch.count()); ()
      }
      .start()
    try {
      q.processAllAvailable()
      def counts = {
        val it = seen.iterator()
        Iterator.continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten.toSeq
      }
      assert(counts.sum == nA, s"initial snapshot wrong: $counts vs $nA")
      // append commits a new snapshot; re-export advances the metadata —
      // only the appended rows stream
      Engine.insert(LakeTable.load(spark, dir),
        li.filter(col("l_returnflag") === "R").coalesce(1).toDF())
      IcebergExport.export(LakeTable.load(spark, dir), dir,
        avroManifests = false)
      q.processAllAvailable()
      val expected = li.filter(col("l_returnflag") =!= "N").count()
      assert(counts.sum == expected, s"append batch wrong: $counts")
      // compaction rewrites every live file under operation `compact` —
      // the stream must not re-emit the table
      val preCompact = counts.sum
      Engine.compact(LakeTable.load(spark, dir), targetBytes = 1L << 30)
      IcebergExport.export(LakeTable.load(spark, dir), dir,
        avroManifests = false)
      q.processAllAvailable()
      assert(counts.sum == preCompact,
        s"compaction leaked rows into iceberg-cdc: $counts")
      // and a genuine append after the compaction still streams
      Engine.insert(LakeTable.load(spark, dir),
        li.filter(col("l_returnflag") === "N").limit(5).coalesce(1).toDF())
      IcebergExport.export(LakeTable.load(spark, dir), dir,
        avroManifests = false)
      q.processAllAvailable()
      assert(counts.sum == preCompact + 5, s"post-compact append: $counts")
    } finally q.stop()
  }

  test("iceberg-cdc over a genuine spark-written log: range-split invariance") {
    assume(haveSamples)
    // 9 snapshots (6 appends, 3 overwrites) written by real Spark: the
    // per-step diff must be range-split invariant — walking the log one
    // snapshot at a time emits exactly the same file set as one batch
    // spanning the whole history (the exactly-once property a restore
    // from any intermediate checkpoint relies on)
    val dir = sample("spark_generated_iceberg_test")
    val src = new graft.streaming.IcebergCdcSource(spark.sqlContext, dir, -1L)
    val table = IcebergImport.readMetadata(
      IcebergImport.latestMetadataPath(dir).get)
    val ids = table.snapshots.map(_.id)
    val cur = table.currentSnapshotId.get
    assert(ids.last == cur, "fixture: snapshot list ends at current")
    val (_, oneShot) = src.freshFiles(-1L, cur)
    val stepped = (-1L +: ids).zip(ids).flatMap { case (a, b) =>
      src.freshFiles(a, b)._2
    }
    assert(stepped.map(_.path) == oneShot.map(_.path),
      s"stepped walk diverged: ${stepped.size} vs ${oneShot.size} files")
    // appends+overwrites only ever ADD data files here, so the emitted
    // union must cover every data file live at the end (plus any
    // overwritten-away mid-history)
    val finalLive = IcebergImport
      .liveFiles(table, table.currentSnapshot.get, dir)
      .filterNot(f => f.isDelete || f.isEqualityDelete || f.isDv)
      .map(_.path).toSet
    assert(finalLive.subsetOf(oneShot.map(_.path).toSet))
    // expired-offset detection: an id absent from the log is an error
    val e = intercept[IllegalStateException](src.freshFiles(424242L, cur))
    assert(e.getMessage.contains("expired"))
  }

  test("equality-delete WRITER round-trip: deleteByKey + re-append " +
      "export as content=2 manifests; the external-reader path applies " +
      "the sequence rule") {
    for (avro <- Seq(true, false)) {
      val dir = Files.createTempDirectory("icebergeq").toString + "/t"
      val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      val tbl = Engine.ctas(spark, dir, nation)
      // delete keys 3 and 7 by equality, then re-append key 7's row:
      // the re-append postdates the delete, so the sequence rule
      // (strictly-older data files only) must keep it
      Engine.deleteByKey(tbl, Seq("n_nationkey"),
        nation.filter(col("n_nationkey").isin(3, 7))
          .select("n_nationkey"))
      Engine.insert(tbl, nation.filter(col("n_nationkey") === 7))
      assert(tbl.toDF.filter(col("n_nationkey") === 3).count() == 0L)
      assert(tbl.toDF.filter(col("n_nationkey") === 7).count() == 1L)
      val expect = tbl.toDF.orderBy("n_nationkey").collect().toSeq
      // the manifest must record a content=2 file with equality ids
      val eqFiles = tbl.liveFiles.filter(_.isEqDelete)
      assert(eqFiles.nonEmpty && eqFiles.forall(f =>
        f.equalityIds.exists(_.nonEmpty) && f.seq.isDefined))
      IcebergExport.export(tbl, dir, avroManifests = avro)
      val back = IcebergImport.scan(spark, dir)
      assert(back.orderBy("n_nationkey").collect().toSeq == expect,
        s"avro=$avro")
      if (avro) {
        // spec conformance: external readers discover delete files ONLY
        // through content=1 manifest-list entries — pin the split
        val table = IcebergImport.readMetadata(
          IcebergImport.latestMetadataPath(dir).get)
        val reader = org.apache.avro.file.DataFileReader.openReader(
          new java.io.File(s"$dir/${table.currentSnapshot.get.manifestList}"),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        val contents =
          try {
            val b = Seq.newBuilder[Int]
            while (reader.hasNext)
              b += reader.next().get("content").asInstanceOf[Number].intValue
            b.result()
          } finally reader.close()
        assert(contents.contains(1),
          "delete files must live in a content=1 manifest-list entry")
        assert(contents.contains(0))
      }
      // flush compacts the deletes away; results must not change
      Engine.flushDeletes(tbl)
      assert(tbl.liveFiles.forall(!_.isAnyDelete))
      assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq == expect,
        s"post-flush avro=$avro")
    }
  }

  test("legacy manifests (no seq stamps) read as sequence 0: an " +
      "equality delete applies to them internally AND through export") {
    import org.json4s.jackson.JsonMethods
    val dir = Files.createTempDirectory("iceberglegacy").toString + "/t"
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val tbl = Engine.ctas(spark, dir, nation)
    // simulate a pre-stamping table: strip every seq field in place
    val mdir = java.nio.file.Paths.get(dir, "metadata")
    val ms = Files.list(mdir)
    try ms.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("manifest-") &&
        p.getFileName.toString.endsWith(".json"))
      .foreach { p =>
        val cleaned = JsonMethods.parse(
          new String(Files.readAllBytes(p), "UTF-8"))
          .removeField { case (n, _) => n == "seq" }
        Files.write(p, JsonMethods.pretty(JsonMethods.render(cleaned))
          .getBytes("UTF-8"))
      }
    finally ms.close()
    assert(tbl.liveFiles.forall(_.seq.isEmpty), "seq strip failed")
    Engine.deleteByKey(tbl, Seq("n_nationkey"),
      nation.filter(col("n_nationkey") === 3).select("n_nationkey"))
    // internal read: legacy files read as seq 0 < the delete's seq
    assert(tbl.toDF.filter(col("n_nationkey") === 3).count() == 0L)
    // exported read must agree — the export's data-file fallback is 0,
    // NOT the owning snapshot's sequence (which would make the
    // strictly-lower rule false and resurrect the row externally)
    for (avro <- Seq(true, false)) {
      IcebergExport.export(tbl, dir, avroManifests = avro)
      assert(IcebergImport.scan(spark, dir)
        .filter(col("n_nationkey") === 3).count() == 0L, s"avro=$avro")
    }
  }

  test("export/import round-trip of a lake table (avro + json manifests)") {
    for (avro <- Seq(true, false)) {
      val dir = Files.createTempDirectory("icebergrt").toString + "/t"
      val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      val tbl = Engine.ctas(spark, dir, nation)
      IcebergExport.export(tbl, dir, avroManifests = avro)
      val back = IcebergImport.scan(spark, dir)
      assert(back.schema.fieldNames.toSeq ==
        tbl.toDF.schema.fieldNames.toSeq)
      assert(back.orderBy("n_nationkey").collect().toSeq ==
        tbl.toDF.orderBy("n_nationkey").collect().toSeq, s"avro=$avro")
      // the avro chain must go through the same reader branch as genuine
      // Iceberg tables (manifest list -> manifest -> files)
      if (avro) {
        val table = IcebergImport.readMetadata(
          IcebergImport.latestMetadataPath(dir).get)
        assert(table.currentSnapshot.get.manifestList.endsWith(".avro"))
      }
    }
  }
}
