package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.StructType

/** A lake table: parquet data files + snapshot/manifest metadata.
  *
  * Read side of the reference's FDW scan path: resolve live files under
  * the current snapshot (fdw/snapshot.c:79-354), prune with stats
  * (data_file_pruning.c:183), hand the surviving file list to the scan —
  * here `spark.read.schema(...).parquet(files)`, so Catalyst still does
  * row-group pruning, column pruning and codegen on top.
  */
final class LakeTable(val spark: SparkSession, val dir: String) {

  def meta: TableMetadata = MetadataIO.readMetadata(dir)

  /** Table schema with `parquet.field.id` metadata attached per column:
    * data files are written carrying the ids, and reads match columns by
    * id, so renamed columns keep reading files written under the old
    * name — Iceberg field-id semantics
    * (pg_lake_table/src/fdw/schema_operations/register_field_ids.c:389)
    * on top of Spark's native parquet field-id support. */
  def schema: StructType = {
    val ids = meta.fieldIds.map(f => f.name -> f.id).toMap
    StructType(StructType.fromDDL(meta.schemaDdl).fields.map { f =>
      ids.get(f.name) match {
        case Some(id) => f.copy(metadata = new org.apache.spark.sql.types
          .MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", id).build())
        case None => f
      }
    })
  }

  def liveFiles: List[DataFile] =
    meta.currentSnapshot.map(MetadataIO.liveFiles(dir, _)).getOrElse(Nil)

  def liveFilesAt(snapshotId: Long): List[DataFile] =
    meta.snapshot(snapshotId).map(MetadataIO.liveFiles(dir, _)).getOrElse(Nil)

  /** Schema of position-delete files (Iceberg v2 layout: file_path,
    * pos — position_delete_dest.c:40-120). */
  val deleteSchema: StructType = StructType.fromDDL(
    "file_path STRING, pos BIGINT")

  /** This table's session, set to match parquet columns by field id
    * (rename-safe), not by name. Every read of the table's data files
    * goes through it: a name match would null a renamed column and
    * resurrect a dropped one that was re-added under the same name. */
  private def byFieldId: SparkSession = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark
  }

  /** Raw scan of data files under the table schema, deletes NOT applied
    * — the base of every read and every rewrite. */
  private[graft] def readData(files: List[DataFile]): DataFrame =
    if (files.isEmpty) // typed empty local relation: the optimizer folds it
      byFieldId.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else byFieldId.read.schema(schema).parquet(files.map(_.path): _*)

  private def readFiles(files: List[DataFile]): DataFrame = {
    val (deletes, data) = files.partition(_.isAnyDelete)
    val (eqDeletes, posDeletes) = deletes.partition(_.isEqDelete)
    val base = readData(data)
    if (data.isEmpty) return base
    val posApplied =
      if (posDeletes.isEmpty) base else applyPositionDeletes(base, posDeletes)
    if (eqDeletes.isEmpty) posApplied
    else applyEqualityDeletes(posApplied, eqDeletes, data)
  }

  /** Merge-on-read: anti-join the data rows against the position-delete
    * files on (file, row position). Filters on data columns still push
    * through the anti-join into the scan. */
  private[graft] def applyPositionDeletes(base: DataFrame,
      deletes: List[DataFile]): DataFrame = {
    val del = spark.read.schema(deleteSchema)
      .parquet(deletes.map(_.path): _*)
    // _metadata.file_path, NOT input_file_name(): input_file_name is
    // nondeterministic and blocks predicate pushdown through the
    // tagging projection (filters would stop reaching the parquet scan)
    val tagged = base
      .withColumn("_file",
        regexp_replace(col("_metadata.file_path"), "^file:/*", "/"))
      .withColumn("_pos", col("_metadata.row_index"))
    tagged.join(del,
        tagged("_file") === del("file_path") && tagged("_pos") === del("pos"),
        "left_anti")
      .drop("_file", "_pos")
  }

  /** Merge-on-read equality deletes (Iceberg v2 content=2 semantics,
    * the write-side twin of [[IcebergImport]]'s reader): a delete row
    * removes every data row whose equality columns are null-safe-equal,
    * but only from data files with a STRICTLY smaller data sequence
    * number — rows appended after the delete survive it. Rows are
    * tagged with their file's sequence number via a broadcast join on
    * the (small, metadata-sized) file list; one anti-join per
    * equality-column set applies the rule, and data-column filters
    * still push through the anti-joins into the scan. */
  private[graft] def applyEqualityDeletes(base: DataFrame,
      eqDeletes: List[DataFile], dataFiles: List[DataFile]): DataFrame = {
    val session = base.sparkSession
    import session.implicits._
    val idToName = meta.fieldIds.map(f => f.id -> f.name).toMap
    val fileSeq = dataFiles
      .map(f => (f.path.replaceAll("^file:/+", "/"), f.dataSeq))
      .toDF("_fs_file", "_fs_seq")
    var out = base
      .withColumn("_eqf",
        regexp_replace(col("_metadata.file_path"), "^file:/*", "/"))
      .join(broadcast(fileSeq), col("_eqf") === col("_fs_file"), "left")
      // an unmatched file would null the sequence predicate and
      // SILENTLY resurrect its deleted rows — fail loudly instead
      .withColumn("_fs_seq", when(col("_fs_seq").isNull, raise_error(
        concat(lit("equality-delete read: data file "), col("_eqf"),
          lit(" matched no manifest entry (path normalization " +
            "mismatch); refusing to skip its equality deletes"))))
        .otherwise(col("_fs_seq")))
    for ((ids, group) <- eqDeletes.groupBy(_.equalityIds.getOrElse(Nil))) {
      require(ids.nonEmpty, s"equality-delete file " +
        s"${group.head.path} carries no equality field ids")
      val cols = ids.map(id => idToName.getOrElse(id,
        throw new IllegalArgumentException(s"unknown equality field id $id")))
      // match delete-file columns by NAME (field-id metadata stripped)
      val delSchema = StructType(cols.map(c => schema(c)
        .copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      val del = group.map { f =>
          session.read.schema(delSchema).parquet(f.path)
            .withColumn("_del_seq", lit(f.seq.getOrElse(Long.MaxValue)))
        }.reduce(_ unionByName _)
        .select(cols.map(c => col(c).as(s"_del_$c")) :+ col("_del_seq"): _*)
      val cond = cols.map(c => col(c) <=> col(s"_del_$c"))
        .reduce(_ && _) && col("_fs_seq") < col("_del_seq")
      out = out.join(del, cond, "left_anti")
    }
    out.drop("_eqf", "_fs_file", "_fs_seq")
  }

  /** Full scan of the current snapshot. */
  def toDF: DataFrame = readFiles(liveFiles)

  /** Time travel: scan at a historical snapshot
    * (snapshot inspection SRFs, iceberg_functions.c:36-38). */
  def asOf(snapshotId: Long): DataFrame = readFiles(liveFilesAt(snapshotId))

  /** Time travel by wall clock (`TIMESTAMP AS OF` semantics): the latest
    * snapshot committed at or before `tsMillis`. The snapshot log pairs
    * each id with its commit timestamp in commit order — the same
    * time-ordered log the reference keeps
    * (pg_lake_iceberg table_metadata.c:152-180). */
  def asOfTimestamp(tsMillis: Long): DataFrame = {
    val at = meta.snapshots.filter(_.timestampMs <= tsMillis)
    require(at.nonEmpty, s"no snapshot at or before epoch-ms $tsMillis " +
      s"(earliest commit: ${meta.snapshots.map(_.timestampMs).min})")
    asOf(at.maxBy(s => (s.timestampMs, s.id)).id)
  }

  /** Pruned scan: only files the predicate cannot refute are read; the
    * predicate is additionally applied as a normal filter (so Catalyst
    * pushes it into the parquet row groups as well). */
  def scan(pred: Column): (DataFrame, Pruning.ScanStats) = {
    val (deletes, data) = liveFiles.partition(_.isAnyDelete)
    val (mustRead, skipped, full) = Pruning.partitionFiles(
      Some(GraftBridge.resolvePredicate(spark, schema, pred)),
      schema, meta.partitionSpec, data)
    // delete files are never pruned by data predicates
    (readFiles(mustRead ++ deletes).filter(pred),
      Pruning.ScanStats(mustRead.size, skipped.size, full.size))
  }

  /** Transparent pruned scan: a DataFrame whose file listing runs the
    * pruner against whatever filters Catalyst pushes down — the right
    * form to register as a view for `spark.sql`. Returns the index too so
    * callers can read the files-scanned/skipped counters afterwards. */
  def toPrunedDF: (DataFrame, LakeFileIndex) = {
    val index = new LakeFileIndex(this)
    val classic = byFieldId.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new StructType(), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(classic)
    val base = classic.baseRelationToDataFrame(relation)
    val live = liveFiles
    val posDeletes = live.filter(_.isDelete)
    val eqDeletes = live.filter(_.isEqDelete)
    var df = if (posDeletes.isEmpty) base
      else applyPositionDeletes(base, posDeletes)
    if (eqDeletes.nonEmpty)
      // the seq map covers ALL live data files; whatever subset the
      // index prunes at execution time is covered by construction
      df = applyEqualityDeletes(df, eqDeletes, live.filterNot(_.isAnyDelete))
    (df, index)
  }

  /** Incremental (CDC-style) read: the rows APPENDED between two
    * snapshots — an Iceberg incremental-append scan. Walks the snapshot
    * lineage from `fromSnapshot` (exclusive) to `toSnapshot` (inclusive)
    * and collects only data files introduced by snapshots whose operation
    * is an `append`: outputs of rewrite snapshots (compact / COW update /
    * delete / flush-deletes) carry pre-existing rows, so a naive
    * live-file-set diff would re-emit them as duplicates after any
    * compaction between consumer checkpoints. Position-deletes live at
    * `toSnapshot` that target the new files are applied, so a row
    * appended and then MOR-deleted inside the range never surfaces. The
    * streaming-backfill primitive: consumers checkpoint a snapshot id and
    * read forward. */
  def appendsBetween(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    require(fromSnapshot <= toSnapshot,
      s"appendsBetween: $fromSnapshot > $toSnapshot")
    val lineage = meta.snapshots // committed in id order (commitSnapshot)
      .filter(s => s.id > fromSnapshot && s.id <= toSnapshot)
    var prevPaths = liveFilesAt(fromSnapshot).map(_.path).toSet
    val fresh = List.newBuilder[DataFile]
    for (s <- lineage) {
      val live = MetadataIO.liveFiles(dir, s)
      if (s.operation == "append")
        fresh ++= live.filter(f => !f.isAnyDelete && !prevPaths.contains(f.path))
      prevPaths = live.map(_.path).toSet
    }
    // position AND equality deletes live at `toSnapshot` apply: a row
    // appended and then deleted inside the window must not surface
    readFiles(fresh.result() ++ liveFilesAt(toSnapshot).filter(_.isAnyDelete))
  }

  /** `lake_iceberg.snapshots`-style inspection. */

  def snapshotsDF: DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (s.id, new java.sql.Timestamp(s.timestampMs),
      s.operation, s.manifests.size,
      s.summary.getOrElse("addedFiles", "0"),
      s.summary.getOrElse("removedFiles", "0")))
      .toDF("snapshot_id", "committed_at", "operation", "n_manifests",
        "added_files", "removed_files")
  }

  /** `lake_iceberg.files`-style inspection. */
  def filesDF: DataFrame = {
    import spark.implicits._
    liveFiles.map(f => (f.path, f.rowCount, f.sizeBytes,
      f.partition.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(",")))
      .toDF("file_path", "row_count", "size_bytes", "partition")
  }
}

object LakeTable {
  def load(spark: SparkSession, dir: String): LakeTable = new LakeTable(spark, dir)
  def exists(dir: String): Boolean = MetadataIO.currentVersion(dir).isDefined
}
