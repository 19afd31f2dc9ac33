package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

import graft.core._

/** Engine facade: DDL + DML + maintenance over lake tables — the
  * Spark-native replacement for the reference's FDW write path and DDL
  * hooks (pg_lake_table/src/fdw/writable_table.c and src/ddl/).
  *
  * All operations are snapshot-commits: write new immutable parquet files
  * (executor-parallel), then swap the metadata pointer (driver, atomic
  * rename). Update/delete are copy-on-write per file, with the
  * metadata-only full-match DELETE fast path
  * (engineering-notes/writes.md:39-55; SKIP_FULL_MATCH_FILES,
  * transform_query_to_duckdb.c:74-82).
  */
object Engine {

  // ---------------------------------------------------------------- DDL

  def create(spark: SparkSession, dir: String, schemaDdl: String,
      spec: List[PartitionField] = Nil,
      props: Map[String, String] = Map.empty): LakeTable = {
    require(!LakeTable.exists(dir), s"table already exists at $dir")
    val schema = StructType.fromDDL(schemaDdl) // validate
    val fieldIds = schema.fields.zipWithIndex
      .map { case (f, i) => FieldId(f.name, i + 1) }.toList
    val snap = Snapshot(1L, System.currentTimeMillis(), "create", Nil,
      Map("addedFiles" -> "0"))
    MetadataIO.commitMetadata(dir, TableMetadata(1, schemaDdl, fieldIds,
      spec, List(snap), 1L, props))
    LakeTable.load(spark, dir)
  }

  /** CTAS: schema from the dataframe, then insert. */
  def ctas(spark: SparkSession, dir: String, df: DataFrame,
      spec: List[PartitionField] = Nil): LakeTable = {
    val tbl = create(spark, dir, df.schema.toDDL, spec)
    insert(tbl, df)
    tbl
  }

  /** `definition_from`/`load_from` (describe.c:61-167): infer schema from
    * an existing parquet file/dir and load it. */
  def importTable(spark: SparkSession, dir: String, sourcePath: String,
      spec: List[PartitionField] = Nil): LakeTable =
    ctas(spark, dir, spark.read.parquet(sourcePath), spec)

  /** Adopt an external Apache Iceberg table as a lake table WITHOUT
    * copying data: resolve its current snapshot through
    * [[graft.core.IcebergImport]] (metadata.json → Avro manifests), keep
    * the data files in place, rewrite every delete flavor (position
    * deletes, v3 deletion vectors, v2 equality deletes) into one local
    * position-delete file, collect parquet footer stats for the data
    * files (enabling this engine's pruning), and commit one "adopt"
    * snapshot. The migration path for a reference
    * user's existing Iceberg tables — afterwards the full DML surface
    * (COW update/delete, compaction, time travel forward) applies.
    * Metadata file names do not collide: Iceberg uses
    * `*.metadata.json`, this engine uses `vN.json` + `VERSION`. */
  def importIceberg(spark: SparkSession, icebergDir: String,
      destDir: String): LakeTable = {
    require(!LakeTable.exists(destDir), s"table already exists at $destDir")
    val metaPath = IcebergImport.latestMetadataPath(icebergDir).getOrElse(
      throw new IllegalArgumentException(s"no iceberg table at $icebergDir"))
    val ext = IcebergImport.readMetadata(metaPath)
    val snap = ext.currentSnapshot.getOrElse(
      throw new IllegalArgumentException("iceberg table has no snapshot"))
    val extAll = IcebergImport.liveFiles(ext, snap, icebergDir)
    val extEq = extAll.filter(_.isEqualityDelete)
    val extDv = extAll.filter(_.isDv)
    val extDeletes = extAll.filter(_.isDelete)
    val extData = extAll.filterNot(f =>
      f.isDelete || f.isDv || f.isEqualityDelete)
    val importFooters = ParquetStats.readMany(spark, extData.map(_.path))
    val dataFiles = extData.map { f =>
      val footer = importFooters(f.path)
      DataFile(f.path, footer.rowCount, f.sizeBytes, Map.empty, footer.stats)
    }
    // Every delete flavor lands as ONE position-delete file, the uniform
    // treatment of read_manifest.c:84-130 re-expressed for adoption:
    //  - position-delete parquet files record the WRITER's absolute
    //    data-file paths (e.g. the original s3 location) — relocated so
    //    the MOR anti-join matches the local files;
    //  - v3 deletion vectors decode to their referenced files' positions;
    //  - v2 equality deletes resolve (sequence-rule-aware semi-join over
    //    only the equality columns) to the positions they delete — a
    //    one-time scan of the equality columns, after which the adopted
    //    table needs no equality machinery at read time.
    // Delete rows are ids, not data rows, so the file is small.
    //
    // The whole delete-resolution plan runs on a CLONED session (own
    // SessionState/conf, shared SparkContext): the equality-delete source
    // needs field-id parquet resolution, and setting that on the shared
    // session would let concurrent queries transiently see field-id
    // schema resolution during the adoption write.
    val adoptSpark = spark.newSession()
    adoptSpark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val delSources: List[DataFrame] =
      (if (extDeletes.isEmpty) Nil
       else List(adoptSpark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "file_path STRING, pos BIGINT"))
        .parquet(extDeletes.map(_.path): _*)
        .withColumn("file_path", regexp_replace(col("file_path"),
          "^" + java.util.regex.Pattern.quote(ext.location),
          java.util.regex.Matcher.quoteReplacement(icebergDir))))) ++
      (if (extDv.isEmpty) Nil
       else List(IcebergImport.dvPositionsDF(adoptSpark, icebergDir, ext, extDv))) ++
      (if (extEq.isEmpty) Nil
       else List(IcebergImport.equalityDeletePositions(
         adoptSpark, icebergDir, ext, extData, extEq)))
    val deleteFiles =
      if (delSources.isEmpty) Nil
      else publish(destDir, delSources.reduce(_ unionByName _)
          .dropDuplicates("file_path", "pos").coalesce(1), "adopted-deletes-")
        .map { case (path, _, footer) => DataFile(path, footer.rowCount,
          footer.sizeBytes, Map.empty, footer.stats, content = Some(1)) }
    val files = dataFiles ++ deleteFiles
    val fieldIds = ext.schema.fields.map(f =>
      FieldId(f.name, f.metadata.getLong("parquet.field.id").toInt)).toList
    val manifest = MetadataIO.writeManifest(destDir, files)
    val adopt = Snapshot(1L, System.currentTimeMillis(), "adopt",
      List(manifest), Map(
        "addedFiles" -> files.count(!_.isDelete).toString,
        "addedDeleteFiles" -> files.count(_.isDelete).toString))
    MetadataIO.commitMetadata(destDir, TableMetadata(1,
      ext.schema.toDDL, fieldIds, Nil, List(adopt), 1L,
      Map("graft.adopted-from" -> metaPath,
        "graft.adopted-snapshot" -> snap.id.toString)))
    LakeTable.load(spark, destDir)
  }

  // ---------------------------------------------------------------- write

  /** Spark-side expression computing a transform, kept exactly in sync
    * with Transform.apply (UTC session). */
  private def transformExpr(pf: PartitionField, dt: DataType): Column = {
    val c = col(pf.column)
    pf.fn match {
      case Transform.Identity => c
      case Transform.Year => year(c) - 1970
      case Transform.Month => (year(c) - 1970) * 12 + month(c) - 1
      case Transform.Day =>
        expr(s"(unix_micros(${pf.column}) - pmod(unix_micros(${pf.column}), " +
          s"86400000000)) div 86400000000")
      case Transform.Hour =>
        expr(s"(unix_micros(${pf.column}) - pmod(unix_micros(${pf.column}), " +
          s"3600000000)) div 3600000000")
      case Transform.Bucket(n) =>
        // codegen'd expression, not a UDF — this sits on the write hot
        // path of every bucket-partitioned insert
        def bucket(e: Column): Column = GraftBridge.column(
          graft.functions.IcebergBucket(GraftBridge.eagerExpression(e), n))
        dt match {
          case StringType => bucket(c)
          case TimestampType | TimestampNTZType =>
            bucket(expr(s"unix_micros(${pf.column})"))
          case _ => bucket(c.cast("long"))
        }
      case Transform.Truncate(w) => dt match {
        case StringType => substring(c, 1, w)
        case _ => (c.cast("long") - pmod(c.cast("long"), lit(w.toLong)))
      }
    }
  }

  /** The one path by which a file enters a table's `data/`: write `df`
    * as snappy parquet into a `.staging-<uuid>` dir under the table root
    * (same filesystem, so the move below is a rename), read every part's
    * footer (executor-side for big batches, as data_file_stats.c reads
    * stats from the writer's metadata), drop 0-row parts, and
    * `ATOMIC_MOVE` the rest into `data/` as `<prefix><uuid>.parquet`.
    * Columns carrying `parquet.field.id` metadata write their ids.
    * `partitionCols` become `k=v` directories whose values come back per
    * file. The staging dir is removed even when the write throws. Does
    * not commit: callers map each (path, partition, footer) to their own
    * [[DataFile]] and hand it to [[commitSnapshot]]. */
  private def publish(tableDir: String, df: DataFrame, prefix: String,
      partitionCols: Seq[String] = Nil)
      : List[(String, Map[String, String], ParquetStats.FileFooter)] = {
    val dataDir = MetadataIO.dataDir(tableDir)
    Files.createDirectories(dataDir)
    val staging = Paths.get(tableDir, s".staging-${UUID.randomUUID()}")
    try {
      df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      df.write.option("compression", "snappy").partitionBy(partitionCols: _*)
        .parquet(staging.toString)
      val parts = {
        val stream = Files.walk(staging)
        try stream.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally stream.close()
      }
      val footers = ParquetStats.readMany(df.sparkSession, parts.map(_.toString))
      parts.filter(p => footers(p.toString).rowCount > 0).map { p =>
        val partition = staging.relativize(p).iterator().asScala
          .map(_.toString).filter(_.contains("=")).map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
        val dest = dataDir.resolve(s"$prefix${UUID.randomUUID()}.parquet")
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
        (dest.toString, partition, footers(p.toString))
      }
    } finally deleteRecursively(staging)
  }

  /** `df` projected onto the table schema, each column aliased with its
    * field-id metadata so the written files carry the ids. */
  private def withFieldIds(tbl: LakeTable, df: DataFrame): DataFrame =
    df.select(tbl.schema.fields.map(f =>
      col(s"`${f.name}`").as(f.name, f.metadata)): _*)

  /** Write df as new data files honoring the partition spec. Does not
    * commit. */
  private def writeFiles(tbl: LakeTable, df: DataFrame): List[DataFile] = {
    val schema = tbl.schema
    val spec = tbl.meta.partitionSpec
    val partCols = spec.map(pf => s"_p_${pf.partName}")
    val withParts = spec.zip(partCols).foldLeft(withFieldIds(tbl, df)) {
      case (d, (pf, pc)) =>
        d.withColumn(pc, transformExpr(pf,
          schema(pf.column).dataType).cast("string"))
    }
    publish(tbl.dir,
      if (spec.isEmpty) withParts
      else withParts.repartition(partCols.map(col): _*), "", partCols)
      .map { case (path, partition, footer) =>
        DataFile(path, footer.rowCount, footer.sizeBytes,
          partition.map { case (k, v) => k.stripPrefix("_p_") -> v },
          footer.stats)
      }
  }

  /** A commit found its removed-file set no longer fully live: another
    * writer rewrote or dropped one of the files this operation was based
    * on. The operation's effect cannot be rebased at the metadata level
    * (the replacement files were derived from the stale originals) — the
    * caller must recompute against the current snapshot and try again,
    * which [[withCommitRetry]] does for the built-in COW operations. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Bounded optimistic-retry loop for snapshot-conflicting operations:
    * `op` MUST re-derive its candidate file set from the table's current
    * snapshot on every attempt (all Engine DML does — `tbl.meta` is a
    * fresh read). Files a conflicted attempt already published into
    * `data/` become orphans; only [[expireSnapshotIds]]' sweep of
    * `data/` reclaims them, and only when it drops a snapshot. */
  def withCommitRetry[T](attempts: Int = 4)(op: => T): T = {
    var left = attempts
    while (true) {
      try return op
      catch { case e: CommitConflictException =>
        left -= 1
        if (left <= 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Snapshot commit expressed as (removed paths, added files) and
    * resolved against the CURRENT live set under the commit lock — so a
    * concurrent append between an operation's read snapshot and its
    * commit is retained, not silently dropped (the reference gets the
    * same property from PG row locks + PRE_COMMIT apply,
    * transaction_hooks.c:27-70). The lock is the cross-process
    * [[MetadataIO.withTableLock]]; inside it, every removed path is
    * validated still-live, so two writers whose COW file sets overlap
    * cannot both land — the loser gets [[CommitConflictException]] and
    * its `withCommitRetry` recomputes from the winner's snapshot. */
  private def commitSnapshot(tbl: LakeTable, operation: String,
      removedPaths: Set[String], add: List[DataFile],
      removeAll: Boolean = false): Unit =
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      val prior = meta.currentSnapshot.map(_.manifests).getOrElse(Nil)
      val priorFiles = meta.currentSnapshot
        .map(MetadataIO.liveFiles(tbl.dir, _)).getOrElse(Nil)
      if (!removeAll) {
        val live = priorFiles.map(_.path).toSet
        val gone = removedPaths.filterNot(live)
        if (gone.nonEmpty)
          throw new CommitConflictException(
            s"$operation: ${gone.size} of ${removedPaths.size} files to " +
              s"replace are no longer live (e.g. ${gone.head}) — a " +
              "concurrent writer committed an overlapping file set")
      }
      val keep =
        if (removeAll) Nil
        else priorFiles.filterNot(f => removedPaths.contains(f.path))
      val manifests = scala.collection.mutable.ListBuffer[String]()
      if (removedPaths.isEmpty && !removeAll && keep.size == priorFiles.size)
        manifests ++= prior // append-only: manifest reuse, O(added) commit
      else if (keep.nonEmpty)
        manifests += MetadataIO.writeManifest(tbl.dir, keep)
      val snapId = meta.snapshots.map(_.id).max + 1
      // stamp each added file's data sequence number with the adding
      // snapshot's id (Iceberg v2 sequence semantics: monotone per
      // commit) — kept files keep theirs verbatim, so equality deletes
      // keep applying to exactly the files that predate them
      val stamped = add.map(f =>
        if (f.seq.isEmpty) f.copy(seq = Some(snapId)) else f)
      if (stamped.nonEmpty)
        manifests += MetadataIO.writeManifest(tbl.dir, stamped)
      val snap = Snapshot(snapId, System.currentTimeMillis(), operation,
        manifests.toList, Map(
          "addedFiles" -> add.size.toString,
          "removedFiles" -> (priorFiles.size - keep.size).toString,
          "addedRows" -> add.map(_.rowCount).sum.toString))
      MetadataIO.commitMetadata(tbl.dir,
        meta.copy(snapshots = meta.snapshots :+ snap, currentSnapshotId = snapId))
    }

  def insert(tbl: LakeTable, df: DataFrame): Unit = {
    val added = writeFiles(tbl, df)
    commitSnapshot(tbl, "append", Set.empty, added)
  }

  /** Insert with a write-time sort: rows sorted within each output task
    * tighten per-file and per-row-group min/max bounds on the sort
    * columns, which directly improves file pruning and parquet row-group
    * skipping for range predicates (the lakehouse analogue of clustering
    * the table; repartitionByRange makes the per-FILE ranges disjoint). */
  def insertSorted(tbl: LakeTable, df: DataFrame,
      sortCols: Seq[String], numFiles: Int = 0): Unit = {
    val parted =
      if (numFiles > 0)
        df.repartitionByRange(numFiles, sortCols.map(col): _*)
      else df.repartitionByRange(sortCols.map(col): _*)
    insert(tbl, parted.sortWithinPartitions(sortCols.map(col): _*))
  }

  /** INSERT ... SELECT pushdown analogue (planner/insert_select.c:48-244):
    * the select runs fully in Spark and lands as new files. */
  def insertSelect(tbl: LakeTable, sql: String): Unit =
    insert(tbl, tbl.spark.sql(sql))

  def truncate(tbl: LakeTable): Unit =
    commitSnapshot(tbl, "truncate", Set.empty, Nil, removeAll = true)

  // ---------------------------------------------------------------- DML

  private def normPath(p: String): String =
    p.stripPrefix("file://").stripPrefix("file:")

  final case class DmlResult(rewrittenFiles: Int, droppedFiles: Int,
      untouchedFiles: Int, matchedRows: Long)

  /** Which candidate files actually contain rows that `matching` keeps,
    * and how many (distributed count, one pass). */
  private def filesWithMatches(tbl: LakeTable, candidates: List[DataFile],
      matching: DataFrame => DataFrame): Map[String, Long] =
    if (candidates.isEmpty) Map.empty
    else matching(tbl.readData(candidates)
        // _metadata.file_path, not input_file_name(): the latter is
        // nondeterministic and would stop filters pushing into the scan
        .withColumn("_file", col("_metadata.file_path")))
      .groupBy("_file").agg(count(lit(1)).as("n"))
      .collect().map(r => normPath(r.getString(0)) -> r.getLong(1)).toMap

  /** MERGE INTO (equi-key upsert): for each target row whose `keys`
    * equal a source row's — update the listed columns from the source
    * (default: every common non-key column) or delete it; source rows
    * matching no target row insert as new rows. SQL MERGE semantics:
    * the source must have at most one row per key (checked), NULL keys
    * never match, and the whole operation is ONE snapshot.
    *
    * The reference supports MERGE only on heap tables through Postgres
    * itself — its dbt guide spells out "Merge is not currently
    * supported on Iceberg tables" (docs/dbt.md:67) and prescribes
    * delete+insert; this is the lake-native version of what those
    * pipelines want.
    *
    * Scale posture: candidate files prune on the SOURCE's key range
    * (min/max per key → interval refutation against file stats — an
    * upsert batch touching recent keys rewrites only recent files);
    * match detection and the not-matched anti-join read only surviving
    * candidates; rewrites are per-file COW like UPDATE/DELETE. */
  def merge(tbl: LakeTable, source: DataFrame, keys: Seq[String],
      whenMatchedUpdate: Option[Seq[String]] = None,
      whenMatchedDelete: Boolean = false,
      whenNotMatchedInsert: Boolean = true): DmlResult = withCommitRetry() {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(!(whenMatchedDelete && whenMatchedUpdate.isDefined),
      "whenMatchedDelete and whenMatchedUpdate are mutually exclusive")
    flushDeletes(tbl)
    val srcCols = source.columns.toSet
    require(keys.forall(srcCols.contains), s"source lacks key columns")
    // SQL MERGE cardinality rule: one source row per key, or the result
    // would depend on join order
    require(source.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).isEmpty,
      "MERGE source has more than one row for some key")

    val updCols = whenMatchedUpdate.getOrElse(
      tbl.schema.fieldNames.filter(c =>
        srcCols.contains(c) && !keys.contains(c)).toSeq)

    // prune candidate files on the source's key range: a file whose
    // key stats don't intersect [min, max] of the source keys cannot
    // contain a match
    val files = tbl.liveFiles
    val bounds = source.agg(
      keys.flatMap(k => Seq(min(col(k)).as(s"_lo_$k"),
        max(col(k)).as(s"_hi_$k"))).head,
      keys.flatMap(k => Seq(min(col(k)).as(s"_lo_$k"),
        max(col(k)).as(s"_hi_$k"))).tail: _*).head()
    val rangePred = keys.zipWithIndex.map { case (k, i) =>
      val (lo, hi) = (bounds.get(2 * i), bounds.get(2 * i + 1))
      if (lo == null) lit(false)
      else col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduce(_ && _)
    val (mustRead, _, _) = Pruning.partitionFiles(
      Some(GraftBridge.resolvePredicate(tbl.spark, tbl.schema, rangePred)),
      tbl.schema, tbl.meta.partitionSpec, files)

    // which candidates actually contain a key match (per-file counts)
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val matches = filesWithMatches(tbl, mustRead,
      _.join(srcKeys, keys, "left_semi"))
    val rewrite = mustRead.filter(f => matches.contains(normPath(f.path)))
    val untouched = files.filterNot(f => matches.contains(normPath(f.path)))

    // COW rewrite: left-join the source, apply update/delete to matches
    val srcRenamed = source.select(
      (keys ++ updCols).distinct.map(c => col(c).as(s"_src_$c")) :+
        lit(true).as("_src_matched"): _*)
    def applyMerge(df: DataFrame): DataFrame = {
      val cond = keys.map(k => df(k) <=> col(s"_src_$k") &&
        df(k).isNotNull).reduce(_ && _)
      val joined = df.join(srcRenamed, cond, "left")
      val result =
        if (whenMatchedDelete) joined.filter(col("_src_matched").isNull)
        else joined
      val outCols = tbl.schema.fieldNames.map { c =>
        if (!whenMatchedDelete && updCols.contains(c))
          when(col("_src_matched").isNotNull, col(s"_src_$c"))
            .otherwise(df(c)).as(c)
        else df(c).as(c)
      }
      result.select(outCols: _*)
    }
    val rewritten =
      if (rewrite.isEmpty) Nil
      else rewriteGroups(tbl, rewrite, applyMerge,
        if (whenMatchedDelete) Nil else updCols)

    // not-matched inserts: source rows whose key appears in no candidate
    // file (files outside the range prune cannot match, so candidate
    // keys are the complete match set)
    val inserted =
      if (!whenNotMatchedInsert) Nil
      else {
        val targetKeys =
          tbl.readData(mustRead).select(keys.map(col): _*).distinct()
        val newRows = source.join(targetKeys, keys, "left_anti")
          .select(tbl.schema.fieldNames.map(col): _*)
        if (newRows.isEmpty) Nil else writeFiles(tbl, newRows)
      }

    commitSnapshot(tbl, "merge", rewrite.map(_.path).toSet,
      rewritten ++ inserted)
    DmlResult(rewrite.size, 0, untouched.size, matches.values.sum)
  }

  /** COW DELETE: metadata-only drop for provably-full-match files, file
    * rewrite (anti-filter) for partially matching ones. */
  def delete(tbl: LakeTable, pred: Column): DmlResult = withCommitRetry() {
    flushDeletes(tbl) // COW rewrites read raw files; clear pending MOR deletes
    val files = tbl.liveFiles
    val (mustRead, _, fullMatch) = Pruning.partitionFiles(
      Some(GraftBridge.resolvePredicate(tbl.spark, tbl.schema, pred)),
      tbl.schema, tbl.meta.partitionSpec, files)
    val fullPaths = fullMatch.map(_.path).toSet
    val candidates = mustRead.filterNot(f => fullPaths.contains(f.path))
    val matches = filesWithMatches(tbl, candidates, _.filter(pred))
    val rewrite = candidates.filter(f => matches.contains(normPath(f.path)))
    val untouched = files.filterNot(f =>
      fullPaths.contains(f.path) ||
      matches.contains(normPath(f.path)))
    val newFiles =
      if (rewrite.isEmpty) Nil
      else rewriteGroups(tbl, rewrite, df => df.filter(!pred))
    commitSnapshot(tbl, "delete",
      fullPaths ++ rewrite.map(_.path), newFiles)
    DmlResult(rewrite.size, fullMatch.size, untouched.size,
      fullMatch.map(_.rowCount).sum + matches.values.sum)
  }

  /** Merge-on-read DELETE: write an Iceberg-v2-style position-delete file
    * (file_path, pos) instead of rewriting data files — the reference's
    * alternative delete path (position_delete_dest.c:40-120;
    * ShouldRewriteAfterDeletions decides between the two,
    * writable_table.c:648). Full-match files still drop metadata-only —
    * deliberately WITHOUT consulting pending equality deletes, so their
    * `deletedRows` contribution counts the file's full rowCount even
    * when some rows were already eq-deleted (counting them exactly
    * would need the scan the metadata-only path exists to avoid; the
    * candidate path below does exclude eq-deleted rows, where the scan
    * happens anyway). Reads anti-join the delete files until
    * `flushDeletes` compacts them away. */
  def deleteMor(tbl: LakeTable, pred: Column): DmlResult = withCommitRetry() {
    val (allDels, data) = tbl.liveFiles.partition(_.isAnyDelete)
    val dels = allDels.filter(_.isDelete)
    val eqDels = allDels.filter(_.isEqDelete)
    val (mustRead, _, fullMatch) = Pruning.partitionFiles(
      Some(GraftBridge.resolvePredicate(tbl.spark, tbl.schema, pred)),
      tbl.schema, tbl.meta.partitionSpec, data)
    val fullPaths = fullMatch.map(_.path).toSet
    val candidates = mustRead.filterNot(f => fullPaths.contains(f.path))
    val added = if (candidates.isEmpty) Nil else {
      val raw = tbl.readData(candidates)
        .withColumn("_file",
          regexp_replace(col("_metadata.file_path"), "^file:/*", "/"))
        .withColumn("_pos", col("_metadata.row_index"))
      // exclude rows already equality-deleted (their positions would be
      // read-harmless to re-mark, but deletedRows would overcount), then
      // anti-join away positions already covered by earlier position-
      // delete files — same double-count reason
      val rawLive =
        if (eqDels.isEmpty) raw
        else tbl.applyEqualityDeletes(raw, eqDels, candidates)
      val matched = rawLive.filter(pred)
        .select(col("_file").as("file_path"), col("_pos").as("pos"))
      val pos =
        if (dels.isEmpty) matched
        else matched.join(
          tbl.spark.read.schema(tbl.deleteSchema)
            .parquet(dels.map(_.path): _*),
          Seq("file_path", "pos"), "left_anti")
      // scale the delete-file write with the table: hash-partition on the
      // data-file path so a mass delete fans out across the cluster (one
      // task would serialize a 100 TB-table delete), and keep each delete
      // file sorted by (file_path, pos) as the Iceberg v2 spec requires
      val nParts = math.max(1, math.min(candidates.size / 4 + 1,
        tbl.spark.sparkContext.defaultParallelism))
      publish(tbl.dir, pos.repartition(nParts, col("file_path"))
          .sortWithinPartitions("file_path", "pos"), "delete-")
        .map { case (path, _, footer) => DataFile(path, footer.rowCount,
          footer.sizeBytes, Map.empty, footer.stats, content = Some(1)) }
    }
    commitSnapshot(tbl, "delete-mor", fullPaths, added)
    DmlResult(0, fullMatch.size, data.size - fullMatch.size,
      fullMatch.map(_.rowCount).sum + added.map(_.rowCount).sum)
  }

  /** Equality DELETE (Iceberg v2 content=2): write the delete KEYS, not
    * positions — O(|keys|) work regardless of table size, no data scan
    * at write time. A key row deletes every data row whose key columns
    * are null-safe-equal, but only in data files with a STRICTLY lower
    * data sequence number, so rows appended after this commit survive —
    * the streaming-upsert primitive. Reads anti-join the key files
    * until [[flushDeletes]] compacts them away. The write side goes
    * beyond the reference (its own MOR writes emit position deletes
    * only, position_delete_dest.c); the read side matches the external
    * equality-delete support both engines already have
    * (read_manifest.c:84-130 sequence rule).
    *
    * `matchedRows` in the result counts delete KEYS written, not data
    * rows matched — matches are unknowable without the scan this path
    * exists to avoid (Iceberg reports the same). */
  def deleteByKey(tbl: LakeTable, keyCols: Seq[String],
      keys: DataFrame): DmlResult = withCommitRetry() {
    require(keyCols.nonEmpty, "deleteByKey: no key columns")
    val schema = tbl.schema
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"deleteByKey: unknown key column $c"))
    val ids = tbl.meta.fieldIds.map(f => f.name -> f.id).toMap
    val eqIds = keyCols.map(c => ids.getOrElse(c,
      throw new IllegalArgumentException(
        s"deleteByKey: column $c has no field id"))).toList
    // dedupe + sort the keys: repeated upserts of the same key must not
    // grow the delete file, sorted keys give the tight per-file stats
    // the flush pruner refutes with, and the distinct's own hash
    // shuffle IS the key partitioning (no second exchange). Field-id
    // metadata rides the select so external field-id readers resolve the
    // delete columns.
    // coalesce bounds the delete-file fan-out when the session runs a
    // high spark.sql.shuffle.partitions: a small key batch must not
    // scatter into hundreds of tiny files every read then anti-joins
    // (coalesce merges without a second shuffle; it never increases)
    val nOut = math.max(1, tbl.spark.sparkContext.defaultParallelism)
    val distinctKeys = keys
      .select(keyCols.map(c =>
        col(s"`$c`").cast(schema(c).dataType).as(c, schema(c).metadata)): _*)
      .distinct()
      .coalesce(nOut)
      .sortWithinPartitions(keyCols.map(col): _*)
    val added = publish(tbl.dir, distinctKeys, "eqdelete-")
      .map { case (path, _, footer) => DataFile(path, footer.rowCount,
        footer.sizeBytes, Map.empty, footer.stats, content = Some(2),
        equalityIds = Some(eqIds)) }
    val dataFiles = tbl.liveFiles.count(!_.isAnyDelete)
    // an empty key batch (routine in streaming upsert) commits nothing:
    // snapshot-per-empty-batch would churn the log for no state change
    if (added.nonEmpty) commitSnapshot(tbl, "delete-eq", Set.empty, added)
    DmlResult(0, 0, dataFiles, added.map(_.rowCount).sum)
  }

  /** Streaming upsert: equality-delete the incoming rows' keys, then
    * append the rows — two commits, the delete's sequence number
    * strictly below the append's, so the appended rows survive their
    * own delete while every older row under the same key is removed.
    * The MOR write shape a CDC-apply pipeline needs: O(batch) work per
    * batch, deferred compaction via [[flushDeletes]] /
    * [[maintenanceTick]]. */
  def upsertByKey(tbl: LakeTable, keyCols: Seq[String],
      rows: DataFrame,
      assumeKeyUnique: Boolean = false): DmlResult = {
    val cached = rows.cache() // read thrice: guard, keys, the append
    try {
      // the MERGE cardinality rule, same reason as Engine.merge: two
      // batch rows under one key would BOTH survive the delete (both
      // carry the same higher sequence number) and the table would
      // silently hold duplicates — callers must last-wins-reduce their
      // CDC batch before applying it. `assumeKeyUnique` skips the
      // guard's verification job for callers whose reduction already
      // proves it (upsertStream's per-key row_number=1 cut).
      require(assumeKeyUnique ||
        cached.groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).isEmpty,
        "upsertByKey batch has more than one row for some key")
      val res = deleteByKey(tbl, keyCols, cached)
      insert(tbl, cached)
      res
    } finally cached.unpersist()
  }

  /** Merge-on-read UPDATE: position-delete the matched rows and append
    * the updated versions as new files — the reference's delete+reinsert
    * formulation (writes.md:15-37) without touching unmatched rows. */
  def updateMor(tbl: LakeTable, pred: Column,
      assignments: Map[String, Column]): DmlResult = {
    val cols = tbl.schema.fieldNames
    val updatedRows = tbl.toDF.filter(pred).select(cols.map { c =>
      assignments.get(c).map(_.as(c)).getOrElse(col(c))
    }: _*).cache()
    val nUpdated = updatedRows.count()
    val res = deleteMor(tbl, pred)
    if (nUpdated > 0) insert(tbl, updatedRows)
    updatedRows.unpersist()
    res.copy(matchedRows = nUpdated)
  }

  /** Flush pending position deletes: rewrite only the data files they
    * touch, then drop the delete files (the VACUUM "flush deletion
    * queue" step, ddl/vacuum.c). Returns rewritten file count. */
  def flushDeletes(tbl: LakeTable): Int = withCommitRetry() {
    val (allDels, data) = tbl.liveFiles.partition(_.isAnyDelete)
    val (eqDels, dels) = allDels.partition(_.isEqDelete)
    if (allDels.isEmpty) return 0
    val posAffected =
      if (dels.isEmpty) Set.empty[String]
      else tbl.spark.read.schema(tbl.deleteSchema)
        .parquet(dels.map(_.path): _*)
        .select("file_path").distinct().collect()
        .map(r => normPath(r.getString(0))).toSet
    // equality deletes apply to data files with a strictly lower
    // sequence number — but a file whose key-column [min,max] ranges
    // are disjoint from a delete file's cannot contain any deleted row
    // (the delete keys are written sorted exactly so these bounds are
    // tight), so stats refute most of the table for a narrow delete
    // instead of rewriting every older file. Both-sides-nullable keys
    // defeat range refutation (NULL <=> NULL matches); missing stats
    // are conservatively affected.
    val schema = tbl.schema
    val idToName = tbl.meta.fieldIds.map(f => f.id -> f.name).toMap
    def eqAffects(f: DataFile): Boolean = eqDels.exists { d =>
      f.dataSeq < d.seq.getOrElse(Long.MaxValue) &&
        d.equalityIds.getOrElse(Nil).forall { id =>
          val c = idToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"unknown equality field id $id in ${d.path}"))
          val fs = f.stats.get(c)
          val ds = d.stats.get(c)
          // != 0 treats UNKNOWN null counts (-1, footer omitted
          // num_nulls) as possibly-null: refuting on ranges alone
          // would let a NULL-keyed delete silently miss NULL rows
          Pruning.rangesMayOverlap(schema(c).dataType, fs, ds) ||
            (fs.exists(_.nullCount != 0) && ds.exists(_.nullCount != 0))
        }
    }
    val rewrite = data.filter(f =>
      posAffected.contains(normPath(f.path)) ||
        (eqDels.nonEmpty && eqAffects(f)))
    val newFiles = rewrite.groupBy(_.partition).toList.flatMap {
      case (partition, group) =>
        val raw = tbl.readData(group)
        val posApplied =
          if (dels.isEmpty) raw else tbl.applyPositionDeletes(raw, dels)
        val all =
          if (eqDels.isEmpty) posApplied
          else tbl.applyEqualityDeletes(posApplied, eqDels, group)
        writeRaw(tbl, all, partition)
    }
    commitSnapshot(tbl, "flush-deletes",
      rewrite.map(_.path).toSet ++ allDels.map(_.path), newFiles)
    rewrite.size
  }

  /** COW UPDATE: rewrite matched files as (unmatched rows) ∪ (matched rows
    * with assignments applied) — writes.md:15-37 without the reinsert
    * round-trip. */
  def update(tbl: LakeTable, pred: Column,
      assignments: Map[String, Column]): DmlResult = withCommitRetry() {
    flushDeletes(tbl) // COW rewrites read raw files; clear pending MOR deletes
    val files = tbl.liveFiles
    val (mustRead, _, _) = Pruning.partitionFiles(
      Some(GraftBridge.resolvePredicate(tbl.spark, tbl.schema, pred)),
      tbl.schema, tbl.meta.partitionSpec, files)
    val matches = filesWithMatches(tbl, mustRead, _.filter(pred))
    val rewrite = mustRead.filter(f => matches.contains(normPath(f.path)))
    val untouched = files.filterNot(f => matches.contains(normPath(f.path)))
    val cols = tbl.schema.fieldNames
    def applyUpd(df: DataFrame): DataFrame = {
      val updated = cols.map { c =>
        assignments.get(c) match {
          case Some(v) => when(pred, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }
      df.select(updated: _*)
    }
    val newFiles =
      if (rewrite.isEmpty) Nil
      else rewriteGroups(tbl, rewrite, applyUpd, assignments.keys)
    commitSnapshot(tbl, "update", rewrite.map(_.path).toSet, newFiles)
    DmlResult(rewrite.size, 0, untouched.size, matches.values.sum)
  }

  /** Rewrite a set of files partition-group by partition-group so the new
    * files carry the right partition values. A rewrite that `assigned` a
    * partition spec's source column can move rows between partitions, so
    * it goes through [[writeFiles]], which derives each row's partition —
    * the reference's delete+reinsert UPDATE (writes.md:15-37). */
  private def rewriteGroups(tbl: LakeTable, files: List[DataFile],
      f: DataFrame => DataFrame,
      assigned: Iterable[String] = Nil): List[DataFile] = {
    lazy val sourceCols = tbl.meta.partitionSpec.map(_.column).toSet
    if (assigned.exists(c => sourceCols(c)))
      writeFiles(tbl, f(tbl.readData(files)))
    else files.groupBy(_.partition).toList.flatMap {
      case (partition, group) =>
        writeRaw(tbl, f(tbl.readData(group)), partition)
    }
  }

  /** Write a dataframe as plain files tagged with fixed partition values
    * (used by rewrites, where partition membership is already decided). */
  private def writeRaw(tbl: LakeTable, df: DataFrame,
      partition: Map[String, String]): List[DataFile] =
    publish(tbl.dir, withFieldIds(tbl, df), "").map {
      case (path, _, footer) => DataFile(path, footer.rowCount,
        footer.sizeBytes, partition, footer.stats)
    }

  // ---------------------------------------------------------- maintenance

  /** Small-file compaction per partition, bounded rounds per call like the
    * reference's MaxCompactionsPerVacuum (ddl/vacuum.c:70-71). */
  def compact(tbl: LakeTable, targetBytes: Long = 128L * 1024 * 1024,
      maxRounds: Int = 100): Int = withCommitRetry() {
    flushDeletes(tbl) // compaction rewrites raw files
    var rounds = 0
    val files = tbl.liveFiles.filterNot(_.isAnyDelete)
    val groups = files.groupBy(_.partition).toList
    var keep = scala.collection.mutable.ListBuffer[DataFile]()
    var added = scala.collection.mutable.ListBuffer[DataFile]()
    val removedPaths = scala.collection.mutable.Set[String]()
    for ((partition, group) <- groups) {
      val small = group.filter(_.sizeBytes < targetBytes / 2)
      if (small.size >= 2 && rounds < maxRounds) {
        rounds += 1
        val nOut = math.max(1,
          math.ceil(small.map(_.sizeBytes).sum.toDouble / targetBytes).toInt)
        added ++= writeRaw(tbl, tbl.readData(small).coalesce(nOut), partition)
        removedPaths ++= small.map(_.path)
      } else keep ++= group
    }
    if (rounds > 0)
      commitSnapshot(tbl, "compact", removedPaths.toSet, added.toList)
    rounds
  }

  /** One autovacuum-style maintenance tick — the caller-driven analogue
    * of the reference's `'iceberg vacuum worker'` background process
    * (pg_lake_table--3.0.sql registers it; ddl/vacuum.c drives bounded
    * compaction rounds per wakeup). Spark has no extension-owned
    * background workers, so the tick rides whatever timer the host
    * already has: a streaming query's micro-batch cycle
    * ([[graft.streaming.StreamIngest.appendStream]]'s `maintainEvery`),
    * a cluster scheduler, or an explicit call. The decision mirrors the
    * worker's: act only when at least `minSmallFiles` live files sit
    * under half the target size (compaction) or at least
    * `minDeleteFiles` MOR delete files pend (deletion-queue flush —
    * the vacuum's other half), else the tick is one metadata read and
    * touches no data. Returns work units run (0 = no-op). */
  def maintenanceTick(tbl: LakeTable,
      targetBytes: Long = 128L * 1024 * 1024,
      minSmallFiles: Int = 8, maxRounds: Int = 100,
      minDeleteFiles: Int = 32): Int = {
    val live = tbl.liveFiles
    // the reference's vacuum also drains the deletion queue
    // (ddl/vacuum.c's flush step = flushDeletes here): a steady MOR
    // delete/upsert stream otherwise accretes delete files every read
    // must anti-join until someone flushes by hand. Threshold-gated so
    // an occasional delete never triggers a rewrite storm; the flush's
    // own stats pruner bounds the rewrite to the files actually touched.
    var acted = 0
    if (live.count(_.isAnyDelete) >= math.max(1, minDeleteFiles))
      acted += flushDeletes(tbl)
    // recount AFTER any flush: the flush's rewrites change the
    // small-file picture this very tick should react to
    val postFlush = if (acted > 0) tbl.liveFiles else live
    val small = postFlush.filterNot(_.isAnyDelete)
      .count(_.sizeBytes < targetBytes / 2)
    if (small >= minSmallFiles) acted += compact(tbl, targetBytes, maxRounds)
    acted
  }

  /** OPTIMIZE … ZORDER BY analogue (Delta's maintenance op; Iceberg's
    * rewrite-with-sort-order): rewrite every live data file of each
    * partition with rows clustered along the Morton curve of `cols`
    * ([[ZOrder.cluster]]), so the per-file min/max stats the insert
    * sink records tighten on ALL the z-dimensions and
    * [[graft.core.LakeTable.scan]]'s pruner skips files for range
    * predicates on any of them — where a plain sorted rewrite only
    * prunes its leading column. Content is untouched (layout-only
    * rewrite, committed as one snapshot); `numFiles` &gt; 0 fixes the
    * output fan-out per partition, else ~`targetBytes` files. */
  def optimizeZOrder(tbl: LakeTable, cols: Seq[String], bits: Int = 15,
      numFiles: Int = 0, targetBytes: Long = 128L * 1024 * 1024): Int =
    withCommitRetry() {
    flushDeletes(tbl)
    val files = tbl.liveFiles.filterNot(_.isAnyDelete)
    val added = scala.collection.mutable.ListBuffer[DataFile]()
    val removedPaths = scala.collection.mutable.Set[String]()
    for ((partition, group) <- files.groupBy(_.partition).toList) {
      val df = tbl.readData(group)
      val nOut =
        if (numFiles > 0) numFiles
        else math.max(1, math.ceil(
          group.map(_.sizeBytes).sum.toDouble / targetBytes).toInt)
      added ++= writeRaw(tbl, ZOrder.cluster(df, cols, bits, nOut),
        partition)
      removedPaths ++= group.map(_.path)
    }
    if (removedPaths.nonEmpty)
      commitSnapshot(tbl, "zorder", removedPaths.toSet, added.toList)
    added.size
  }

  /** Snapshot expiry + orphan-file GC (api/table_metadata.c:270-275;
    * cleanup/deletion_queue.c). */
  /** Partition spec evolution (ALTER TABLE … SET partition_by, the
    * reference's alter_table.c path; docs/iceberg-tables.md:159-226):
    * metadata-only — existing files keep the partition values they were
    * written with, new writes fan out under the new spec. Pruning stays
    * correct for both generations because a file without a value for a
    * spec field yields Maybe (must-read) and footer min/max stats apply
    * regardless of layout. */
  def setPartitionSpec(tbl: LakeTable,
      spec: List[PartitionField]): LakeTable =
    MetadataIO.withTableLock(tbl.dir) {
    val meta = tbl.meta
    val cols = StructType.fromDDL(meta.schemaDdl).fieldNames.toSet
    spec.foreach(pf => require(cols.contains(pf.column),
      s"unknown partition column ${pf.column}"))
    MetadataIO.commitMetadata(tbl.dir, meta.copy(partitionSpec = spec))
    LakeTable.load(tbl.spark, tbl.dir)
  }

  /** ANALYZE: compute table-level statistics (row count, bytes) and
    * per-column NDV + null counts in ONE distributed aggregation pass,
    * persisting them as table properties — the reference samples through
    * `deparseAnalyzeSql` (deparse.c:2128-2260) to feed the PG planner;
    * here the stats feed inspection and external cost models (Catalyst
    * costing already gets sizeInBytes from [[graft.core.LakeFileIndex]]
    * and min/max from the per-file footer stats). */
  def analyze(tbl: LakeTable): DataFrame = {
    import org.apache.spark.sql.functions.{approx_count_distinct, count, lit, sum}
    val df = tbl.toDF
    val cols = df.schema.fieldNames
    val aggs = cols.flatMap(c => Seq(
      approx_count_distinct(col(c)).as(s"ndv_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))) :+
      count(lit(1)).as("row_count")
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rowCount = r.getAs[Long]("row_count")
    val bytes = tbl.liveFiles.filterNot(_.isAnyDelete).map(_.sizeBytes).sum
    val props = cols.flatMap(c => Seq(
      s"stats.ndv.$c" -> r.getAs[Long](s"ndv_$c").toString,
      s"stats.nulls.$c" -> r.getAs[Long](s"nulls_$c").toString)).toMap ++
      Map("stats.row_count" -> rowCount.toString,
        "stats.total_bytes" -> bytes.toString,
        "stats.analyzed_at" -> System.currentTimeMillis().toString)
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      MetadataIO.commitMetadata(tbl.dir,
        meta.copy(properties = meta.properties ++ props))
    }
    statsDF(tbl)
  }

  /** Inspection: the persisted ANALYZE statistics as a DataFrame. */
  def statsDF(tbl: LakeTable): DataFrame = {
    import tbl.spark.implicits._
    val props = tbl.meta.properties
    val rows = tbl.schema.fieldNames.toSeq.map { c =>
      (c, props.get(s"stats.ndv.$c").map(_.toLong),
        props.get(s"stats.nulls.$c").map(_.toLong))
    }
    rows.toDF("column", "ndv", "null_count")
      .withColumn("row_count",
        lit(props.get("stats.row_count").map(_.toLong).orNull))
  }

  /** The ids [[expireSnapshots]] would drop for `keepLast` — selection
    * only, no mutation. Callers that must publish the removal to a
    * catalog BEFORE local GC reclaims exported artifacts (the
    * remove-snapshots-commit-first ordering in
    * [[IcebergRestCatalog.expireSnapshots]]) read this, commit, then
    * run the real expiry. */
  def expireSelection(tbl: LakeTable, keepLast: Int = 1): Seq[Long] =
    tbl.meta.snapshots.sortBy(_.id)
      .dropRight(math.max(1, keepLast)).map(_.id)

  def expireSnapshots(tbl: LakeTable, keepLast: Int = 1): Int =
    MetadataIO.withTableLock(tbl.dir) {
      expireSnapshotIds(tbl, expireSelection(tbl, keepLast))
    }

  /** Drop exactly `removeIds` (+ GC). Callers that pre-published a
    * removal set to an external catalog ([[IcebergRestCatalog
    * .expireSnapshots]]'s commit-first ordering) pass that SAME set
    * here, so a local snapshot committed between the catalog commit and
    * this call can never be GC'd while the catalog still serves it —
    * recomputing keep-last here would widen the drop set. */
  def expireSnapshotIds(tbl: LakeTable, removeIds: Seq[Long]): Int =
    MetadataIO.withTableLock(tbl.dir) {
    val meta = tbl.meta
    val remove = removeIds.toSet
    val keep = meta.snapshots.filterNot(s => remove.contains(s.id))
    require(keep.nonEmpty, "refusing to expire every snapshot")
    require(keep.exists(_.id == meta.currentSnapshotId),
      "refusing to expire the current snapshot")
    val dropped = meta.snapshots.size - keep.size
    if (dropped > 0) {
      MetadataIO.commitMetadata(tbl.dir, meta.copy(snapshots = keep))
      // GC: data files + manifests no longer referenced by any kept snapshot
      val referenced = keep.flatMap(s =>
        MetadataIO.liveFiles(tbl.dir, s)).map(f => normPath(f.path)).toSet
      val dataDir = MetadataIO.dataDir(tbl.dir)
      if (Files.exists(dataDir)) {
        val stream = Files.list(dataDir)
        try stream.iterator().asScala.foreach { p =>
          if (!referenced.contains(normPath(p.toString))) Files.delete(p)
        } finally stream.close()
      }
      val refManifests = keep.flatMap(_.manifests).toSet
      // exported Iceberg artifacts share the manifest- prefix with the
      // engine's JSON manifests (manifest-<snapId>.avro,
      // manifest-<snapId>-deletes.avro, manifest-list-<snapId>.json —
      // IcebergExport), so the sweep below would reclaim KEPT
      // snapshots' exported chains too and leave a catalog reader
      // chasing deleted files until the next re-export
      val keptExported = keep.flatMap(s => Seq(
        s"manifest-${s.id}.avro", s"manifest-${s.id}-deletes.avro",
        s"manifest-list-${s.id}.json")).toSet
      val mdir = MetadataIO.metaDir(tbl.dir)
      val ms = Files.list(mdir)
      try ms.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("manifest-") && !refManifests.contains(n) &&
            !keptExported.contains(n))
          Files.delete(p)
      } finally ms.close()
    }
    dropped
  }

  // ------------------------------------------------------ SQL surface

  /** Register a lake table as a temp view so `spark.sql` sees it by name
    * (the reference's `read_table('<rel>')` placeholder resolution,
    * deparse_ruleutils.c:72-100, collapses to view registration — the
    * file list is resolved from the current snapshot at registration). */
  def registerTable(tbl: LakeTable, name: String): LakeFileIndex = {
    val (df, index) = tbl.toPrunedDF
    df.createOrReplaceTempView(name)
    index
  }

  /** SQL entry point with PG shims + ST_* geometry functions + the
    * named lake tables in scope. */
  def sql(spark: SparkSession, tables: Map[String, LakeTable],
      query: String): DataFrame = {
    graft.functions.PgFunctions.registerAll(spark)
    graft.functions.Geo.registerAll(spark)
    tables.foreach { case (n, t) => registerTable(t, n) }
    spark.sql(query)
  }

  /** `CREATE FOREIGN TABLE <name> () SERVER pg_lake OPTIONS (path,
    * format)` analogue: register an EXTERNAL path under a SQL name —
    * raw files (parquet/csv/json/orc/text/geojson/shp/log) through the
    * COPY readers, `iceberg` through the metadata.json reader,
    * `delta` through the _delta_log reader. Reads resolve the external
    * table's CURRENT state at registration (same snapshot pinning the
    * reference applies per scan). */
  def registerExternal(spark: SparkSession, name: String, path: String,
      format: String, options: Map[String, String] = Map.empty): DataFrame = {
    val df = format.toLowerCase match {
      case "iceberg" => graft.core.IcebergImport.scan(spark, path)
      case "delta" => graft.core.DeltaImport.scan(spark, path)
      case other => copyFrom(spark, path, other, options)
    }
    df.createOrReplaceTempView(name)
    df
  }

  // ------------------------------------------------- schema evolution

  /** ALTER TABLE ADD COLUMN (nullable, with optional default applied on
    * read of old files is NOT needed: Spark's parquet reader yields null
    * for absent columns, matching Iceberg add-column semantics;
    * field-ids track identity across renames —
    * pg_lake_table/src/ddl/alter_table.c, register_field_ids.c:389). */
  def addColumn(tbl: LakeTable, name: String, sparkType: String): Unit =
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      require(!tbl.schema.fieldNames.contains(name), s"column $name exists")
      val nextId = (meta.fieldIds.map(_.id) :+ 0).max + 1
      MetadataIO.commitMetadata(tbl.dir, meta.copy(
        schemaDdl = meta.schemaDdl + s", $name $sparkType",
        fieldIds = meta.fieldIds :+ FieldId(name, nextId)))
    }

  /** ALTER TABLE RENAME COLUMN: metadata-only; the field id keeps linking
    * the new name to existing file data, so old files keep reading. */
  def renameColumn(tbl: LakeTable, from: String, to: String): Unit =
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      val schema = tbl.schema
      require(schema.fieldNames.contains(from), s"no column $from")
      val newDdl = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)).toDDL
      MetadataIO.commitMetadata(tbl.dir, meta.copy(
        schemaDdl = newDdl,
        fieldIds = meta.fieldIds.map(fi =>
          if (fi.name == from) fi.copy(name = to) else fi)))
    }

  /** ALTER TABLE DROP COLUMN: metadata-only. */
  def dropColumn(tbl: LakeTable, name: String): Unit =
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      val schema = tbl.schema
      require(schema.fieldNames.contains(name), s"no column $name")
      require(!meta.partitionSpec.exists(_.column == name),
        s"cannot drop partition column $name")
      val newDdl = StructType(schema.fields.filterNot(_.name == name)).toDDL
      MetadataIO.commitMetadata(tbl.dir, meta.copy(
        schemaDdl = newDdl,
        fieldIds = meta.fieldIds.filterNot(_.name == name)))
    }

  /** ALTER TABLE ALTER COLUMN TYPE — widening only, metadata-only
    * (pg_lake_table/src/ddl/alter_table.c; Iceberg type-promotion rules
    * plus scale growth, which PG numeric permits). Old data files keep
    * their original physical type and are read through the parquet
    * reader's native type promotion (verified: int32→int64/double,
    * float→double, decimal precision AND scale growth); files written
    * after the change carry the new type under the same field id. File
    * min/max stats are stored as strings and re-parsed under the current
    * schema, so pruning keeps working across the change. */
  def alterColumnType(tbl: LakeTable, name: String, newType: String): Unit =
    MetadataIO.withTableLock(tbl.dir) {
      val meta = tbl.meta
      val schema = tbl.schema
      val field = schema.fields.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      require(!meta.partitionSpec.exists(_.column == name),
        s"cannot change type of partition column $name")
      val to = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(newType)
      require(isWidening(field.dataType, to),
        s"cannot change ${field.dataType.sql} to ${to.sql}: widening only")
      val newDdl = StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)).toDDL
      MetadataIO.commitMetadata(tbl.dir, meta.copy(schemaDdl = newDdl))
    }

  /** Sanctioned promotions: integer chain, float→double, int→double,
    * decimal growth that never loses integer digits or scale. */
  private def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale
      case _ => false
    }

  // ---------------------------------------------------------------- COPY

  /** COPY (query) TO 'path' WITH (format, compression) —
    * pg_lake_copy/src/copy/copy.c:274-382. `singleFile` mirrors the
    * reference's one-object output. */
  def copyTo(df: DataFrame, path: String, format: String = "parquet",
      compression: String = "snappy", singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val w = out.write.mode("overwrite").option("compression", compression)
    format.toLowerCase match {
      case "parquet" => w.parquet(path)
      case "csv" => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      // ORC rides Spark's built-in writer (zlib/snappy/zstd compression)
      case "orc" => w.orc(path)
      // COPY TO a Delta table: parquet files + a conformant _delta_log
      // (readable by delta-spark and DeltaImport; single commit)
      case "delta" => graft.core.DeltaExport.create(out, path)
      case other => throw new IllegalArgumentException(s"format $other")
    }
  }

  /** COPY FROM with schema inference (read_data.c:222-453). */
  def copyFrom(spark: SparkSession, path0: String, format: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    // http(s):// sources localize through the content-addressed cache
    // first (the reference's cache-worker shape, sources/RemoteFetch) —
    // every format below then reads a local file exactly as before
    val pathL = graft.sources.RemoteFetch.localize(path0)
    // .zip containers extract once and re-dispatch on the selected entry
    // (zip_path option / extension inference — the reference's ".zip |
    // Auto-detected or derived from zip_path extension" row); a zipped
    // shapefile's .dbf/.shx extract beside its .shp so the pair resolves
    val (path1, fmt) =
      if (graft.sources.ZipContainer.isZip(pathL))
        graft.sources.ZipContainer.resolve(pathL, format,
          options.get("zip_path"))
      else (pathL, format)
    // .gz for the byte-level parsers (.gpkg.gz / zipped shapefile's
    // cousin row in the reference's format table): Spark-native readers
    // below decompress .gz themselves, the direct binary parsers cannot
    val byteParsed = Set("shp", "shapefile", "xlsx", "gpkg",
      "geopackage", "kml", "kmz", "dxf", "gml", "mif", "mapinfo",
      "fgb", "flatgeobuf")
    val path = {
      import graft.sources.ZipContainer
      val fl = fmt.toLowerCase
      val declared = options.get("compression").map(_.toLowerCase)
        .filterNot(_ == "none")
      if (ZipContainer.isGz(path1) && byteParsed(fl))
        ZipContainer.gunzip(path1)
      // .zst/.zstd: Spark's readers need the Hadoop native zstd codec
      // (absent here) — decode through zstd-jni for every format
      else if (ZipContainer.isZstd(path1))
        ZipContainer.decompress(path1, "zstd")
      // extension-less compressed csv/json (the reference's explicit
      // `compression` option row): Spark keys codecs off the extension,
      // so a declared codec on a bare path decompresses here
      else if (declared.isDefined && !ZipContainer.isGz(path1) &&
          Set("csv", "json", "text", "log", "geojsonl",
            "geojsonseq")(fl) &&
          new java.io.File(path1).isFile)
        ZipContainer.decompress(path1, declared.get)
      else path1
    }
    fmt.toLowerCase match {
      case "parquet" => spark.read.options(options).parquet(path)
      case "csv" =>
        // sniffed dialect fills the gaps; explicit user options always win
        val sniffed = if (options.contains("sep")) Map.empty[String, String]
          else CsvSniffer.sniff(spark, path)
        spark.read.options(sniffed ++ options)
          .option("inferSchema", "true").csv(path)
      case "json" => spark.read.options(options).json(path)
      case "orc" => spark.read.options(options).orc(path)
      case "text" => spark.read.options(options).text(path)
      // log-format scan through the format dispatcher (the reference's
      // `format 'log', log_format 's3'` — docs/file-formats-reference
      // .md:137-156); gzip arrives free via spark.read.text
      case "log" =>
        val lf = options.getOrElse("log_format",
          throw new IllegalArgumentException(
            "format 'log' requires the log_format option"))
        require(lf == "s3", s"unsupported log_format '$lf' (only 's3')")
        readLogFormat(spark, path)
      // GeoJSON FeatureCollection → one row per feature with the geometry
      // as a WKB column (the reference reads these via DuckDB spatial's
      // st_read/GDAL, gdal.c; docs/file-formats-reference.md:100-135).
      // The geometry member is read as a raw JSON string (StringType in
      // the schema keeps the unparsed object text) and decoded by the
      // in-repo kernel; properties arrive as a string map.
      // ESRI Shapefile (.shp/.dbf pair) — the reference reads these via
      // GDAL (gdal.c, ".shp | Shapefile"); here a direct spec parser
      case "shp" | "shapefile" =>
        graft.sources.Shapefile.read(spark, path)
      // Excel workbook (.xlsx = ZIP of OOXML parts) — GDAL in the
      // reference; direct JDK zip+XML parse here. options: sheet
      case "xlsx" =>
        graft.sources.Xlsx.read(spark, path, options.get("sheet"))
      // OGC GeoPackage (.gpkg = SQLite + conventions) — GDAL in the
      // reference (gdal.c ".gpkg | GPKG"); direct b-tree parse here.
      // options: layer
      case "gpkg" | "geopackage" =>
        graft.sources.Gpkg.read(spark, path, options.get("layer"))
      // OGC KML/KMZ — GDAL in the reference (".kml | KML"); JDK StAX
      // parse here, one row per Placemark
      case "kml" | "kmz" =>
        graft.sources.Kml.read(spark, path)
      // AutoCAD DXF (ASCII group-code pairs) — GDAL in the reference
      // (gdal.c ".dxf | DXF"); direct spec parse here
      case "dxf" =>
        graft.sources.Dxf.read(spark, path)
      // OGC GML — GDAL in the reference (".gml | Yes"); JDK StAX parse
      case "gml" =>
        graft.sources.Gml.read(spark, path)
      // MapInfo Interchange (.mif/.mid pair) — GDAL in the reference
      // (".mif | MapInfo"); direct ASCII spec parse here
      case "mif" | "mapinfo" =>
        graft.sources.Mif.read(spark, path)
      // FlatGeoBuf — GDAL in the reference (".fgb | FlatGeobuf");
      // direct flatbuffer-layout parse here
      case "fgb" | "flatgeobuf" =>
        graft.sources.Fgb.read(spark, path)
      case "geojson" =>
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("type", StringType),
          StructField("features", ArrayType(StructType(Seq(
            StructField("type", StringType),
            StructField("geometry", StringType),
            StructField("properties", MapType(StringType, StringType))))))))
        spark.read.schema(schema).option("multiLine", "true")
          .options(options).json(path)
          .select(explode(col("features")).as("f"))
          .select(
            graft.functions.Geo.st_geomfromgeojson(col("f.geometry"))
              .as("geom"),
            col("f.properties").as("properties"))
      // GeoJSONSeq (.geojsonl/.geojsons): one Feature per line — same
      // row shape as the FeatureCollection reader above
      // (docs/file-formats-reference.md: ".geojsons .geojsonl")
      case "geojsonl" | "geojsonseq" =>
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("type", StringType),
          StructField("geometry", StringType),
          StructField("properties", MapType(StringType, StringType))))
        spark.read.schema(schema).options(options).json(path)
          .select(
            graft.functions.Geo.st_geomfromgeojson(col("geometry"))
              .as("geom"),
            col("properties").as("properties"))
      case other => throw new IllegalArgumentException(s"format $other")
    }
  }

  /** Log-format scan: regex-template projection over raw text — the
    * reference's S3-access-log reader (GetLogFormatRegex,
    * read_data.c:70; docs/file-formats-reference.md:137-156). Each
    * capture group becomes a column. */
  val s3AccessLogRegex: String =
    """(\S+) (\S+) \[([^\]]+)\] (\S+) (\S+) "([^"]*)" (\d{3}) (\d+|-)"""

  val s3AccessLogColumns: Seq[String] = Seq(
    "bucket", "remote_ip", "request_time", "requester", "operation",
    "request_uri", "http_status", "bytes_sent")

  def readLogFormat(spark: SparkSession, path: String,
      regex: String = s3AccessLogRegex,
      columns: Seq[String] = s3AccessLogColumns): DataFrame = {
    val raw = spark.read.text(path)
    raw.select(columns.zipWithIndex.map { case (name, i) =>
      regexp_extract(col("value"), regex, i + 1).as(name)
    }: _*)
      .filter(col(columns.head) =!= "") // drop non-matching lines
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally stream.close()
    }
  }
}

/** CSV dialect sniffing — the reference's `sniff_csv()`
  * (pg_lake_engine/src/pgduck/sniff_csv.c:35; csv/csv_options.c): sample
  * the head of the file and detect the full dialect, not just the
  * delimiter — quote character, escape style (RFC doubled-quote vs
  * backslash), null marker, embedded newlines (→ multiLine), and a header
  * row. A mis-sniffed quote silently corrupts imports, so candidate
  * (delimiter, quote) pairs are scored by parsing the sample with a real
  * quote-aware state machine and rewarding consistent field counts. */
object CsvSniffer {
  val delimiters = Seq(',', ';', '\t', '|')
  val quotes = Seq('"', '\'')

  /** One parsed record: fields + whether each was quoted. */
  private final case class Rec(fields: Vector[String], quoted: Vector[Boolean])

  /** Parse `sample` under a candidate dialect. Returns records, whether a
    * doubled-quote escape was seen, whether a backslash escape was seen,
    * and whether any quoted field spans a newline. */
  private def parse(sample: String, d: Char, q: Char)
      : (Vector[Rec], Boolean, Boolean, Boolean) = {
    val recs = Vector.newBuilder[Rec]
    var fields = Vector.newBuilder[String]
    var quotedFlags = Vector.newBuilder[Boolean]
    val cur = new StringBuilder
    var inQuote = false
    var sawDoubled = false
    var sawBackslash = false
    var multiline = false
    var curQuoted = false
    var nf = 0
    var i = 0
    def endField(): Unit = {
      fields += cur.toString; quotedFlags += curQuoted; nf += 1
      cur.clear(); curQuoted = false
    }
    def endRecord(): Unit = {
      endField()
      val r = Rec(fields.result(), quotedFlags.result())
      if (r.fields.exists(_.nonEmpty)) recs += r
      fields = Vector.newBuilder[String]
      quotedFlags = Vector.newBuilder[Boolean]
      nf = 0
    }
    while (i < sample.length) {
      val c = sample.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < sample.length &&
            (sample.charAt(i + 1) == q || sample.charAt(i + 1) == '\\')) {
          sawBackslash = true; cur.append(sample.charAt(i + 1)); i += 1
        } else if (c == q) {
          if (i + 1 < sample.length && sample.charAt(i + 1) == q) {
            sawDoubled = true; cur.append(q); i += 1
          } else inQuote = false
        } else {
          if (c == '\n') multiline = true
          cur.append(c)
        }
      } else c match {
        case `q` if cur.isEmpty => inQuote = true; curQuoted = true
        case `d` => endField()
        case '\n' => endRecord()
        case '\r' => // swallow (CRLF)
        case other => cur.append(other)
      }
      i += 1
    }
    if (inQuote) multiline = false // unterminated quote → dialect is wrong
    if (!inQuote && (cur.nonEmpty || curQuoted || nf > 0)) endRecord()
    (recs.result(), sawDoubled, sawBackslash, multiline)
  }

  /** Consistency score: records must agree on field count under this
    * dialect; more fields (finer split) wins among consistent parses. */
  private def score(recs: Vector[Rec]): Int =
    if (recs.isEmpty || recs.head.fields.length < 2) -1
    else {
      val counts = recs.map(_.fields.length)
      if (counts.distinct.length == 1) 1000 + counts.head
      else counts.min - counts.distinct.length
    }

  private def looksNumeric(s: String): Boolean =
    scala.util.Try(s.toDouble).isSuccess

  def sniff(spark: SparkSession, path: String): Map[String, String] = {
    val raw = readSample(spark, path)
    // a full buffer was probably cut mid-record — trim to the last newline
    val sample =
      if (raw.length >= 65536 && raw.lastIndexOf('\n') > 0)
        raw.substring(0, raw.lastIndexOf('\n'))
      else raw
    if (sample.trim.isEmpty) return Map("header" -> "false", "sep" -> ",")
    val parsed = (for { d <- delimiters; q <- quotes }
      yield (d, q, parse(sample, d, q)))
    val (d, q, (recs, doubled, backslash, multiline)) =
      parsed.maxBy { case (_, _, (r, _, _, _)) => score(r) }
    if (recs.isEmpty) return Map("header" -> "false", "sep" -> ",")
    // escape style: doubled quote (RFC / PG CSV) unless only backslash seen
    val escape = if (backslash && !doubled) "\\" else q.toString
    // null marker: an UNQUOTED sentinel that repeats across records
    // (quoted empties/markers are data, not nulls — csv_options.c)
    val unquoted = recs.flatMap(r =>
      r.fields.zip(r.quoted).collect { case (f, false) => f })
    val nullValue = Seq("\\N", "NULL", "null")
      .find(m => unquoted.count(_ == m) >= 2)
    val header = recs.headOption.exists(h =>
      h.fields.forall(f => f.nonEmpty && !looksNumeric(f))) &&
      recs.drop(1).headOption.exists(_.fields.exists(looksNumeric))
    Map("sep" -> d.toString, "quote" -> q.toString, "escape" -> escape,
      "header" -> header.toString, "multiLine" -> multiline.toString) ++
      nullValue.map("nullValue" -> _)
  }

  /** Head bytes of the first CSV object under `path` (file or directory)
    * — raw, so quoted embedded newlines survive sampling (a line-based
    * sample would split them). Reads through the Hadoop FileSystem API so
    * every Spark-readable scheme (file/s3a/gs/abfs) and extensionless
    * part-files work; csv-like names are preferred when both exist. */
  private def readSample(spark: SparkSession, path: String,
      maxBytes: Int = 65536): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    def isCsvLike(n: String): Boolean =
      n.endsWith(".csv") || n.endsWith(".txt") || n.endsWith(".tsv") ||
        n.endsWith(".csv.gz") || n.endsWith(".txt.gz") || n.endsWith(".tsv.gz")
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return ""
    val target =
      if (fs.getFileStatus(p).isDirectory) {
        val kids = fs.listStatus(p).toList.filter(_.isFile)
          .map(_.getPath)
          .filterNot { f =>
            val n = f.getName; n.startsWith("_") || n.startsWith(".")
          }
          .sortBy(_.toString)
        kids.find(f => isCsvLike(f.getName))
          .orElse(kids.headOption)
          .getOrElse(return "")
      } else p
    val raw: java.io.InputStream = fs.open(target)
    val in = if (target.getName.endsWith(".gz"))
      new java.util.zip.GZIPInputStream(raw) else raw
    try {
      val buf = new Array[Byte](maxBytes)
      var off = 0
      var n = in.read(buf, off, maxBytes - off)
      while (n > 0 && off + n < maxBytes) { off += n; n = in.read(buf, off, maxBytes - off) }
      if (n > 0) off += n
      new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}
