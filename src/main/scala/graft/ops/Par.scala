package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Parallelism guard for per-row-expensive stages (regex/metric kernels,
  * signature computation, distance evaluation).
  *
  * Spark parallelizes a parquet scan at row-group granularity; a
  * single-row-group file therefore runs its whole scan stage — and every
  * expensive projection fused into it — on ONE core, while the other 31
  * idle. One narrow exchange before the heavy stage buys full-core
  * fan-out. The guard makes this a no-op at warehouse scale: inputs that
  * already carry at least half the cluster's parallelism (real tables —
  * many files, many row groups) pass through untouched, so the extra
  * shuffle exists only where it wins.
  *
  * The scan-partition estimate comes from FILE METADATA (the FileIndex
  * listing the planner consults anyway), replaying Spark's own split
  * packing formula (FilePartition.maxSplitBytes) — not from `df.rdd`,
  * which would force physical planning of a plan that never runs and
  * hide the input from AQE.
  */
private[graft] object Par {

  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) df
    else {
      // an explicit repartition/coalesce in the NARROW chain above the
      // source caps parallelism below whatever the file listing
      // suggests — honor it as a ceiling so fanOut(df.coalesce(1))
      // still fans out. Stop descending at the first shuffle-introducing
      // operator (join/aggregate/window): a repartition below one does
      // not cap the final stage, its shuffle restores parallelism.
      import org.apache.spark.sql.catalyst.plans.logical._
      @annotation.tailrec
      def chainCap(p: LogicalPlan): Option[Int] = p match {
        case r: Repartition => Some(r.numPartitions)
        case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
          r.optNumPartitions
        case _: Project | _: Filter | _: SubqueryAlias =>
          chainCap(p.children.head)
        case _ => None
      }
      val cap = chainCap(df.queryExecution.analyzed)
      val est = (estimateScanPartitions(df), cap) match {
        case (Some(n), Some(c)) => Some(n min c)
        case (n, c) => n.orElse(c)
      }
      est match {
        case Some(n) if n < math.max(2, target / 2) =>
          df.repartition(target)
        case _ => df // enough parallelism already, or not file-backed
      }
    }
  }

  /** [[fanOut]] gated by PER-TASK INPUT VOLUME, for stages whose
    * per-row cost is moderate (content hashing) rather than kernel-
    * expensive: the extra exchange only pays for itself when each scan
    * task would otherwise chew through a meaningful slab of bytes
    * single-threaded. Dispatch ([[SizeDispatch.FanOut]]) on analyzed-plan
    * leaf bytes / the same metadata-derived scan-task estimate fanOut
    * uses. On every shipped fixture this is a NO-OP (sf0.1: 584 KB total;
    * sf10/sf100: 32-file dirs that already scan parallel — verified via
    * parquet footers, r18) — it exists to defend the single-big-file
    * ingest shape (one 10 GB upload), where the moderate per-row cost
    * times gigabytes-per-task is worth one narrow exchange while the same
    * call on a tiny or well-laid-out input costs nothing. */
  def fanOutIfBulky(df: DataFrame): DataFrame = {
    val perTask = estimateScanPartitions(df) match {
      case Some(n) if n > 0 => SizeDispatch.leafBytes(df) / n
      case _ => BigInt(0) // not file-backed: nothing to rescue
    }
    if (SizeDispatch.above(SizeDispatch.FanOut, df.sparkSession, perTask))
      fanOut(df)
    else df
  }

  /** Estimated scan-task count for a file-backed plan: Spark packs file
    * splits into partitions of `maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, totalBytes / defaultParallelism))` with an
    * `openCostInBytes` surcharge per file (FilePartition.scala). An
    * RDD-backed leaf (the Shapefile/GPKG/KML readers build those via
    * sc.parallelize) reports its EXISTING partition count — the RDD is
    * already materialized, so no planning is forced. None when no
    * sized leaf exists (local/in-memory inputs). */
  private def estimateScanPartitions(df: DataFrame): Option[Int] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rddParts = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getNumPartitions
    }
    if (rddParts.nonEmpty) return Some(rddParts.max)
    val fileSizes: Seq[Long] = leaves
      .flatMap {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
          case _ => Nil
        }
        case _ => Nil
      }
    if (fileSizes.isEmpty) None
    else {
      val openCost = conf.filesOpenCostInBytes
      val padded = fileSizes.map(_ + openCost)
      val total = padded.sum
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost,
          total / spark.sparkContext.defaultParallelism))
      Some(math.max(1, math.ceil(total.toDouble / maxSplit).toInt))
    }
  }
}
