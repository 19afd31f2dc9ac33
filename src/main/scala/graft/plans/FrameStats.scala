package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, GenericInternalRow, JoinedRow,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution,
  OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Single-exchange fused frame statistics (trailing / running / forward
  * ROWS frames in one pass) — the zero-extra-shuffle successor to the
  * union-carry layout in [[graft.ops.BigWindow.frameStats]].
  *
  * The union-carry layout is fully declarative but pays for it: the
  * carry rows ride a UNION whose window pass re-partitions by
  * (key, block) — Catalyst cannot know that `_blk` IS the physical
  * partition id — so the plan runs FOUR 60M-row exchanges (range block,
  * numbering window, augmented window, final ORDER BY) and three sorts.
  * This operator keeps the same block algebra but exploits the
  * co-location directly:
  *
  *  1. `requiredChildDistribution = OrderedDistribution(orderCols)` +
  *     `requiredChildOrdering = (partCol, orderCols)` — Catalyst plans
  *     ONE range exchange and one in-partition sort. The order tuple is
  *     a total order, so each key's rows land in global order across
  *     ascending partitions (the orderCols-only blocking argument of
  *     the union layout).
  *  2. Pass A (one cheap job over the persisted sorted child): per
  *     (partition, key) segment collect count-free metadata — the last
  *     `trail`−1 values, the first `fwd` values, the non-null total.
  *  3. Driver: per key, prefix/suffix-concatenate the segment tails and
  *     heads across partitions into each segment's seed carries and
  *     running offset. Concatenation makes short segments a NON-issue —
  *     the union layout's "middle slice shorter than the frame" classic
  *     fallback does not exist here (a seed just gathers values from as
  *     many earlier blocks as it needs). Metadata is
  *     partitions × keys — kilobytes — and broadcast back.
  *  4. Pass B: one linear walk per partition — ring buffer for the
  *     trailing frame, seeded running sum, a ≤(fwd+1)-slot pending
  *     queue for the forward frame (drained with the next-block head
  *     values at segment end). Rows emit in input order, so the
  *     operator DECLARES the child's partitioning and ordering — a
  *     downstream global ORDER BY on an orderCols prefix plans as a
  *     per-partition sort with NO exchange.
  *
  * Float caveat (same as the union layout, documented in
  * DEVIATIONS.md): the running sum associates (previous-blocks total)
  * + (local prefix), so arbitrary float inputs can differ from the
  * serial window in the last ulps; integer-valued doubles are exact.
  * NULL semantics match the window functions: sums skip NULL values and
  * are NULL on an all-NULL frame; `_fcnt` counts non-null values only.
  *
  * Contract: `valueCol` must be DoubleType; `partCol` string or
  * integral (the dispatch in BigWindow falls back to the union layout
  * otherwise). Output = child columns ++ `_trail`, `_run`, `_fsum`
  * (double) ++ `_fcnt` (long).
  */
object FrameStats {

  /** Loud upper bound on total (partition, key) segments: the pass-A
    * metadata and the seeds broadcast are O(segments) on the DRIVER, so
    * the operator refuses — loudly, and BEFORE any unbounded collect
    * (each pass-A task enforces its share of the bound in-task) —
    * rather than silently OOM. [[graft.ops.BigWindow.frameStats]]'s
    * dispatch clamps its key-cardinality guard to this bound divided by
    * the partition count, so routed queries can never hit it; direct
    * callers with a too-high-cardinality key get the abort message
    * (the classic window parallelizes fine over many keys). */
  val segmentBackstop: Long = 4L << 20

  /** Per-(partition, key) segment metadata from pass A. `tailVals` =
    * last min(trail−1, len) values in order; `headVals` = first
    * min(fwd, len) values in order; parallel null flags; `total` =
    * sum of non-null values, `hasVal` = any non-null. */
  final case class SegMeta(pid: Int, key: AnyRef, tailVals: Array[Double],
      tailNulls: Array[Boolean], headVals: Array[Double],
      headNulls: Array[Boolean], total: Double, hasVal: Boolean)
      extends Serializable

  /** Driver-assembled seeds for one (partition, key) segment. */
  final case class SegSeed(prevVals: Array[Double],
      prevNulls: Array[Boolean], nextVals: Array[Double],
      nextNulls: Array[Boolean], offset: Double, offsetHas: Boolean)
      extends Serializable

  def frameStats(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, trail: Int, fwd: Int): DataFrame = {
    require(trail >= 1 && fwd >= 0, s"bad frames trail=$trail fwd=$fwd")
    val spark = df.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(FrameStatsStrategy))
      exp.extraStrategies = exp.extraStrategies :+ FrameStatsStrategy
    GraftBridge.ofRows(spark,
      FrameStatsPlan.build(partCol, orderCols, valueCol, trail, fwd,
        df.queryExecution.analyzed))
  }

  /** Eligibility for this implementation (vs the union-carry layout). */
  def supports(df: DataFrame, partCol: String, valueCol: String): Boolean = {
    val schema = df.schema
    val vOk = schema(valueCol).dataType == DoubleType
    val pOk = schema(partCol).dataType match {
      case StringType | LongType | IntegerType => true
      case _ => false
    }
    vOk && pOk
  }
}

final case class FrameStatsPlan(partCol: String, orderCols: Seq[String],
    valueCol: String, trail: Int, fwd: Int, child: LogicalPlan,
    outputAttrs: Seq[Attribute]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ outputAttrs
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : FrameStatsPlan = copy(child = newChild)
}

object FrameStatsPlan {
  def build(partCol: String, orderCols: Seq[String], valueCol: String,
      trail: Int, fwd: Int, child: LogicalPlan): FrameStatsPlan =
    FrameStatsPlan(partCol, orderCols, valueCol, trail, fwd, child,
      Seq(AttributeReference("_trail", DoubleType)(),
        AttributeReference("_run", DoubleType)(),
        AttributeReference("_fsum", DoubleType)(),
        AttributeReference("_fcnt", LongType)()))
}

object FrameStatsStrategy
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: FrameStatsPlan =>
      FrameStatsExec(p.partCol, p.orderCols, p.valueCol, p.trail, p.fwd,
        p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

final case class FrameStatsExec(partCol: String, orderCols: Seq[String],
    valueCol: String, trail: Int, fwd: Int, output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override protected def withNewChildInternal(newChild: SparkPlan)
      : FrameStatsExec = copy(child = newChild)

  private def childOrd(name: String): Int = {
    val i = child.output.indexWhere(_.name == name)
    require(i >= 0, s"unresolved column $name in ${child.output}")
    i
  }

  private def sortOrders: Seq[SortOrder] =
    (partCol +: orderCols).map(n =>
      SortOrder(child.output(childOrd(n)), Ascending))

  // ONE range exchange on the order columns; each key's rows arrive in
  // global order across ascending partition ids (total-order tuple)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(orderCols.map(n =>
      SortOrder(child.output(childOrd(n)), Ascending))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    sortOrders :: Nil

  // rows emit in input order → both properties survive, and a
  // downstream ORDER BY on an orderCols prefix needs no exchange
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sortOrders

  override protected def doExecute(): RDD[InternalRow] = {
    val pOrd = childOrd(partCol)
    val vOrd = childOrd(valueCol)
    val pType = child.output(pOrd).dataType
    require(child.output(vOrd).dataType == DoubleType,
      s"FrameStats valueCol must be double, got " +
        child.output(vOrd).dataType)
    val nTrail = trail - 1
    val nFwd = fwd
    val sorted = child.execute().mapPartitions(
      it => it.map(_.copy()), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.ops.BigWindow.trackRdd(sorted)

    // key extraction: stable per-partition AnyRef (copied at segment
    // boundaries only). NULL keys form their own group, like the window.
    def keyOf(row: InternalRow): AnyRef =
      if (row.isNullAt(pOrd)) null
      else pType match {
        case StringType => row.getUTF8String(pOrd)
        case LongType => java.lang.Long.valueOf(row.getLong(pOrd))
        case IntegerType => java.lang.Long.valueOf(row.getInt(pOrd).toLong)
        case dt => throw new IllegalArgumentException(
          s"FrameStats partCol must be string/long/int, got $dt")
      }
    def copyKey(k: AnyRef): AnyRef = k match {
      case u: UTF8String => u.copy()
      case x => x
    }
    def sameKey(a: AnyRef, b: AnyRef): Boolean =
      if (a == null) b == null else b != null && a.equals(b)

    // ---- pass A: per-segment metadata ----
    // the segment backstop is enforced IN-TASK, distributively, before
    // the driver collect: each partition may hold at most its share of
    // the global bound (+ slack for uneven key spread), so the collect
    // below is size-bounded by construction and can never OOM the
    // driver on a high-cardinality key — it aborts loudly instead
    val nParts = math.max(sorted.getNumPartitions, 1)
    // 2× the even share: covers moderate key skew while keeping the
    // SUMMED caps within 2× of the global backstop at any partition
    // count (a flat 65536 floor would let 2000 partitions collect ~131M
    // SegMetas before the driver-side require fired). Heavier skew
    // aborts loudly below with the classic-window remedy.
    val perPartCap = math.max(
      2L * FrameStats.segmentBackstop / nParts, 1L)
    val metas: Array[FrameStats.SegMeta] = sorted
      .mapPartitionsWithIndex { (pid, it) =>
        val out = ArrayBuffer.empty[FrameStats.SegMeta]
        var key: AnyRef = null
        var open = false
        var headV = ArrayBuffer.empty[Double]
        var headN = ArrayBuffer.empty[Boolean]
        // rolling last nTrail values
        var tailV = new Array[Double](math.max(nTrail, 1))
        var tailN = new Array[Boolean](math.max(nTrail, 1))
        var tailLen = 0
        var tailPos = 0
        var total = 0.0
        var hasVal = false
        var seen = 0L
        def close(): Unit = if (open) {
          if (out.length >= perPartCap)
            throw new IllegalStateException(
              s"FrameStats: partition $pid exceeds $perPartCap " +
                "(partition, key) segments — the partition key is too " +
                "high-cardinality for the seed broadcast; use the " +
                "classic window (it parallelizes fine over many keys)")
          // unroll the ring into order
          val tv = new Array[Double](tailLen)
          val tn = new Array[Boolean](tailLen)
          var i = 0
          while (i < tailLen) {
            val src = (tailPos - tailLen + i + tailV.length * 2) % math.max(tailV.length, 1)
            tv(i) = tailV(src); tn(i) = tailN(src)
            i += 1
          }
          out += FrameStats.SegMeta(pid, key match {
              case u: UTF8String => u.toString
              case x => x
            }, tv, tn, headV.toArray, headN.toArray, total, hasVal)
        }
        it.foreach { row =>
          val k = keyOf(row)
          if (!open || !sameKey(key, k)) {
            close()
            key = copyKey(k)
            open = true
            headV = ArrayBuffer.empty; headN = ArrayBuffer.empty
            tailLen = 0; tailPos = 0; total = 0.0; hasVal = false
            seen = 0L
          }
          val nul = row.isNullAt(vOrd)
          val v = if (nul) 0.0 else row.getDouble(vOrd)
          if (!nul) { total += v; hasVal = true }
          if (seen < nFwd) { headV += v; headN += nul }
          if (nTrail > 0) {
            tailV(tailPos) = v; tailN(tailPos) = nul
            tailPos = (tailPos + 1) % nTrail
            if (tailLen < nTrail) tailLen += 1
          }
          seen += 1
        }
        close()
        out.iterator
      }.collect()

    // ---- driver: chain segments per key into seeds ----
    // (strings were copied to JVM Strings in pass A for hashability)
    // Global backstop: the per-partition in-task caps above bound the
    // collect, but their summed slack can still exceed the global
    // budget; the seeds broadcast is O(partitions × keys) and must
    // never grow past it silently.
    require(metas.length <= FrameStats.segmentBackstop,
      s"FrameStats: ${metas.length} (partition, key) segments — the " +
        "partition key is too high-cardinality for the seed broadcast; " +
        "use the classic window (it parallelizes fine over many keys)")
    val byKey = metas.groupBy(_.key).map { case (k, segs) =>
      (k, segs.sortBy(_.pid))
    }
    val seeds = scala.collection.mutable.HashMap
      .empty[(Int, AnyRef), FrameStats.SegSeed]
    byKey.foreach { case (k, segs) =>
      // prefix: rolling global tail + running offset BEFORE each segment
      var offset = 0.0
      var offsetHas = false
      var gTailV = new Array[Double](0)
      var gTailN = new Array[Boolean](0)
      val prevOf = segs.map { m =>
        val p = (gTailV.clone(), gTailN.clone(), offset, offsetHas)
        if (m.hasVal) { offset += m.total; offsetHas = true }
        val cat = (gTailV ++ m.tailVals, gTailN ++ m.tailNulls)
        val keep = math.min(nTrail, cat._1.length)
        gTailV = cat._1.takeRight(keep)
        gTailN = cat._2.takeRight(keep)
        p
      }
      // suffix: rolling global head AFTER each segment
      var gHeadV = new Array[Double](0)
      var gHeadN = new Array[Boolean](0)
      val nextOf = new Array[(Array[Double], Array[Boolean])](segs.length)
      var i = segs.length - 1
      while (i >= 0) {
        nextOf(i) = (gHeadV.clone(), gHeadN.clone())
        val m = segs(i)
        val cat = (m.headVals ++ gHeadV, m.headNulls ++ gHeadN)
        val keep = math.min(nFwd, cat._1.length)
        gHeadV = cat._1.take(keep)
        gHeadN = cat._2.take(keep)
        i -= 1
      }
      segs.indices.foreach { j =>
        val (pv, pn, off, offHas) = prevOf(j)
        val (nv, nn) = nextOf(j)
        seeds((segs(j).pid, k)) =
          FrameStats.SegSeed(pv, pn, nv, nn, off, offHas)
      }
    }
    // per-execution broadcast (re-created by every doExecute, so
    // destroying it after the result is materialized is always safe);
    // registered for release with the other layout pins — unreleased it
    // is the same accumulate-across-reps torrent-broadcast leak class
    // as the ProbeAgg maps
    val bc = sparkContext.broadcast(seeds.toMap)
    graft.ops.BigWindow.trackBroadcast(bc)

    // ---- pass B: one linear walk, emit rows in input order ----
    sorted.mapPartitionsWithIndex { (pid, it) =>
      new Iterator[InternalRow] {
        val seedMap = bc.value
        // pending forward-frame queue: fwd+1 slots
        val qCap = nFwd + 1
        val qRows = new Array[InternalRow](qCap)
        val qTrail = new Array[Double](qCap)
        val qTrailHas = new Array[Boolean](qCap)
        val qRun = new Array[Double](qCap)
        val qRunHas = new Array[Boolean](qCap)
        val qFsum = new Array[Double](qCap)
        val qFhas = new Array[Boolean](qCap)
        val qFcnt = new Array[Long](qCap)
        val qSeen = new Array[Int](qCap)
        var qHead = 0; var qLen = 0
        // per-segment state
        var key: AnyRef = null
        var open = false
        var ringV = new Array[Double](math.max(nTrail, 1))
        var ringN = new Array[Boolean](math.max(nTrail, 1))
        var ringLen = 0; var ringPos = 0
        var runSum = 0.0; var runHas = false
        var drainV: Array[Double] = null
        var drainN: Array[Boolean] = null
        var drainI = 0
        var draining = false

        val ready = new java.util.ArrayDeque[InternalRow]()

        def startSegment(k: AnyRef): Unit = {
          key = k match { case u: UTF8String => u.copy(); case x => x }
          open = true
          val lookup = key match {
            case u: UTF8String => u.toString
            case x => x
          }
          val seed = seedMap.getOrElse((pid, lookup),
            throw new IllegalStateException(
              s"FrameStats: no seed for partition $pid key $lookup"))
          ringLen = 0; ringPos = 0
          var i = 0
          while (i < seed.prevVals.length) {
            ringV(ringPos) = seed.prevVals(i); ringN(ringPos) = seed.prevNulls(i)
            ringPos = (ringPos + 1) % math.max(nTrail, 1)
            if (ringLen < nTrail) ringLen += 1
            i += 1
          }
          runSum = seed.offset; runHas = seed.offsetHas
          drainV = seed.nextVals; drainN = seed.nextNulls; drainI = 0
          draining = false
        }

        def feedPending(v: Double, nul: Boolean): Unit = {
          var i = 0
          while (i < qLen) {
            val s = (qHead + i) % qCap
            if (qSeen(s) < nFwd) {
              if (!nul) { qFsum(s) += v; qFhas(s) = true; qFcnt(s) += 1 }
              qSeen(s) += 1
            }
            i += 1
          }
        }

        def popIfComplete(): Unit = {
          while (qLen > 0 && qSeen(qHead) >= nFwd) emitHead()
        }

        def emitHead(): Unit = {
          val s = qHead
          val stats = new GenericInternalRow(4)
          if (qTrailHas(s)) stats.update(0, qTrail(s)) else stats.setNullAt(0)
          if (qRunHas(s)) stats.update(1, qRun(s)) else stats.setNullAt(1)
          if (qFhas(s)) stats.update(2, qFsum(s)) else stats.setNullAt(2)
          stats.update(3, qFcnt(s))
          ready.addLast(new JoinedRow(qRows(s), stats))
          qHead = (qHead + 1) % qCap
          qLen -= 1
        }

        def drainSegment(): Unit = {
          // finish pending rows with the next-block head values, then
          // whatever remains has a data-truncated frame (correct)
          while (qLen > 0 && drainI < drainV.length && qSeen(qHead) < nFwd) {
            feedPending(drainV(drainI), drainN(drainI))
            drainI += 1
            popIfComplete()
          }
          while (qLen > 0) emitHead()
        }

        def push(row: InternalRow): Unit = {
          val k = keyOf(row)
          if (!open || !sameKey(key, k)) {
            if (open) drainSegment()
            startSegment(k)
          }
          val nul = row.isNullAt(vOrd)
          val v = if (nul) 0.0 else row.getDouble(vOrd)
          // this row is a FOLLOWING row for everything pending
          feedPending(v, nul)
          popIfComplete()
          // trailing frame, summed in frame order (oldest → own value)
          // so float results match the serial window's accumulation
          var tSum = 0.0
          var tHas = false
          var i = 0
          while (i < ringLen) {
            val src = (ringPos - ringLen + i + ringV.length * 2) % math.max(ringV.length, 1)
            if (!ringN(src)) { tSum += ringV(src); tHas = true }
            i += 1
          }
          if (!nul) { tSum += v; tHas = true }
          // running
          if (!nul) { runSum += v; runHas = true }
          // enqueue
          val s = (qHead + qLen) % qCap
          qRows(s) = row
          qTrail(s) = tSum; qTrailHas(s) = tHas
          qRun(s) = runSum; qRunHas(s) = runHas
          qFsum(s) = if (nul) 0.0 else v
          qFhas(s) = !nul
          qFcnt(s) = if (nul) 0L else 1L
          qSeen(s) = 0
          qLen += 1
          if (nFwd == 0) popIfComplete()
          // ring update AFTER computing this row's trail
          if (nTrail > 0) {
            ringV(ringPos) = v; ringN(ringPos) = nul
            ringPos = (ringPos + 1) % nTrail
            if (ringLen < nTrail) ringLen += 1
          }
        }

        override def hasNext: Boolean = {
          while (ready.isEmpty && it.hasNext) push(it.next())
          if (ready.isEmpty && open && qLen > 0) drainSegment()
          !ready.isEmpty
        }
        override def next(): InternalRow = ready.pollFirst()
      }
    }
  }
}
