package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter,
  SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.LowCardAgg.{ColFilter, ProductSum}

/** Columnar probe-side join+aggregate fusion: the reduction-first join
  * family (q5, channel rollup) ends as `fact scan → N broadcast hash
  * probes → tiny grouped sums`. Spark executes that as BroadcastHashJoin
  * chains in the row pipeline — correct, no shuffle, but each 60M-row
  * batch is converted row-by-row and every row walks the codegen'd
  * probe/project chain (~2.5 s at sf10 where DuckDB's vectorized
  * pipeline runs 0.5 s). This operator runs the same pipeline over the
  * scan's ColumnarBatches: bulk-decode the probe-key columns, probe
  * primitive open-addressing long→long maps (built once driver-side
  * from the reduced dim sides, torrent-broadcast), drop misses
  * (inner-join semantics), optionally require two probe results equal
  * (q5's customer-nation = supplier-nation edge), and accumulate
  * product sums into a group table keyed by a probed value — no row
  * objects, no per-row join node dispatch.
  *
  * Same architecture as [[LowCardAgg]] (logical marker → Strategy →
  * columnar exec with row fallback → normal Catalyst final aggregate,
  * so the distributed shape — map-side partials, one tiny shuffle —
  * is unchanged), and the same plan-shape safety: a FilterExec between
  * the node and the scan is only skipped when its every conjunct is
  * one the kernel re-evaluates on the vectors.
  *
  * Contract:
  *  - probe tables are KEY-UNIQUE (at most one row per key — the
  *    reduced sides are keyed by orderkey/suppkey); build fails loudly
  *    on a duplicate key with a different value.
  *  - a NULL probe key drops the row (SQL inner-join semantics).
  *  - the caller guards SCALE: maps are driver-collected, so route
  *    through this only when the reduced side passes the same bound
  *    check as a broadcast (JoinOpt.withinReduceBound); else keep the
  *    BroadcastHashJoin/shuffle declaration.
  *
  * Reference analogue: the single-process hash pipeline the reference
  * gets from DuckDB for exactly these plans
  * (pg_lake_engine/src/pgduck/ — the engine the FDW ships joins to).
  */
object ProbeAgg {

  private val liveHandles =
    new java.util.concurrent.ConcurrentLinkedQueue[MapHandle]()

  // ---- snapshot-keyed probe cache (DEFAULT ON since r17): re-executing
  // a query against an UNCHANGED table skips the probe-relation
  // collect — the per-execution rebuild cost the bench protocol pays
  // after each releaseBroadcasts(), and the warm-state reuse a
  // buffer-pool engine (DuckDB) gets for free. The key digests the
  // probe's canonicalized plan, its key/value columns, and every
  // underlying data file's (path, size, mtime) — a table change
  // produces new file names/sizes (lake data files are immutable once
  // written), and an in-place same-name same-size rewrite by an
  // EXTERNAL writer still moves the mtime — so invalidation is by
  // construction, not by TTL; probes not fully file-backed are never
  // cached. Disable (the bench's explicit cold arm):
  // SPARK_GRAFT_PROBE_CACHE=0 or spark.graft.probe.cache=0; retained
  // bytes capped by ..._MB (default 2048), LRU-evicted.
  private def probeCacheEnabled: Boolean =
    !sys.props.get("spark.graft.probe.cache")
      .orElse(sys.env.get("SPARK_GRAFT_PROBE_CACHE")).contains("0")

  /** Measurement-harness posture pin: the production default is ON
    * (r17), but BENCH_rN and the BASELINE ledgers keep reporting the
    * COLD (rebuild-every-rep) arm unless a session explicitly opts
    * into warm via SPARK_GRAFT_PROBE_CACHE=1 — round-over-round
    * comparability and honest rebuild cost. Call from a harness main
    * BEFORE the first query. */
  def pinColdUnlessRequested(): Unit =
    if (!sys.env.contains("SPARK_GRAFT_PROBE_CACHE") &&
        !sys.props.contains("spark.graft.probe.cache"))
      sys.props("spark.graft.probe.cache") = "0"
  private def probeCacheBudgetBytes: Long =
    sys.props.get("spark.graft.probe.cache.mb")
      .orElse(sys.env.get("SPARK_GRAFT_PROBE_CACHE_MB"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(2048L) * (1L << 20)

  private val packLru =
    new java.util.LinkedHashMap[String, PackedMap](16, 0.75f, true)
  private var packLruBytes: Long = 0L
  /** Observability for specs and the bench ledger. */
  val probeCacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  val probeCacheMisses = new java.util.concurrent.atomic.AtomicLong(0)

  def clearProbeCache(): Unit = packLru.synchronized {
    packLru.clear(); packLruBytes = 0
    probeCacheHits.set(0); probeCacheMisses.set(0)
  }

  /** Stable identity of a probe against CURRENT table state, or None
    * when any leaf is not file-backed (nothing durable to key on). */
  private def fingerprint(p: Probe): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val plan = p.table.queryExecution.analyzed
    val leafParts = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          // Per-file (path,size,mtime) triples, not just paths + the
          // relation's total byte count: an in-place rewrite by an
          // external writer that keeps the name and the TOTAL size
          // would otherwise collide. The path is LENGTH-PREFIXED so no
          // legal path content (any separator byte is a legal POSIX
          // filename byte) can forge a record boundary.
          val files = h.location.listFiles(Nil, Nil)
            .flatMap(_.files)
            .map { f =>
              val p = f.getPath.toString
              s"${p.length}|$p|${f.getLen}|${f.getModificationTime}"
            }
            .sorted.mkString("\u001f")
          Some(files)
        case _ => None
      }
      case _ => None
    }
    if (leafParts.exists(_.isEmpty)) return None
    val key = plan.canonicalized.toString + "|" + p.tableKey + "|" +
      p.tableValue + "|" + leafParts.flatten.mkString(";")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Some(d.map("%02x".format(_)).mkString)
  }

  private def cachedPacked(p: Probe): PackedMap =
    fingerprint(p) match {
      case None => buildPacked(p)
      case Some(k) =>
        val hit = packLru.synchronized(Option(packLru.get(k)))
        hit match {
          case Some(pm) => probeCacheHits.incrementAndGet(); pm
          case None =>
            probeCacheMisses.incrementAndGet()
            val pm = buildPacked(p) // outside the lock: a real Spark job
            packLru.synchronized {
              if (!packLru.containsKey(k)) {
                packLru.put(k, pm)
                packLruBytes += pm.entries.toLong * 16
                val it = packLru.entrySet().iterator()
                while (packLruBytes > probeCacheBudgetBytes &&
                    packLru.size() > 1 && it.hasNext) {
                  val e = it.next()
                  if (e.getKey != k) {
                    packLruBytes -= e.getValue.entries.toLong * 16
                    it.remove()
                  }
                }
              }
            }
            pm
        }
    }

  private[plans] def registerHandle(h: MapHandle): Unit =
    liveHandles.add(h)

  /** Destroy every live probe-map broadcast built by [[probeSums]] since
    * the last release. The maps are the largest broadcasts in the engine
    * (qds_yoy's ~12M entries ≈ 0.2 GB of long arrays) and a torrent
    * broadcast outlives its query until a full GC otherwise — the same
    * accumulate-across-reps leak class as the BigWindow pins. Call AFTER
    * the query's result is materialized. A DataFrame built from an
    * earlier probeSums call stays VALID after a release: each execution
    * resolves its maps through a [[MapHandle]], which re-broadcasts from
    * the retained packed arrays when its previous broadcast was
    * destroyed — a held result re-executed after release recomputes
    * correctly instead of failing on a destroyed broadcast. */
  def releaseBroadcasts(): Unit = {
    var h = liveHandles.poll()
    while (h != null) {
      h.release()
      h = liveHandles.poll()
    }
  }

  /** Packed probe relation: per-partition (key, value) long arrays
    * collected driver-side; the open-addressing [[LongLongMap]] is built
    * LAZILY, once per JVM, on first task access. Two scale effects vs
    * broadcasting a built map: (1) the broadcast ships n packed entries
    * instead of the map's sparse slot arrays (capacity 1.3–2.7× n of
    * mostly-empty slots), and (2) the single-threaded map construction
    * happens inside the scan job's first task wave — in parallel across
    * executors, and overlapped with task scheduling and the OTHER probe
    * maps' builds (tasks force maps in partition-rotated order) —
    * instead of serially on the driver before the job can launch. The
    * key-uniqueness and non-negative-value contract checks run at build
    * time and fail the task loudly, same contract as before. */
  final class PackedMap(ks: Array[Array[Long]], vs: Array[Array[Long]])
      extends Serializable {
    def entries: Int = {
      var t = 0; var i = 0
      while (i < ks.length) { t += ks(i).length; i += 1 }
      t
    }
    @transient lazy val map: LongLongMap = {
      val m = new LongLongMap(entries)
      var p = 0
      while (p < ks.length) {
        val kk = ks(p); val vv = vs(p)
        var i = 0
        while (i < kk.length) {
          val v = vv(i)
          require(v >= 0,
            s"ProbeAgg probe values must be non-negative, got $v")
          m.put(kk(i), v)
          i += 1
        }
        p += 1
      }
      m
    }
  }

  /** Driver-side broadcast lifecycle handle. `get()` (re)creates the
    * broadcast on demand: [[releaseBroadcasts]] destroys the current
    * one, and the next execution of any DataFrame holding this handle
    * re-broadcasts from the retained packed arrays — release is a
    * memory hint, never a correctness trap. Never serialized into task
    * closures (doExecute extracts the Broadcast first). */
  final class MapHandle(
      @transient private val sc: org.apache.spark.SparkContext,
      @transient private[plans] val packed: PackedMap)
      extends Serializable {
    @transient @volatile private var bc: Broadcast[PackedMap] = _
    def get(): Broadcast[PackedMap] = synchronized {
      if (bc == null) {
        bc = sc.broadcast(packed)
        registerHandle(this)
      }
      bc
    }
    def release(): Unit = synchronized {
      if (bc != null) {
        bc.destroy()
        bc = null
      }
    }
  }

  /** Task-side: force each broadcast's lazily-built map, starting at a
    * partition-rotated offset so the first wave of concurrent tasks
    * builds DIFFERENT maps in parallel instead of all serializing on
    * map 0's lazy-val lock. */
  private[plans] def forceMaps(maps: Array[Broadcast[PackedMap]])
      : Array[LongLongMap] = {
    val k = maps.length
    val out = new Array[LongLongMap](k)
    if (k == 0) return out
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val start = (math.max(pid, 0)) % k
    var j = 0
    while (j < k) {
      val idx = (start + j) % k
      out(idx) = maps(idx).value.map
      j += 1
    }
    out
  }

  /** Open-addressing long→long map, linear probing, power-of-2
    * capacity. Keys must be ≥ 0 (ids); EMPTY slot = -1. */
  final class LongLongMap(initialCapacity: Int) extends Serializable {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, initialCapacity * 2) - 1) << 1
    private var mask = cap - 1
    private var keys = Array.fill[Long](cap)(-1L)
    private var vals = new Array[Long](cap)
    private var n = 0

    def size: Int = n

    def put(k: Long, v: Long): Unit = {
      require(k >= 0, s"ProbeAgg map keys must be non-negative ids, got $k")
      if (n * 4 >= cap * 3) grow()
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (true) {
        val kk = keys(i)
        if (kk == -1L) { keys(i) = k; vals(i) = v; n += 1; return }
        if (kk == k) {
          require(vals(i) == v,
            s"ProbeAgg probe table is not key-unique: key $k maps to " +
              s"both ${vals(i)} and $v")
          return
        }
        i = (i + 1) & mask
      }
    }

    /** Value for key, or -1 (MISS). Values must therefore be ≥ 0. */
    def get(k: Long): Long = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (true) {
        val kk = keys(i)
        if (kk == k) return vals(i)
        if (kk == -1L) return -1L
        i = (i + 1) & mask
      }
      -1L
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = Array.fill[Long](cap)(-1L)
      vals = new Array[Long](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != -1L) put(ok(i), ov(i))
        i += 1
      }
    }
  }

  /** One probe: fact long/int column `factCol` against the key-unique
    * (key, value) relation `table` — both sides non-negative ids. */
  final case class Probe(factCol: String, table: DataFrame,
      tableKey: String, tableValue: String)

  /** String-equality pre-filter on the fact (e.g. l_returnflag = 'R'),
    * evaluated on the vectors with a per-batch dictionary-id cache. */
  final case class StrEqFilter(column: String, value: String)

  /** Collect the probe relation as packed per-partition PRIMITIVE long
    * arrays (not boxed Row objects — at the multi-million-entry maps the
    * guard admits, Row boxing was the dominant build cost, ~1 GB of
    * transient garbage at 12M entries). The collect is the
    * caller-guarded scale decision (see scaladoc); the map itself is
    * built lazily executor-side ([[PackedMap]]). */
  private def buildPacked(p: Probe): PackedMap = {
    val parts = p.table
      .select(col(p.tableKey).cast("long"), col(p.tableValue).cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        var ks = new Array[Long](1 << 10)
        var vs = new Array[Long](1 << 10)
        var n = 0
        it.foreach { row =>
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalArgumentException(
              "ProbeAgg probe table must have non-null keys and values")
          if (n == ks.length) {
            ks = java.util.Arrays.copyOf(ks, n << 1)
            vs = java.util.Arrays.copyOf(vs, n << 1)
          }
          ks(n) = row.getLong(0)
          vs(n) = row.getLong(1)
          n += 1
        }
        Iterator.single((java.util.Arrays.copyOf(ks, n),
          java.util.Arrays.copyOf(vs, n)))
      }.collect()
    new PackedMap(parts.map(_._1), parts.map(_._2))
  }

  /** Probe-fused grouped product sums. `groupByProbe` = index into
    * `probes` whose VALUE keys the aggregation; `groupByCol` instead
    * keys it directly by a fact column (a non-null, non-negative id —
    * the kernel fails loudly on violations, because silently dropping
    * a group key is not inner-join semantics the way a probe miss is).
    * Neither → one global group. With `groupByCol` the probe list may
    * be EMPTY: the kernel degenerates to a columnar high-cardinality
    * partial aggregate (scan → open-addressing long-keyed partials →
    * ordinary Catalyst final aggregate), the shape q_cte's 1.5M-group
    * orders rollup needs. `constraintEq` = (i, j) requiring probe i's
    * and probe j's values equal (rows failing it drop). Returns one
    * row per group: `_gkey` (long) ++ each ProductSum ++ `cnt`. */
  def probeSums(fact: DataFrame, probes: Seq[Probe],
      sums: Seq[ProductSum], groupByProbe: Option[Int],
      numFilters: Seq[ColFilter] = Nil, strFilters: Seq[StrEqFilter] = Nil,
      constraintEq: Option[(Int, Int)] = None,
      maxGroups: Int = 1 << 21,
      groupByCol: Option[String] = None): DataFrame = {
    require(sums.nonEmpty)
    require(probes.nonEmpty || groupByCol.nonEmpty,
      "ProbeAgg needs at least one probe or a groupByCol")
    require(groupByProbe.isEmpty || groupByCol.isEmpty,
      "groupByProbe and groupByCol are mutually exclusive")
    groupByProbe.foreach(i => require(probes.indices.contains(i)))
    constraintEq.foreach { case (i, j) =>
      require(probes.indices.contains(i) && probes.indices.contains(j)) }
    val spark = fact.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(ProbeAggStrategy))
      exp.extraStrategies = exp.extraStrategies :+ ProbeAggStrategy
    // the N probe-relation collect jobs run CONCURRENTLY (they are
    // independent Spark jobs — q5's dim-chain + supplier builds were a
    // serial driver-side phase before the fact scan could launch)
    val mk: Probe => PackedMap =
      if (probeCacheEnabled) cachedPacked else buildPacked
    val packs: Seq[PackedMap] =
      if (probes.length > 1) {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.sequence(probes.map(p => Future(mk(p)))),
          Duration.Inf)
      } else probes.map(mk)
    val maps = packs.map(new MapHandle(spark.sparkContext, _))
    val needed = (probes.map(_.factCol) ++ groupByCol.toSeq ++
      sums.flatMap(_.terms.map(_.column)) ++ numFilters.map(_.column) ++
      strFilters.map(_.column)).distinct
    // push the pre-filters as ordinary Catalyst predicates too (parquet
    // row-group pruning); the exec re-evaluates the same conjunction
    val sel = fact.select(needed.map(col): _*)
    val numPred = numFilters.map { f =>
      val rhs = LowCardAgg.litFor(fact.schema(f.column).dataType, f.value, f.op)
      f.op match {
        case "le" => col(f.column) <= rhs
        case "lt" => col(f.column) < rhs
        case "ge" => col(f.column) >= rhs
        case "gt" => col(f.column) > rhs
      }
    }
    val strPred = strFilters.map(f => col(f.column) === lit(f.value))
    val pruned = (numPred ++ strPred).reduceOption(_ && _)
      .map(sel.filter).getOrElse(sel)
    val pre = GraftBridge.ofRows(spark,
      ProbePreAgg.build(probes.map(_.factCol), maps, sums, numFilters,
        strFilters, groupByProbe, constraintEq, maxGroups,
        pruned.queryExecution.analyzed, groupByCol))
    if (groupByProbe.isEmpty && groupByCol.isEmpty) {
      // GLOBAL mode must aggregate globally, not group by the constant
      // _gkey: SQL global aggregation over empty input is ONE row
      // (null sums, count 0), and an empty input can reach here with
      // ZERO partitions (Catalyst folds a statically-empty child to an
      // empty relation), so no per-partition partial may exist at all
      import org.apache.spark.sql.functions.{coalesce, lit}
      pre.agg(sum(sums.head.name).as(sums.head.name),
          (sums.tail.map(s => sum(s.name).as(s.name)) :+
            sum("_cnt").as("_cnt_raw")): _*)
        .select(lit(0L).as("_gkey") +:
          sums.map(s => col(s.name)) :+
          coalesce(col("_cnt_raw"), lit(0L)).as("cnt"): _*)
    } else
      pre.groupBy(col("_gkey"))
        .agg(sum(sums.head.name).as(sums.head.name),
          (sums.tail.map(s => sum(s.name).as(s.name)) :+
            sum("_cnt").as("cnt")): _*)
  }
}

/** Logical marker node; output = `_gkey` long ++ sums ++ `_cnt`.
  * Output attrs are constructor parameters for the same expr-id
  * stability reason as [[LowCardPreAgg]]. */
final case class ProbePreAgg(factCols: Seq[String],
    maps: Seq[ProbeAgg.MapHandle],
    sums: Seq[ProductSum], numFilters: Seq[ColFilter],
    strFilters: Seq[ProbeAgg.StrEqFilter], groupByProbe: Option[Int],
    constraintEq: Option[(Int, Int)], maxGroups: Int,
    child: LogicalPlan, outputAttrs: Seq[Attribute],
    groupByCol: Option[String]) extends UnaryNode {
  override def output: Seq[Attribute] = outputAttrs
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : ProbePreAgg = copy(child = newChild)
}

object ProbePreAgg {
  def build(factCols: Seq[String],
      maps: Seq[ProbeAgg.MapHandle],
      sums: Seq[ProductSum], numFilters: Seq[ColFilter],
      strFilters: Seq[ProbeAgg.StrEqFilter], groupByProbe: Option[Int],
      constraintEq: Option[(Int, Int)], maxGroups: Int,
      child: LogicalPlan, groupByCol: Option[String] = None): ProbePreAgg =
    ProbePreAgg(factCols, maps, sums, numFilters, strFilters,
      groupByProbe, constraintEq, maxGroups, child,
      (AttributeReference("_gkey", LongType)() +:
        sums.map(s => AttributeReference(s.name, DoubleType)())) :+
        AttributeReference("_cnt", LongType)(), groupByCol)
}

object ProbeAggStrategy
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: ProbePreAgg =>
      // decomposed fields, NOT the logical node: the node's child plan
      // holds a FileIndex, which must never ride into task closures
      ProbePreAggExec(p.factCols, p.maps, p.sums, p.numFilters,
        p.strFilters, p.groupByProbe, p.constraintEq, p.maxGroups,
        p.output, planLater(p.child), p.groupByCol) :: Nil
    case _ => Nil
  }
}

final case class ProbePreAggExec(factCols: Seq[String],
    maps: Seq[ProbeAgg.MapHandle], sums: Seq[ProductSum],
    numFilters: Seq[ColFilter], strFilters: Seq[ProbeAgg.StrEqFilter],
    groupByProbe: Option[Int], constraintEq: Option[(Int, Int)],
    maxGroups: Int, output: Seq[Attribute], child: SparkPlan,
    groupByCol: Option[String]) extends UnaryExecNode {

  override protected def withNewChildInternal(newChild: SparkPlan)
      : ProbePreAggExec = copy(child = newChild)

  private def columnarChild(p: SparkPlan): Option[SparkPlan] = p match {
    case c if c.supportsColumnar => Some(c)
    case c: ColumnarToRowExec => columnarChild(c.child)
    case c: InputAdapter => columnarChild(c.child)
    case c: WholeStageCodegenExec => columnarChild(c.child)
    case c: org.apache.spark.sql.execution.ProjectExec
        if c.projectList.forall(_.isInstanceOf[Attribute]) =>
      columnarChild(c.child)
    case c: org.apache.spark.sql.execution.FilterExec
        if filterMatchesSpec(c.condition) =>
      columnarChild(c.child)
    case _ => None
  }

  /** Same discipline as LowCardAgg, via the shared
    * [[KernelFilterMatch]]: skip a FilterExec only when every conjunct
    * is re-evaluated by the kernel (our numeric comparisons, our string
    * equalities, inferred IsNotNull on their columns). */
  private def filterMatchesSpec(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def hitStr(name: String, l: Literal): Boolean = l.value match {
      case u: UTF8String => strFilters.exists(f =>
        f.column == name && f.value == u.toString)
      case _ => false
    }
    KernelFilterMatch.matches(cond, numFilters,
      (numFilters.map(_.column) ++ strFilters.map(_.column)).toSet,
      extra = {
        case EqualTo(a: Attribute, l: Literal) => hitStr(a.name, l)
        case EqualTo(l: Literal, a: Attribute) => hitStr(a.name, l)
        case _ => false
      })
  }

  /** Per-partition group table: gkey → dense slot (open addressing),
    * FLAT accumulator arrays (`accs(g * nSums + s)`), growable to
    * maxGroups then loud. Flat layout matters: the q_cte shape
    * registers ~400K groups per task, where per-group inner arrays
    * (the first cut) cost ~800 ns/row in allocation + pointer chasing;
    * flat arrays grow with one arraycopy and accumulate at array
    * speed. */
  private final class Groups(nSums: Int, maxGroups: Int) {
    private var cap = 1 << 10
    private var mask = cap - 1
    private var slotKeys = Array.fill[Long](cap)(-1L)
    private var slotIds = new Array[Int](cap)
    var gkeys = new Array[Long](cap)
    var accs = new Array[Double](cap * nSums)
    var touched = new Array[Boolean](cap * nSums)
    var cnts = new Array[Long](cap)
    var n = 0

    def idOf(k: Long): Int = {
      // probe-derived keys are ≥ 0 by the build contract; a fact-column
      // group key can violate it (null decodes to the -1 sentinel,
      // negative ids break the open-addressing EMPTY marker) and MUST
      // fail loudly — silently dropping a group is wrong aggregates
      require(k >= 0,
        s"ProbeAgg group key must be a non-null, non-negative id (got $k)")
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (true) {
        val kk = slotKeys(i)
        if (kk == k) return slotIds(i)
        if (kk == -1L) {
          require(n < maxGroups,
            s"ProbeAgg overflow: > $maxGroups distinct group keys")
          if (n == gkeys.length) growDense()
          if (n * 4 >= cap * 3) { growTable(); return idOf(k) }
          slotKeys(i) = k; slotIds(i) = n
          gkeys(n) = k
          n += 1
          return n - 1
        }
        i = (i + 1) & mask
      }
      -1
    }

    private def growDense(): Unit = {
      val c = gkeys.length << 1
      gkeys = java.util.Arrays.copyOf(gkeys, c)
      accs = java.util.Arrays.copyOf(accs, c * nSums)
      touched = java.util.Arrays.copyOf(touched, c * nSums)
      cnts = java.util.Arrays.copyOf(cnts, c)
    }

    private def growTable(): Unit = {
      cap <<= 1; mask = cap - 1
      slotKeys = Array.fill[Long](cap)(-1L)
      slotIds = new Array[Int](cap)
      var g = 0
      while (g < n) {
        var i = (scala.util.hashing.byteswap64(gkeys(g)) & mask).toInt
        while (slotKeys(i) != -1L) i = (i + 1) & mask
        slotKeys(i) = gkeys(g); slotIds(i) = g
        g += 1
      }
    }

    def rows(nSums: Int): Iterator[InternalRow] =
      (0 until n).iterator.map { g =>
        val vals = new Array[Any](1 + nSums + 1)
        vals(0) = gkeys(g)
        var s = 0
        while (s < nSums) {
          vals(1 + s) =
            if (touched(g * nSums + s)) accs(g * nSums + s) else null
          s += 1
        }
        vals(1 + nSums) = cnts(g)
        new GenericInternalRow(vals)
      }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val colPlan = columnarChild(child)
    val out = colPlan.map(_.output).getOrElse(child.output)
    def ord(name: String): Int = {
      val i = out.indexWhere(_.name == name)
      require(i >= 0, s"unresolved column $name in $out")
      i
    }
    val probeOrds = factCols.map(ord).toArray
    val probeLong = probeOrds.map(o => out(o).dataType == LongType)
    // resolve broadcasts driver-side, HERE: re-execution after a
    // releaseBroadcasts() passes through MapHandle.get(), which
    // re-broadcasts from the retained packed arrays
    val mapsArr = maps.map(_.get()).toArray
    val sumSpecs = sums.map(_.terms.map(t =>
      (ord(t.column), t.mul, t.add)).toArray).toArray
    val numFs = numFilters.map(f =>
      (ord(f.column), f.op match {
        case "le" => 0; case "lt" => 1; case "ge" => 2; case "gt" => 3 },
        f.value,
        out(ord(f.column)).dataType)).toArray
    val strFs = strFilters.map(f => (ord(f.column), f.value)).toArray
    val numOrds = (sumSpecs.flatMap(_.map(_._1)) ++
      numFs.map(_._1)).distinct
    val slotOf = numOrds.zipWithIndex.toMap
    val slotKinds = numOrds.map { o =>
      out(o).dataType match {
        case DoubleType => 0
        case LongType | org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => 1
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => 2
        case dt => throw new IllegalArgumentException(
          s"ProbeAgg numeric input must be double/long/timestamp/int: $dt")
      }
    }
    val termSlots = sumSpecs.map(_.map(t => slotOf(t._1)))
    val termMuls = sumSpecs.map(_.map(_._2))
    val termAdds = sumSpecs.map(_.map(_._3))
    val fSlots = numFs.map(f => slotOf(f._1))
    val fOps = numFs.map(_._2)
    val fLims = numFs.map(_._3)
    val groupIdx = groupByProbe.getOrElse(-1)
    val gColOrd = groupByCol.map(ord).getOrElse(-1)
    val gColLong = gColOrd >= 0 && out(gColOrd).dataType == LongType
    val constraint = constraintEq
    val nSums = sums.length
    val mg = maxGroups

    colPlan match {
      case Some(scan) =>
        scan.executeColumnar().mapPartitions { batches =>
          partialsColumnar(batches, probeOrds, probeLong, mapsArr, numOrds,
            slotKinds, termSlots, termMuls, termAdds, fSlots, fOps, fLims,
            strFs, groupIdx, gColOrd, gColLong, constraint, nSums, mg)
        }
      case None =>
        child.execute().mapPartitions { rows =>
          partialsRows(rows, probeOrds, probeLong, mapsArr, numOrds,
            slotKinds, termSlots, termMuls, termAdds, fSlots, fOps, fLims,
            strFs, groupIdx, gColOrd, gColLong, constraint, nSums, mg)
        }
    }
  }

  // reuse LowCardAgg's numeric decode semantics (mask = NULL, NaN flows)
  private def decodeNum(v: ColumnVector, kind: Int, n: Int,
      out: Array[Double], mask: Array[Boolean]): Unit = {
    var i = 0
    if (!v.hasNull) {
      java.util.Arrays.fill(mask, 0, n, false)
      kind match {
        case 0 =>
          System.arraycopy(v.getDoubles(0, n), 0, out, 0, n)
        case 1 => while (i < n) { out(i) = v.getLong(i).toDouble; i += 1 }
        case 2 => while (i < n) { out(i) = v.getInt(i).toDouble; i += 1 }
      }
    } else {
      while (i < n) {
        if (v.isNullAt(i)) { out(i) = 0.0; mask(i) = true }
        else {
          mask(i) = false
          out(i) = kind match {
            case 0 => v.getDouble(i)
            case 1 => v.getLong(i).toDouble
            case 2 => v.getInt(i).toDouble
          }
        }
        i += 1
      }
    }
  }

  private def decodeKey(v: ColumnVector, isLong: Boolean, n: Int,
      out: Array[Long]): Unit = {
    var i = 0
    if (!v.hasNull) {
      if (isLong) System.arraycopy(v.getLongs(0, n), 0, out, 0, n)
      else while (i < n) { out(i) = v.getInt(i).toLong; i += 1 }
    } else {
      while (i < n) {
        // null key → sentinel -1 → guaranteed probe miss → row drops,
        // which IS inner-join null semantics
        out(i) =
          if (v.isNullAt(i)) -1L
          else if (isLong) v.getLong(i) else v.getInt(i).toLong
        i += 1
      }
    }
  }

  private def partialsColumnar(batches: Iterator[ColumnarBatch],
      probeOrds: Array[Int], probeLong: Array[Boolean],
      maps: Array[Broadcast[ProbeAgg.PackedMap]], numOrds: Array[Int],
      slotKinds: Array[Int], termSlots: Array[Array[Int]],
      termMuls: Array[Array[Double]], termAdds: Array[Array[Double]],
      fSlots: Array[Int], fOps: Array[Int], fLims: Array[Double],
      strFs: Array[(Int, String)], groupIdx: Int, gColOrd: Int,
      gColLong: Boolean,
      constraint: Option[(Int, Int)], nSums: Int, maxGroups: Int)
      : Iterator[InternalRow] = {
    val groups = new Groups(nSums, maxGroups)
    // GLOBAL-aggregate mode must register its one group even when every
    // row filters out: SQL global aggregation over empty input is ONE
    // row (null sums, count 0), and both physical paths must agree
    if (groupIdx < 0 && gColOrd < 0) groups.idOf(0L)
    val nSlots = numOrds.length
    val nProbes = probeOrds.length
    var gColBuf: Array[Long] = new Array[Long](0)
    val localMaps = ProbeAgg.forceMaps(maps)
    val strTargets = strFs.map(f => UTF8String.fromString(f._2))
    var cols: Array[Array[Double]] = Array.fill(nSlots)(new Array[Double](0))
    var masks: Array[Array[Boolean]] = Array.fill(nSlots)(new Array[Boolean](0))
    var keyBufs: Array[Array[Long]] = Array.fill(nProbes)(new Array[Long](0))
    var vals: Array[Array[Long]] = Array.fill(nProbes)(new Array[Long](0))
    var keep: Array[Boolean] = new Array[Boolean](0)
    var gids: Array[Int] = new Array[Int](0)
    var dictCache = new Array[Byte](0)

    batches.foreach { batch =>
      val n = batch.numRows()
      if (n > 0) {
        if (keep.length < n) {
          keep = new Array[Boolean](n)
          gids = new Array[Int](n)
          cols = Array.fill(nSlots)(new Array[Double](n))
          masks = Array.fill(nSlots)(new Array[Boolean](n))
          keyBufs = Array.fill(nProbes)(new Array[Long](n))
          vals = Array.fill(nProbes)(new Array[Long](n))
          if (gColOrd >= 0) gColBuf = new Array[Long](n)
        }
        var s = 0
        while (s < nSlots) {
          decodeNum(batch.column(numOrds(s)), slotKinds(s), n, cols(s),
            masks(s))
          s += 1
        }
        var p = 0
        while (p < nProbes) {
          decodeKey(batch.column(probeOrds(p)), probeLong(p), n, keyBufs(p))
          p += 1
        }
        // group-by column: decodeKey's null sentinel (-1) is caught in
        // Groups.idOf — a null GROUP key must fail loudly, not drop
        if (gColOrd >= 0)
          decodeKey(batch.column(gColOrd), gColLong, n, gColBuf)
        java.util.Arrays.fill(keep, 0, n, true)
        // numeric filters — same NULL/NaN semantics as LowCardAgg
        var f = 0
        while (f < fSlots.length) {
          val arr = cols(fSlots(f)); val nul = masks(fSlots(f))
          val lim = fLims(f)
          var i = 0
          fOps(f) match {
            case 0 => while (i < n) {
              if (nul(i) || !(arr(i) <= lim)) keep(i) = false; i += 1 }
            case 1 => while (i < n) {
              if (nul(i) || !(arr(i) < lim)) keep(i) = false; i += 1 }
            case 2 => while (i < n) {
              val v = arr(i)
              if (nul(i) || !(v >= lim || v != v)) keep(i) = false
              i += 1 }
            case 3 => while (i < n) {
              val v = arr(i)
              if (nul(i) || !(v > lim || v != v)) keep(i) = false
              i += 1 }
          }
          f += 1
        }
        // string equality filters; dictionary-id memo when available
        f = 0
        while (f < strFs.length) {
          val v = batch.column(strFs(f)._1)
          val target = strTargets(f)
          val dictIds = v match {
            case w: org.apache.spark.sql.execution.vectorized
              .WritableColumnVector if w.hasDictionary && !w.hasNull =>
              w.getDictionaryIds
            case _ => null
          }
          var i = 0
          if (dictIds != null) {
            java.util.Arrays.fill(dictCache, 0.toByte)
            while (i < n) {
              if (keep(i)) {
                val id = dictIds.getDictId(i)
                if (id >= dictCache.length) {
                  val old = dictCache
                  dictCache = new Array[Byte](
                    math.max(id + 1, old.length * 2 + 16))
                  System.arraycopy(old, 0, dictCache, 0, old.length)
                }
                var c = dictCache(id)
                if (c == 0) {
                  c = if (v.getUTF8String(i).equals(target)) 1 else 2
                  dictCache(id) = c
                }
                if (c != 1) keep(i) = false
              }
              i += 1
            }
          } else {
            while (i < n) {
              if (keep(i)) {
                if (v.isNullAt(i) || !v.getUTF8String(i).equals(target))
                  keep(i) = false
              }
              i += 1
            }
          }
          f += 1
        }
        // probes: miss (or null key) drops the row
        p = 0
        while (p < nProbes) {
          val m = localMaps(p)
          val ks = keyBufs(p)
          val vs = vals(p)
          var i = 0
          while (i < n) {
            if (keep(i)) {
              val k = ks(i)
              val v = if (k < 0) -1L else m.get(k)
              if (v < 0) keep(i) = false else vs(i) = v
            }
            i += 1
          }
          p += 1
        }
        constraint.foreach { case (a, b) =>
          val va = vals(a); val vb = vals(b)
          var i = 0
          while (i < n) {
            if (keep(i) && va(i) != vb(i)) keep(i) = false
            i += 1
          }
        }
        val gvals =
          if (groupIdx >= 0) vals(groupIdx)
          else if (gColOrd >= 0) gColBuf
          else null
        // resolve each kept row's dense group id ONCE (the hash probe
        // is the dominant per-row cost at high group cardinality —
        // doing it in the sum loops repeated it nSums+1 times)
        var i = 0
        if (gvals == null) {
          val g0 = groups.idOf(0L)
          while (i < n) {
            if (keep(i)) { gids(i) = g0; groups.cnts(g0) += 1 }
            i += 1
          }
        } else {
          while (i < n) {
            if (keep(i)) {
              val g = groups.idOf(gvals(i))
              gids(i) = g
              groups.cnts(g) += 1
            }
            i += 1
          }
        }
        s = 0
        while (s < nSums) {
          val slots = termSlots(s)
          val muls = termMuls(s)
          val adds = termAdds(s)
          i = 0
          if (slots.length == 1) {
            val m1 = muls(0); val a1 = adds(0)
            val arr = cols(slots(0)); val nu = masks(slots(0))
            while (i < n) {
              if (keep(i) && !nu(i)) {
                val x = gids(i) * nSums + s
                groups.accs(x) += m1 * arr(i) + a1
                groups.touched(x) = true
              }
              i += 1
            }
          } else if (slots.length == 2) {
            val m1 = muls(0); val a1 = adds(0)
            val m2 = muls(1); val a2 = adds(1)
            val arr1 = cols(slots(0)); val arr2 = cols(slots(1))
            val nu1 = masks(slots(0)); val nu2 = masks(slots(1))
            while (i < n) {
              if (keep(i) && !nu1(i) && !nu2(i)) {
                val x = gids(i) * nSums + s
                groups.accs(x) +=
                  (m1 * arr1(i) + a1) * (m2 * arr2(i) + a2)
                groups.touched(x) = true
              }
              i += 1
            }
          } else {
            while (i < n) {
              if (keep(i)) {
                var prod = 1.0
                var anyNull = false
                var t = 0
                while (t < slots.length) {
                  if (masks(slots(t))(i)) anyNull = true
                  prod *= muls(t) * cols(slots(t))(i) + adds(t)
                  t += 1
                }
                if (!anyNull) {
                  val x = gids(i) * nSums + s
                  groups.accs(x) += prod
                  groups.touched(x) = true
                }
              }
              i += 1
            }
          }
          s += 1
        }
      }
    }
    groups.rows(nSums)
  }

  private def partialsRows(rows: Iterator[InternalRow],
      probeOrds: Array[Int], probeLong: Array[Boolean],
      maps: Array[Broadcast[ProbeAgg.PackedMap]], numOrds: Array[Int],
      slotKinds: Array[Int], termSlots: Array[Array[Int]],
      termMuls: Array[Array[Double]], termAdds: Array[Array[Double]],
      fSlots: Array[Int], fOps: Array[Int], fLims: Array[Double],
      strFs: Array[(Int, String)], groupIdx: Int, gColOrd: Int,
      gColLong: Boolean,
      constraint: Option[(Int, Int)], nSums: Int, maxGroups: Int)
      : Iterator[InternalRow] = {
    val groups = new Groups(nSums, maxGroups)
    // same empty-input contract as the columnar path (see there)
    if (groupIdx < 0 && gColOrd < 0) groups.idOf(0L)
    val localMaps = ProbeAgg.forceMaps(maps)
    val strTargets = strFs.map(f => UTF8String.fromString(f._2))
    val slotVals = new Array[Double](numOrds.length)
    val slotNull = new Array[Boolean](numOrds.length)
    val probeVals = new Array[Long](probeOrds.length)
    rows.foreach { row =>
      var ok = true
      var s = 0
      while (s < numOrds.length) {
        val o = numOrds(s)
        if (row.isNullAt(o)) { slotVals(s) = 0.0; slotNull(s) = true }
        else {
          slotNull(s) = false
          slotVals(s) = slotKinds(s) match {
            case 0 => row.getDouble(o)
            case 1 => row.getLong(o).toDouble
            case 2 => row.getInt(o).toDouble
          }
        }
        s += 1
      }
      var f = 0
      while (ok && f < fSlots.length) {
        val x = slotVals(fSlots(f))
        val lim = fLims(f)
        ok = !slotNull(fSlots(f)) && (fOps(f) match {
          case 0 => x <= lim
          case 1 => x < lim
          case 2 => x >= lim || x != x
          case 3 => x > lim || x != x
        })
        f += 1
      }
      f = 0
      while (ok && f < strFs.length) {
        val o = strFs(f)._1
        ok = !row.isNullAt(o) && row.getUTF8String(o).equals(strTargets(f))
        f += 1
      }
      var p = 0
      while (ok && p < probeOrds.length) {
        val o = probeOrds(p)
        if (row.isNullAt(o)) ok = false
        else {
          val k = if (probeLong(p)) row.getLong(o) else row.getInt(o).toLong
          val v = if (k < 0) -1L else localMaps(p).get(k)
          if (v < 0) ok = false else probeVals(p) = v
        }
        p += 1
      }
      constraint.foreach { case (a, b) =>
        if (ok && probeVals(a) != probeVals(b)) ok = false
      }
      if (ok) {
        val gkey =
          if (groupIdx >= 0) probeVals(groupIdx)
          else if (gColOrd >= 0) {
            // idOf turns the null sentinel into a loud failure
            if (row.isNullAt(gColOrd)) -1L
            else if (gColLong) row.getLong(gColOrd)
            else row.getInt(gColOrd).toLong
          } else 0L
        val g = groups.idOf(gkey)
        s = 0
        while (s < nSums) {
          val slots = termSlots(s)
          var prod = 1.0
          var anyNull = false
          var t = 0
          while (t < slots.length) {
            if (slotNull(slots(t))) anyNull = true
            prod *= termMuls(s)(t) * slotVals(slots(t)) + termAdds(s)(t)
            t += 1
          }
          if (!anyNull) {
            groups.accs(g * nSums + s) += prod
            groups.touched(g * nSums + s) = true
          }
          s += 1
        }
        groups.cnts(g) += 1
        ()
      }
    }
    groups.rows(nSums)
  }
}
