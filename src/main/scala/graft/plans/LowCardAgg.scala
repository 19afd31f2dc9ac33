package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter,
  SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  TimestampType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar partial aggregation for the low-cardinality grouped-sums
  * shape (q1: 6 groups, 5 sums over 60M rows). Spark's own partial
  * HashAggregate is correct here but pays the row pipeline: vectorized
  * parquet batches are converted row-by-row (ColumnarToRow), every row
  * runs the codegen'd filter/project, and every row probes the agg hash
  * map. When the group count is tiny and the aggregates are sums of
  * products of (affine-transformed) double columns, the whole partial
  * pass can instead run over the scan's ColumnarBatches directly: bulk
  * `getDoubles` per column, a per-batch key-index array from the (few)
  * distinct key tuples, and accumulation into a group-indexed double
  * array — no per-row row objects, no hash probes past the tiny
  * key-cache, no codegen boundary.
  *
  * Pieces: [[LowCardPreAgg]] (logical marker), [[LowCardAggStrategy]]
  * (plans it), [[LowCardPreAggExec]] (the columnar physical operator),
  * [[LowCardAgg.sumsByKey]] (public API: wires the strategy, emits
  * partials, and finishes with a NORMAL Catalyst final aggregate — the
  * shuffle carries ≤ maxGroups rows per partition, exactly like the
  * partial agg it replaces, so the distributed shape is unchanged).
  *
  * Contract: keys are string columns; sum inputs are double columns;
  * the optional pre-filter is a conjunction of column-vs-literal
  * comparisons on timestamp/double columns. More than `maxGroups`
  * distinct key tuples in one partition fails loudly — this operator
  * is FOR the low-cardinality regime; use groupBy for the rest.
  * Falls back to the row iterator when the child does not expose
  * columnar batches OR when the plan between this node and the scan
  * carries work the kernel does not re-evaluate (e.g. a caller's own
  * `.filter(...)` merged into the FilterExec), so correctness never
  * depends on plan shape. NULL keys form their own group (as groupBy
  * does), all-null sum inputs yield a NULL sum, and NaN values
  * propagate — all matching the native aggregate exactly.
  */
object LowCardAgg {

  /** One affine factor: mul·col + add. */
  final case class Term(column: String, mul: Double = 1.0,
      add: Double = 0.0)

  /** One aggregate: Σ over rows of Π terms. */
  final case class ProductSum(name: String, terms: Seq[Term])

  /** `column op literal`; op ∈ le, lt, ge, gt. Timestamp columns
    * compare as epoch micros. The bound must not be NaN (Spark orders
    * NaN above every double; a NaN bound has no portable meaning as a
    * range predicate). */
  final case class ColFilter(column: String, op: String, value: Double) {
    require(Set("le", "lt", "ge", "gt")(op), s"bad op $op")
    require(!value.isNaN, "ColFilter bound must not be NaN")
  }

  /** Partial-then-final grouped sums through the columnar kernel:
    * returns one row per key tuple with each ProductSum's total and a
    * `cnt` row count (of filter-passing rows). */
  def sumsByKey(df: DataFrame, keys: Seq[String], sums: Seq[ProductSum],
      filters: Seq[ColFilter] = Nil, maxGroups: Int = 64): DataFrame = {
    require(sums.nonEmpty)
    val spark = df.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(LowCardAggStrategy))
      exp.extraStrategies = exp.extraStrategies :+ LowCardAggStrategy
    val needed = (keys ++ sums.flatMap(_.terms.map(_.column)) ++
      filters.map(_.column)).distinct
    // ALSO apply the filters as ordinary Catalyst predicates: they
    // reach the parquet scan as PushedFilters (row-group stat pruning —
    // on time-ordered 100 TB data most of the win). The exec skips the
    // FilterExec at runtime and re-evaluates the same conjunction on
    // the vectors; the two are identical by construction because this
    // method is the only way to build the plan node.
    val sel = df.select(needed.map(col): _*)
    val pruned = filters.map { f =>
      val lhs = col(f.column)
      val rhs = litFor(df.schema(f.column).dataType, f.value, f.op)
      f.op match {
        case "le" => lhs <= rhs
        case "lt" => lhs < rhs
        case "ge" => lhs >= rhs
        case "gt" => lhs > rhs
      }
    }.reduceOption(_ && _).map(sel.filter).getOrElse(sel)
    val pre = GraftBridge.ofRows(spark,
      LowCardPreAgg.build(keys, sums, filters, maxGroups,
        pruned.queryExecution.analyzed))
    pre.groupBy(keys.map(col): _*)
      .agg(sum(sums.head.name).as(sums.head.name),
        (sums.tail.map(s => sum(s.name).as(s.name)) :+
          sum("_cnt").as("cnt")): _*)
  }

  /** Typed literal for a filter bound, so the predicate stays a bare
    * attribute-vs-literal comparison the parquet source can push.
    * Shared with [[ProbeAgg]], which pushes the same filter shapes.
    *
    * A fractional bound on an integral/date/timestamp column is rounded
    * in the WEAKENING direction per op (le/lt → ceil, ge/gt → floor):
    * the pushed twin predicate may keep extra rows — the kernel
    * re-evaluates the exact double comparison and drops them — but must
    * never be stricter than the kernel's own evaluation (truncation
    * toward zero pushed `x < 10` for `lt 10.5`, silently losing x=10
    * through parquet row-group pruning or the row-fallback FilterExec). */
  private[plans] def litFor(dt: org.apache.spark.sql.types.DataType,
      v: Double, op: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.lit
    // weaker-or-equal integral bound: ceiling for upper bounds, floor
    // for lower bounds (exact when v is already integral)
    def weak: Long =
      if (op == "le" || op == "lt") math.ceil(v).toLong
      else math.floor(v).toLong
    dt match {
      case TimestampType =>
        lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(weak, 1000000L),
          Math.floorMod(weak, 1000000L) * 1000L))
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(weak, 1000000L),
          (Math.floorMod(weak, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case LongType => lit(weak)
      case IntegerType => lit(weak.toInt)
      case DateType => lit(java.time.LocalDate.ofEpochDay(weak))
      case _ => lit(v)
    }
  }

  /** Keyless variant: one global row of totals (+ `cnt`), e.g. q6's
    * filtered revenue sum. Same kernel, single group. */
  def globalSums(df: DataFrame, sums: Seq[ProductSum],
      filters: Seq[ColFilter] = Nil): DataFrame =
    sumsByKey(df, Nil, sums, filters, maxGroups = 1)
}

/** Logical marker node: output = keys (string) ++ sums (double) ++
  * `_cnt` (long). The output attributes are a constructor PARAMETER —
  * computing them in the body would mint fresh expression ids on every
  * optimizer copy() and orphan the parent aggregate's references.
  * Claims every child attribute so column pruning leaves the (already
  * caller-pruned) scan alone. */
final case class LowCardPreAgg(keys: Seq[String],
    sums: Seq[LowCardAgg.ProductSum], filters: Seq[LowCardAgg.ColFilter],
    maxGroups: Int, child: LogicalPlan,
    outputAttrs: Seq[Attribute]) extends UnaryNode {
  override def output: Seq[Attribute] = outputAttrs
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : LowCardPreAgg = copy(child = newChild)
}

object LowCardPreAgg {
  def build(keys: Seq[String], sums: Seq[LowCardAgg.ProductSum],
      filters: Seq[LowCardAgg.ColFilter], maxGroups: Int,
      child: LogicalPlan): LowCardPreAgg =
    LowCardPreAgg(keys, sums, filters, maxGroups, child,
      keys.map(k => AttributeReference(k, StringType)()) ++
        sums.map(s => AttributeReference(s.name, DoubleType)()) :+
        AttributeReference("_cnt", LongType)())
}

object LowCardAggStrategy
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: LowCardPreAgg =>
      LowCardPreAggExec(p.keys, p.sums, p.filters, p.maxGroups, p.output,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

final case class LowCardPreAggExec(keys: Seq[String],
    sums: Seq[LowCardAgg.ProductSum], filters: Seq[LowCardAgg.ColFilter],
    maxGroups: Int, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override protected def withNewChildInternal(newChild: SparkPlan)
      : LowCardPreAggExec = copy(child = newChild)

  /** Unwrap codegen/transition nodes to reach a columnar-capable child
    * (the vectorized scan). The contract child is scan-only, so any
    * wrapper between us and it is a transition, not a computation. */
  private def columnarChild(p: SparkPlan): Option[SparkPlan] = p match {
    case c if c.supportsColumnar => Some(c)
    case c: ColumnarToRowExec => columnarChild(c.child)
    case c: InputAdapter => columnarChild(c.child)
    case c: WholeStageCodegenExec => columnarChild(c.child)
    // attribute-only projections (column prune/reorder) do no work we
    // would lose — ordinals are re-resolved against the scan's schema
    case c: org.apache.spark.sql.execution.ProjectExec
        if c.projectList.forall(_.isInstanceOf[Attribute]) =>
      columnarChild(c.child)
    // a FilterExec may only be skipped when EVERY conjunct is a
    // predicate the kernel itself re-evaluates on the vectors. A
    // caller-supplied .filter(...) — which CombineFilters can merge
    // into the same FilterExec as the ColFilter conjunction — fails
    // the check, and doExecute takes the row path, which executes the
    // FilterExec and so preserves the caller's predicate.
    case c: org.apache.spark.sql.execution.FilterExec
        if filterMatchesSpec(c.condition) =>
      columnarChild(c.child)
    case _ => None
  }

  /** True iff every conjunct of `cond` is one of: IsNotNull on a
    * filter column (inferred by Catalyst from the comparison), or the
    * exact column-vs-literal comparison of one of our ColFilters —
    * same column, same direction (flipped literal-first forms are
    * normalized), same bound. Anything else means the FilterExec
    * computes a predicate the kernel would not, so it must run. */
  private def filterMatchesSpec(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Boolean =
    KernelFilterMatch.matches(cond, filters, filters.map(_.column).toSet)

  /** How a column's vector is physically read. */
  private def kindOf(out: Seq[Attribute], ord: Int): Int =
      out(ord).dataType match {
    case DoubleType => 0
    case TimestampType | org.apache.spark.sql.types.TimestampNTZType |
         LongType => 1 // long-backed (timestamps are epoch micros)
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType => 2
    case dt => throw new IllegalArgumentException(
      s"LowCardAgg numeric input must be double/long/timestamp/int, " +
        s"got $dt for ${out(ord).name}")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val colPlan = columnarChild(child)
    // ordinals resolve against whichever plan actually feeds us rows
    val out = colPlan.map(_.output).getOrElse(child.output)
    val keyOrds = keys.map(k => out.indexWhere(_.name == k))
    val sumSpecs = sums.map(_.terms.map(t =>
      (out.indexWhere(_.name == t.column), t.mul, t.add))
      .toArray).toArray
    val filterSpecs0 = filters.map { f =>
      (out.indexWhere(_.name == f.column), f.op, f.value)
    }.toArray
    require((keyOrds ++ sumSpecs.flatten.map(_._1) ++
      filterSpecs0.map(_._1)).forall(_ >= 0),
      s"unresolved column among ${keys ++ sums} in $out")
    // slot-compress every numeric input: ord -> dense slot, so the hot
    // loops index plain arrays, never maps
    val numOrds = (sumSpecs.flatMap(_.map(_._1)) ++
      filterSpecs0.map(_._1)).distinct
    val slotOf = numOrds.zipWithIndex.toMap
    val slotKinds = numOrds.map(o => kindOf(out, o))
    // primitive-array specs: Tuple3 fields are boxed doubles, and a
    // per-row unboxing in a 60M-row loop costs more than the arithmetic
    val termSlots = sumSpecs.map(_.map(t => slotOf(t._1)))
    val termMuls = sumSpecs.map(_.map(_._2))
    val termAdds = sumSpecs.map(_.map(_._3))
    val fSlots = filterSpecs0.map(f => slotOf(f._1))
    val fOps = filterSpecs0.map(f => f._2 match {
      case "le" => 0; case "lt" => 1; case "ge" => 2; case "gt" => 3 })
    val fLims = filterSpecs0.map(_._3)
    val nKeys = keys.length
    val nSums = sums.length
    val mg = maxGroups

    colPlan match {
      case Some(scan) =>
        scan.executeColumnar().mapPartitions { batches =>
          partialsColumnar(batches, keyOrds.toArray, numOrds, slotKinds,
            termSlots, termMuls, termAdds, fSlots, fOps, fLims,
            nKeys, nSums, mg)
        }
      case None =>
        child.execute().mapPartitions { rows =>
          partialsRows(rows, keyOrds.toArray, numOrds, slotKinds,
            termSlots, termMuls, termAdds, fSlots, fOps, fLims,
            nKeys, nSums, mg)
        }
    }
  }

  // ------------------------------------------------------------------

  /** Per-partition group store: parallel arrays indexed by group id.
    * A null array entry in a key tuple IS the SQL NULL key — its own
    * group, exactly as groupBy treats it. `touched(g)(s)` records
    * whether sum `s` ever saw a non-null input for group `g`; a group
    * whose inputs were all null emits a NULL partial, so the final
    * Catalyst sum yields SQL's null (not 0.0). */
  private final class Groups(nKeys: Int, nSums: Int, maxGroups: Int) {
    val keyVals = new Array[Array[UTF8String]](maxGroups)
    val accs = Array.ofDim[Double](maxGroups, nSums)
    val touched = Array.ofDim[Boolean](maxGroups, nSums)
    val cnts = new Array[Long](maxGroups)
    var n = 0

    private def keyEq(a: UTF8String, b: UTF8String): Boolean =
      if (a eq null) b eq null
      else (b ne null) && a.compareTo(b) == 0

    def sameKeys(g: Int, ks: Array[UTF8String]): Boolean = {
      var j = 0
      while (j < nKeys) {
        if (!keyEq(keyVals(g)(j), ks(j))) return false
        j += 1
      }
      true
    }

    def idOf(ks: Array[UTF8String]): Int = {
      var i = 0
      while (i < n) {
        if (sameKeys(i, ks)) return i
        i += 1
      }
      require(n < maxGroups,
        s"LowCardAgg overflow: > $maxGroups distinct key tuples")
      keyVals(n) = Array.tabulate(nKeys)(j =>
        if (ks(j) eq null) null else ks(j).clone())
      n += 1
      n - 1
    }

    def rows(nSums: Int): Iterator[InternalRow] =
      (0 until n).iterator.map { g =>
        val vals = new Array[Any](nKeys + nSums + 1)
        var j = 0
        while (j < nKeys) { vals(j) = keyVals(g)(j); j += 1 }
        var s = 0
        while (s < nSums) {
          vals(nKeys + s) = if (touched(g)(s)) accs(g)(s) else null
          s += 1
        }
        vals(nKeys + nSums) = cnts(g)
        new GenericInternalRow(vals)
      }
  }

  /** Decode slot `s` (vector `v`, physical kind `kind`) into `out` as
    * doubles, with `mask(i)` = row i is NULL (decoded as 0.0, never
    * read under the mask). A genuine NaN VALUE stays NaN and
    * propagates into the sums, exactly like Spark's sum — NaN and
    * null no longer collapse. Timestamps land as epoch micros —
    * exact in a double up to 2^53, i.e. year 2255. */
  private def decodeSlot(v: ColumnVector, kind: Int, n: Int,
      out: Array[Double], mask: Array[Boolean]): Unit = {
    var i = 0
    if (!v.hasNull) {
      java.util.Arrays.fill(mask, 0, n, false)
      kind match {
        case 0 =>
          val src = v.getDoubles(0, n)
          System.arraycopy(src, 0, out, 0, n)
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

  private def partialsColumnar(batches: Iterator[ColumnarBatch],
      keyOrds: Array[Int], numOrds: Array[Int], slotKinds: Array[Int],
      termSlots: Array[Array[Int]], termMuls: Array[Array[Double]],
      termAdds: Array[Array[Double]], fSlots: Array[Int],
      fOps: Array[Int], fLims: Array[Double],
      nKeys: Int, nSums: Int, maxGroups: Int): Iterator[InternalRow] = {
    val groups = new Groups(nKeys, nSums, maxGroups)
    val nSlots = numOrds.length
    val keyBuf = new Array[UTF8String](nKeys)
    val comboIds = new Array[Long](4 * maxGroups)
    val comboGids = new Array[Int](4 * maxGroups)
    var cols: Array[Array[Double]] = Array.fill(nSlots)(new Array[Double](0))
    var masks: Array[Array[Boolean]] = Array.fill(nSlots)(new Array[Boolean](0))
    var kidx: Array[Int] = new Array[Int](0)
    var keep: Array[Boolean] = new Array[Boolean](0)

    batches.foreach { batch =>
      val n = batch.numRows()
      if (n > 0) {
        if (kidx.length < n) {
          kidx = new Array[Int](n)
          keep = new Array[Boolean](n)
          cols = Array.fill(nSlots)(new Array[Double](n))
          masks = Array.fill(nSlots)(new Array[Boolean](n))
        }
        var s = 0
        while (s < nSlots) {
          decodeSlot(batch.column(numOrds(s)), slotKinds(s), n, cols(s),
            masks(s))
          s += 1
        }
        // filter mask. Spark comparison semantics: NULL fails every
        // predicate; NaN orders ABOVE every other double, so a NaN
        // value passes ge/gt and fails le/lt — Java's plain
        // NaN-fails-everything would silently drop NaN rows that a
        // Catalyst FilterExec keeps.
        java.util.Arrays.fill(keep, 0, n, true)
        var f = 0
        while (f < fSlots.length) {
          val arr = cols(fSlots(f))
          val nul = masks(fSlots(f))
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
        // key index per row. Fast path: when every key column is
        // dictionary-encoded, a key tuple is identified by its packed
        // dictionary ids — an int read per column instead of a string
        // materialization (getUTF8String on a dictionary vector copies
        // bytes per call; measured 150 ns/row vs ~5 ns/row on ids).
        // Dictionary ids are only stable within one column chunk, so
        // the id->group cache resets every batch; re-resolving costs a
        // handful of string reads per batch.
        val kvs = new Array[ColumnVector](nKeys)
        var allDict = true
        var j = 0
        while (j < nKeys) {
          kvs(j) = batch.column(keyOrds(j))
          allDict &&= (kvs(j) match {
            case w: org.apache.spark.sql.execution.vectorized
              .WritableColumnVector => w.hasDictionary && !w.hasNull
            case _ => false
          })
          j += 1
        }
        var i = 0
        if (nKeys == 0) {
          val g0 = groups.idOf(keyBuf) // empty tuple = the one group
          i = 0
          while (i < n) { kidx(i) = g0; i += 1 }
        } else if (allDict && nKeys <= 2) {
          // the ids live in the companion dictionaryIds vector; the
          // parent vector only carries the Dictionary itself
          val ids0 = kvs(0).asInstanceOf[
            org.apache.spark.sql.execution.vectorized.WritableColumnVector]
            .getDictionaryIds
          val ids1 = if (nKeys == 2) kvs(1).asInstanceOf[
            org.apache.spark.sql.execution.vectorized.WritableColumnVector]
            .getDictionaryIds else null
          var nCombos = 0
          var lastCombo = -1L
          var lastGid = -1
          while (i < n) {
            if (keep(i)) {
              val combo = if (ids1 == null) ids0.getDictId(i).toLong
                else (ids0.getDictId(i).toLong << 32) |
                  (ids1.getDictId(i) & 0xffffffffL)
              if (combo != lastCombo) {
                // scan the per-batch combo table
                var c = 0
                var found = -1
                while (found < 0 && c < nCombos) {
                  if (comboIds(c) == combo) found = comboGids(c)
                  c += 1
                }
                if (found < 0) {
                  var k = 0
                  while (k < nKeys) {
                    keyBuf(k) = kvs(k).getUTF8String(i); k += 1
                  }
                  found = groups.idOf(keyBuf)
                  require(nCombos < comboIds.length,
                    s"LowCardAgg: > ${comboIds.length} dictionary " +
                      "combos in one batch")
                  comboIds(nCombos) = combo
                  comboGids(nCombos) = found
                  nCombos += 1
                }
                lastCombo = combo; lastGid = found
              }
              kidx(i) = lastGid
            }
            i += 1
          }
        } else {
          // string path, with a last-key cache (runs of equal keys are
          // common in sorted/clustered data); NULL keys decode as null
          // and form their own group, matching groupBy
          var lastId = -1
          i = 0
          while (i < n) {
            if (keep(i)) {
              var k = 0
              while (k < nKeys) {
                keyBuf(k) =
                  if (kvs(k).isNullAt(i)) null else kvs(k).getUTF8String(i)
                k += 1
              }
              if (lastId < 0 || !groups.sameKeys(lastId, keyBuf))
                lastId = groups.idOf(keyBuf)
              kidx(i) = lastId
            }
            i += 1
          }
        }
        // accumulate each sum over the kept rows; unrolled fast paths
        // for the common 1- and 2-term products keep the loop tight.
        // SQL semantics: a product with ANY null term is null → the
        // row is skipped for that sum; a NaN VALUE accumulates and
        // poisons the total, exactly like Spark's sum.
        s = 0
        while (s < nSums) {
          val slots = termSlots(s)
          val muls = termMuls(s)
          val adds = termAdds(s)
          val acc = groups.accs
          val tch = groups.touched
          i = 0
          if (slots.length == 1) {
            val m = muls(0); val a = adds(0)
            val arr = cols(slots(0)); val nu = masks(slots(0))
            while (i < n) {
              if (keep(i) && !nu(i)) {
                val g = kidx(i)
                acc(g)(s) += m * arr(i) + a
                tch(g)(s) = true
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
                val g = kidx(i)
                acc(g)(s) += (m1 * arr1(i) + a1) * (m2 * arr2(i) + a2)
                tch(g)(s) = true
              }
              i += 1
            }
          } else if (slots.length == 3) {
            val m1 = muls(0); val a1 = adds(0)
            val m2 = muls(1); val a2 = adds(1)
            val m3 = muls(2); val a3 = adds(2)
            val arr1 = cols(slots(0)); val arr2 = cols(slots(1))
            val arr3 = cols(slots(2))
            val nu1 = masks(slots(0)); val nu2 = masks(slots(1))
            val nu3 = masks(slots(2))
            while (i < n) {
              if (keep(i) && !nu1(i) && !nu2(i) && !nu3(i)) {
                val g = kidx(i)
                acc(g)(s) += (m1 * arr1(i) + a1) * (m2 * arr2(i) + a2) *
                  (m3 * arr3(i) + a3)
                tch(g)(s) = true
              }
              i += 1
            }
          } else {
            while (i < n) {
              if (keep(i)) {
                var p = 1.0
                var anyNull = false
                var t = 0
                while (t < slots.length) {
                  if (masks(slots(t))(i)) anyNull = true
                  p *= muls(t) * cols(slots(t))(i) + adds(t)
                  t += 1
                }
                if (!anyNull) {
                  val g = kidx(i)
                  acc(g)(s) += p
                  tch(g)(s) = true
                }
              }
              i += 1
            }
          }
          s += 1
        }
        i = 0
        while (i < n) {
          if (keep(i)) groups.cnts(kidx(i)) += 1
          i += 1
        }
      }
    }
    groups.rows(nSums)
  }

  private def partialsRows(rows: Iterator[InternalRow],
      keyOrds: Array[Int], numOrds: Array[Int], slotKinds: Array[Int],
      termSlots: Array[Array[Int]], termMuls: Array[Array[Double]],
      termAdds: Array[Array[Double]], fSlots: Array[Int],
      fOps: Array[Int], fLims: Array[Double],
      nKeys: Int, nSums: Int, maxGroups: Int): Iterator[InternalRow] = {
    val groups = new Groups(nKeys, nSums, maxGroups)
    val keyBuf = new Array[UTF8String](nKeys)
    val slotVals = new Array[Double](numOrds.length)
    val slotNull = new Array[Boolean](numOrds.length)
    rows.foreach { row =>
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
      // same semantics as the columnar filter loop: null fails every
      // predicate, NaN passes ge/gt and fails le/lt (Spark ordering)
      var ok = true
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
      if (ok) {
        var j = 0
        while (j < nKeys) {
          val o = keyOrds(j)
          keyBuf(j) = if (row.isNullAt(o)) null else row.getUTF8String(o)
          j += 1
        }
        val g = groups.idOf(keyBuf)
        s = 0
        while (s < nSums) {
          val slots = termSlots(s)
          var p = 1.0
          var anyNull = false
          var t = 0
          while (t < slots.length) {
            if (slotNull(slots(t))) anyNull = true
            p *= termMuls(s)(t) * slotVals(slots(t)) + termAdds(s)(t)
            t += 1
          }
          if (!anyNull) {
            groups.accs(g)(s) += p
            groups.touched(g)(s) = true
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
