package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{functions => F}

/** Finest-level-first ROLLUP / CUBE for decomposable aggregates.
  *
  * Spark plans `rollup(d1..dn)` as Expand(n+1 copies of every input row)
  * → hash aggregate: a 60M-row fact pays 3× the aggregation work for a
  * two-dim rollup before the partial agg collapses anything. When every
  * aggregate is algebraically decomposable (sum/count/min/max — sum of
  * sums, sum of counts, min of mins, max of maxes), the super-aggregate
  * levels are derivable from the FINEST grouping alone: aggregate once
  * at (d1..dn) — the only pass that touches the fact — then re-aggregate
  * that result (cardinality = the group count, thousands at most) once
  * per level and union. The fact is scanned once, Expand never runs, and
  * the upper levels cost microseconds. DuckDB's grouping-sets executor
  * does the moral equivalent internally; Catalyst keeps Expand for full
  * generality (avg/stddev/distinct don't decompose), so this ships as an
  * explicit operator with the decomposability precondition in its API.
  *
  * 100 TB posture: the one fact-sized aggregation partial-aggregates
  * map-side exactly like any groupBy; everything after operates on the
  * finest RESULT, which must be cluster-small (true whenever a rollup
  * report is meaningful). AVG decomposes as sum+count — callers emit
  * both and divide after.
  *
  * When to use: the decomposition trades one Expand-taxed pass for a
  * finest pass plus one tiny re-agg JOB per level — a win once the fact
  * dwarfs the per-job cost (sf10: cube 1.37→0.59 s, full channel-rollup
  * query −9%) and a loss at toy scale (sf0.1: +0.07 s — the extra
  * stages ARE the cost). Interop note: Spark 4.1's
  * `Dataset.rollup(String*)` overload false-positives the ambiguous-
  * self-join check when the input contains joins; this operator (and
  * the `Column` overload) resolve fine — one more reason it exists.
  *
  * Output matches `df.rollup/cube(dims).agg(...)` as a multiset, with
  * `grouping_<dim>` flag columns (1 = dim rolled away, matching
  * Spark/PG `GROUPING()`) so rows with genuine NULL dim values stay
  * distinguishable from super-aggregate rows — same contract as the
  * native operator.
  */
object Rollup {

  /** A decomposable aggregate: `kind` ∈ sum | count | min | max.
    * `count` counts non-nulls of `input` (use lit(1) for count(*)). */
  final case class AggSpec(kind: String, input: Column, name: String) {
    require(Set("sum", "count", "min", "max")(kind),
      s"non-decomposable aggregate kind: $kind (avg = sum+count, divide after)")
  }

  def sum(c: Column, name: String): AggSpec = AggSpec("sum", c, name)
  def count(c: Column, name: String): AggSpec = AggSpec("count", c, name)
  def min(c: Column, name: String): AggSpec = AggSpec("min", c, name)
  def max(c: Column, name: String): AggSpec = AggSpec("max", c, name)

  /** ROLLUP(dims): levels keep prefixes dims[0..i). */
  def rollup(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec]): DataFrame =
    fromFinest(df, dims, aggs,
      (0 to dims.length).reverse.map(i => dims.indices.map(_ < i)))

  /** Try to run the finest (fact-sized) pass through the columnar
    * low-cardinality kernel: possible when every dim is a string
    * column and every aggregate is sum(<double attribute>) or
    * count(<literal>). Opt-in via kernelMaxGroups (the kernel fails
    * loudly past its group bound, so the caller must know the finest
    * cardinality is small — true for every rollup report worth
    * printing). */
  private def kernelFinest(df: DataFrame, dims: Seq[String],
      aggs: Seq[AggSpec], maxGroups: Int): Option[DataFrame] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types.{DoubleType, StringType}
    def attrName(c: Column): Option[String] =
      GraftBridge.eagerExpression(c) match {
        case u: UnresolvedAttribute => Some(u.name)
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    if (!dims.forall(d => fields.get(d).contains(StringType))) return None
    val mapped = aggs.map { a =>
      a.kind match {
        case "sum" => attrName(a.input)
          .filter(n => fields.get(n).contains(DoubleType))
          .map(n => Left(graft.plans.LowCardAgg.ProductSum(a.name,
            Seq(graft.plans.LowCardAgg.Term(n)))))
        case "count" => GraftBridge.eagerExpression(a.input) match {
          case l: Literal if l.value != null => Some(Right(a.name))
          case _ => None
        }
        case _ => None
      }
    }
    if (mapped.exists(_.isEmpty)) return None
    val sums = mapped.flatten.collect { case Left(s) => s }
    val counts = mapped.flatten.collect { case Right(n) => n }
    if (sums.isEmpty) return None // kernel needs >= 1 sum
    val out = graft.plans.LowCardAgg.sumsByKey(df, dims, sums,
      maxGroups = maxGroups)
    Some(counts.foldLeft(out)((d, n) => d.withColumn(n, col("cnt")))
      .select((dims.map(col) ++ aggs.map(a => col(a.name))): _*))
  }

  /** Size-adaptive ROLLUP: the RollupAB sweep measured the crossover in
    * both directions — native Expand wins at toy scale (sf0.1: the
    * per-level re-agg JOBS cost more than Expand saves on 600k rows,
    * +0.07 s) and loses once the fact dwarfs the job cost (sf10:
    * rollup 2.0 → 0.7 s, cube −57%; the sf0.1 scan estimate is ~75 MB,
    * sf10's ~1.9 GB). This dispatch reads the input's size estimate and
    * picks the regime, so ONE declaration is right at every scale — the
    * decision a cost-based planner would make, made at the operator layer
    * because Catalyst keeps Expand unconditionally
    * ([[SizeDispatch.RollupSize]]). Both paths emit
    * identical columns (dims, agg names, grouping_<dim> flags); both are
    * oracle-gated. */
  def rollupAuto(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec],
      kernelMaxGroups: Int = 0): DataFrame =
    if (decompose(df))
      fromFinest(df, dims, aggs,
        (0 to dims.length).reverse.map(i => dims.indices.map(_ < i)),
        kernelMaxGroups)
    else native(df, dims, aggs, cube = false)

  /** Size-adaptive CUBE (see [[rollupAuto]]). */
  def cubeAuto(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec],
      kernelMaxGroups: Int = 0): DataFrame =
    if (decompose(df))
      fromFinest(df, dims, aggs,
        (0 until (1 << dims.length)).reverse
          .map(mask => dims.indices.map(i => (mask & (1 << i)) != 0)),
        kernelMaxGroups)
    else native(df, dims, aggs, cube = true)

  private def decompose(df: DataFrame): Boolean =
    SizeDispatch.above(SizeDispatch.RollupSize, df.sparkSession,
      SizeDispatch.planBytes(df))

  /** Native Expand-based plan with the same output contract as
    * [[fromFinest]]. */
  private def native(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec],
      cube: Boolean): DataFrame = {
    val aggCols = aggs.map(a => aggExpr(a, first = true)) ++
      dims.map(d => F.grouping(col(d)).cast("int").as(s"grouping_$d"))
    val grouped =
      if (cube) df.cube(dims.map(col): _*)
      else df.rollup(dims.map(col): _*)
    grouped.agg(aggCols.head, aggCols.tail: _*)
      .select(dims.map(col) ++ aggs.map(a => col(a.name)) ++
        dims.map(d => col(s"grouping_$d")): _*)
  }

  /** CUBE(dims): levels keep every subset. */
  def cube(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec]): DataFrame =
    fromFinest(df, dims, aggs,
      (0 until (1 << dims.length)).reverse
        .map(mask => dims.indices.map(i => (mask & (1 << i)) != 0)))

  /** GROUPING SETS over explicit kept-dim sets. */
  def groupingSets(df: DataFrame, dims: Seq[String], aggs: Seq[AggSpec],
      sets: Seq[Seq[String]]): DataFrame = {
    sets.foreach(s => require(s.forall(dims.contains),
      s"grouping set ${s.mkString(",")} not a subset of dims"))
    fromFinest(df, dims, aggs, sets.map(s => dims.map(s.contains)))
  }

  private def fromFinest(df: DataFrame, dims: Seq[String],
      aggs: Seq[AggSpec], keeps: Seq[Seq[Boolean]],
      kernelMaxGroups: Int = 0): DataFrame = {
    require(dims.nonEmpty && aggs.nonEmpty)
    val dimTypes = dims.map(d => d -> df.schema(d).dataType).toMap
    // the single fact-sized pass — through the columnar kernel when
    // the caller vouches for the finest cardinality and the aggregate
    // shapes map
    val finest = (if (kernelMaxGroups > 0)
        kernelFinest(df, dims, aggs, kernelMaxGroups) else None)
      .getOrElse(df.groupBy(dims.map(col): _*)
        .agg(aggExpr(aggs.head, first = true),
          aggs.tail.map(a => aggExpr(a, first = true)): _*))
    val levels = keeps.map { keep =>
      val kept = dims.zip(keep).collect { case (d, true) => d }
      val re =
        if (kept.length == dims.length) finest
        else if (kept.isEmpty)
          finest.groupBy().agg(aggExpr(aggs.head, first = false),
            aggs.tail.map(a => aggExpr(a, first = false)): _*)
        else finest.groupBy(kept.map(col): _*)
          .agg(aggExpr(aggs.head, first = false),
            aggs.tail.map(a => aggExpr(a, first = false)): _*)
      re.select(
        dims.zip(keep).map { case (d, k) =>
          if (k) col(d) else lit(null).cast(dimTypes(d)).as(d)
        } ++
        aggs.map(a => col(a.name)) ++
        dims.zip(keep).map { case (d, k) =>
          lit(if (k) 0 else 1).as(s"grouping_$d")
        }: _*)
    }
    levels.reduce(_ unionByName _)
  }

  /** First pass aggregates the raw input; upper passes re-aggregate the
    * finest result (count re-aggregates as SUM of the finest counts). */
  private def aggExpr(a: AggSpec, first: Boolean): Column = (a.kind, first) match {
    case ("sum", true)    => F.sum(a.input).as(a.name)
    case ("count", true)  => F.count(a.input).as(a.name)
    case ("min", true)    => F.min(a.input).as(a.name)
    case ("max", true)    => F.max(a.input).as(a.name)
    case ("sum", false)   => F.sum(col(a.name)).as(a.name)
    case ("count", false) => F.sum(col(a.name)).as(a.name)
    case ("min", false)   => F.min(col(a.name)).as(a.name)
    case ("max", false)   => F.max(col(a.name)).as(a.name)
    case _ => throw new IllegalArgumentException(a.kind)
  }
}
