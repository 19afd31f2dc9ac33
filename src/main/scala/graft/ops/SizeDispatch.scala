package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's size-gated plan choices, in one place.
  *
  * The few plan choices Catalyst cannot make on its own (a one-task sort,
  * a forced broadcast build, a rollup decomposition, a distributed window)
  * are made while the DataFrame is built. Each [[Site]] compares one
  * signal with one limit: at or below it the `small` arm, above it the
  * `large` arm. Both arms return the same rows (each site's spec pins
  * that), so a wrong signal costs time, never an answer.
  *
  * Signals: [[planBytes]] (Spark's estimate of the ANALYZED plan),
  * [[leafBytes]] (the sum of its leaf-scan estimates, for inputs above
  * joins, whose estimates inflate to the product of their inputs), or a
  * count the caller already ran. No signal runs an optimizer pass:
  * DataFrames analyze eagerly and a leaf's statistic is its file index.
  *
  * Soundness: each caller measures the plan its arm processes or a plan
  * that input narrows (projections and filters of scans, aggregates,
  * key-unique joins — nothing that multiplies rows), so signal ≤ limit
  * implies input ≤ limit; for a narrow projection of a scan the analyzed
  * estimate equals the optimized one. Do not dispatch a row-exploding
  * operator above a small scan through a site.
  *
  * [[forcing]] pins arms so tests reach both at fixture scale, and
  * [[recording]] lists the decisions made; both are scoped to the calling
  * thread, the one that builds the DataFrame.
  */
private[graft] object SizeDispatch {

  /** One size-gated choice; `forcedOnly` arms are reached only by
    * [[forcing]]. */
  final class Site private[SizeDispatch] (val name: String,
      val small: String, val large: String,
      limitOf: SparkSession => BigInt, forcedOnly: String*) {
    def limit(spark: SparkSession): BigInt = limitOf(spark)
    def arms: Seq[String] = Seq(small, large) ++ forcedOnly
  }

  private def fixed(n: Long): SparkSession => BigInt = _ => BigInt(n)

  // Limits in bytes unless noted, each measured between the sf0.1 and
  // sf10 (or sf100) fixtures; the call sites give the measurements.
  val Ordered = new Site("Q.ordered", "onePartition", "rangeSort",
    fixed(64L << 20)) // leaf bytes
  val FanOut = new Site("Par.fanOutIfBulky", "passThrough", "fanOut",
    fixed(32L << 20)) // leaf bytes per estimated scan task
  val ReduceBound = new Site("JoinOpt.withinReduceBound", "within",
    "beyond", fixed(256L << 20))
  /** Spark's own broadcast threshold; a value ≤ 0 disables the broadcast,
    * as it does in Spark. */
  val AggBuild = new Site("JoinOpt.aggBuildJoin", "aggBuild", "planner",
    spark => {
      val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
        "10485760")
      val b = scala.util.Try(s.toLong).getOrElse( // or a size string
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s))
      BigInt(if (b > 0) b else -1L)
    })
  /** `layout` is the union-carry layout, otherwise taken only for types
    * the FrameStats operator does not support. */
  val BigWindowSize = new Site("BigWindow.frameStats", "classic",
    "distributed", fixed(512L << 20), "layout")
  /** Distinct partition keys, clamped so partitions × keys stays under
    * the FrameStats operator's segment backstop at any shuffle width. */
  val FrameStatsKeys = new Site("BigWindow.frameStatsKeys", "frameStats",
    "classic", spark => BigInt(math.min(10000L,
      graft.plans.FrameStats.segmentBackstop /
        (2L * math.max(spark.sessionState.conf.numShufflePartitions, 1)))))
  val RankStatsSize = new Site("RankStats.lowCardRanks", "classic",
    "rewrite", fixed(256L << 20))
  val RollupSize = new Site("Rollup.decompose", "native", "finestFirst",
    fixed(512L << 20))
  val YoyFact = new Site("qds_yoy.aggBelowJoin", "join", "aggBelowJoin",
    fixed(4L << 30))
  val MinhashVerify = new Site("Dedup.minhashVerify", "join", "clustered",
    fixed(1000000L)) // documents
  val MinhashCorpus = new Site("Dedup.minhashCorpus", "shuffleHash",
    "pairDense", fixed(1000000L)) // documents

  /** One decision: the signal, the limit it was compared with, the arm. */
  final case class Decision(site: String, signal: BigInt, limit: BigInt,
      arm: String)

  private val forced = new DynamicVariable[Map[Site, String]](Map.empty)
  private val trace =
    new DynamicVariable[Option[ArrayBuffer[Decision]]](None)

  /** Spark's size estimate of `df`'s analyzed plan. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  /** Summed size estimates of `df`'s analyzed-plan leaves. */
  def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The arm `site` takes for `signal`. */
  def arm(site: Site, spark: SparkSession, signal: BigInt): String = {
    val limit = site.limit(spark)
    val a = forced.value.getOrElse(site,
      if (signal <= limit) site.small else site.large)
    trace.value.foreach(_ += Decision(site.name, signal, limit, a))
    a
  }

  /** Whether `site` takes its `large` arm for `signal`. */
  def above(site: Site, spark: SparkSession, signal: BigInt): Boolean =
    arm(site, spark, signal) == site.large

  /** Runs `body` with each listed site pinned to the given arm. */
  def forcing[T](arms: (Site, String)*)(body: => T): T = {
    arms.foreach { case (s, a) =>
      require(s.arms.contains(a), s"${s.name} has no arm $a (${s.arms})")
    }
    forced.withValue(forced.value ++ arms)(body)
  }

  /** The decisions made while `body` runs, in order. */
  def recording(body: => Any): Seq[Decision] = {
    val buf = ArrayBuffer.empty[Decision]
    trace.withValue(Some(buf))(body)
    buf.toSeq
  }
}
