package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.ops.SizeDispatch.{BigWindowSize, MinhashCorpus, MinhashVerify,
  forcing}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.01"

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  /** Fixture corpus with planted near-duplicates: for each source doc,
    * a mutated copy (a few words changed) with id+10000. */
  lazy val planted = {
    val docs = Tables.load(spark, sf, "documents").limit(100)
      .select("doc_id", "text")
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text",
        concat(regexp_replace(col("text"), "data", "info"), lit(" extra")))
    docs.unionAll(mutated)
  }

  test("exact dedup clusters duplicates, keeps one per content") {
    val dup = Tables.load(spark, sf, "documents").limit(50)
    val both = dup.unionAll(dup.withColumn("doc_id", col("doc_id") + 5000))
    val clusters = Dedup.exactClusters(both, "doc_id", "text")
    assert(clusters.count() == 50)
    assert(clusters.agg(sum("n_copies")).head().getLong(0) == 100)
    val kept = Dedup.dropExactDuplicates(both, "doc_id", "text")
    assert(kept.count() == 50)
    // canonical = min id (the originals)
    assert(kept.filter(col("doc_id") >= 5000).count() == 0)
  }

  test("incremental dedup: batch vs corpus, exact and near paths") {
    val docs = Tables.load(spark, sf, "documents").limit(60)
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 40)
    // batch: 10 re-crawls of corpus content (shifted ids), 10 genuinely
    // new docs, plus an in-batch duplicate of one new doc
    val recrawl = corpus.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000)
    val fresh = docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
    val inBatchDup = fresh.filter(col("doc_id") === 45)
      .withColumn("doc_id", col("doc_id") + 2000)
    val batch = recrawl.unionAll(fresh).unionAll(inBatchDup)
    val kept = Dedup.dropAgainstCorpus(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (40L until 50L).toSet,
      s"expected the 10 fresh ids, got $kept")
    // near path: a mutated copy of a corpus doc is caught, fresh is not
    val mutated = corpus.filter(col("doc_id") === 5)
      .select((col("doc_id") + 3000).as("doc_id"),
        concat(regexp_replace(col("text"), "data", "info"), lit(" extra"))
          .as("text"))
    val nearBatch = mutated.unionAll(fresh.limit(3))
    val near = Dedup.pairsAgainstCorpus(corpus, nearBatch,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("corpus_id")))
    Dedup.releaseCaches()
    assert(near.contains((3005L, 5L)),
      s"mutated copy not caught: ${near.toSeq}")
    assert(near.forall(_._1 == 3005L),
      s"fresh docs falsely matched: ${near.toSeq}")
  }

  test("minhash-LSH finds planted near-dups with high recall vs exact jaccard") {
    val truth = Dedup.jaccardPairs(planted, "doc_id", "text")
      .filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(truth.size >= 80, s"expected >=80 true near-dup pairs, got ${truth.size}")
    val found = Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9")
    // precision is 1.0 by construction (pairs are jaccard-verified)
    assert(found.subsetOf(
      Dedup.jaccardPairs(planted, "doc_id", "text")
        .filter(col("jaccard") >= 0.6)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("grouped candidate generation is pair-identical to the self-join " +
      "(r18: one band shuffle instead of two)") {
    // the self-join's pair set, computed straight from the signatures:
    // every a < b whose signatures agree on some full band
    val (grouped, joined) = try {
      val p = Dedup.minhashPlan(planted, "doc_id", "text", threshold = 0.6)
      val grouped = p.cand.collect().map(r => (r.getAs[Long]("id_a"),
        r.getAs[Long]("id_b"))).toSet
      val sigs = p.sig.select("id", "sig").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
      val rows = sigs.head._2.size / p.nBands
      def band(s: IndexedSeq[Long], k: Int) = s.slice(k * rows, (k + 1) * rows)
      val joined = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && (0 until p.nBands).exists(k => band(sa, k) == band(sb, k))
      } yield (a, b)).toSet
      (grouped, joined)
    } finally {
      Dedup.releaseCaches()
      spark.catalog.clearCache()
    }
    assert(grouped == joined,
      s"only-join=${(joined -- grouped).take(3)} " +
        s"only-group=${(grouped -- joined).take(3)}")
    assert(grouped.nonEmpty)
    assert(grouped.forall { case (a, b) => a < b })
  }

  test("clustered exact verify is row-identical to the pair-join verify") {
    // the sf-scale verify layout (components + per-cluster in-memory
    // maps) must reproduce the join layout's output EXACTLY — pairs,
    // integer counts, and the HALF_UP 6-digit jaccard rounding
    def run(arm: String): Set[(Long, Long, Long, Long, Double)] =
      try forcing(MinhashVerify -> arm) {
        Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6)
      }.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      finally {
        Dedup.releaseCaches()
        spark.catalog.clearCache()
      }
    val joined = run("join")
    val clustered = run("clustered")
    assert(clustered == joined,
      s"clustered verify diverged: only-join=${(joined -- clustered).take(3)}" +
        s" only-clustered=${(clustered -- joined).take(3)}")
    assert(joined.nonEmpty)
  }

  test("packed-byte estimate (pair-dense regime) is output-identical " +
      "to the full-signature estimate") {
    // past the corpus bound the estimate joins 64 B packed signatures
    // instead of 512 B full ones (PackSigBytes — recall-safe: packed
    // agreement >= true agreement, exact verify is the final word);
    // forcing the pair-dense arm must not change a single output row
    def run(): Set[(Long, Long, Long, Long, Double)] =
      try Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      finally { Dedup.releaseCaches(); spark.catalog.clearCache() }
    val full = run()
    val packed =
      forcing(MinhashCorpus -> "pairDense", MinhashVerify -> "join")(run())
    assert(packed == full,
      s"packed estimate diverged: only-full=${(full -- packed).take(3)} " +
        s"only-packed=${(packed -- full).take(3)}")
    assert(full.nonEmpty)
  }

  test("clustered verify giant-component fallback keeps output exact") {
    // capDocs=2 forces every real cluster through the join fallback arm
    // (planted clusters are larger) — the union of arms must still be
    // byte-identical
    val (joined, hybrid) =
      try {
        val plan = Dedup.minhashPlan(planted, "doc_id", "text",
          threshold = 0.6)
        (Dedup.exactVerifyJoin(plan.est, plan.sh, 0.6, plan.big)
          .collect().map(_.toSeq).toSet,
          Dedup.exactVerifyClustered(plan.est, plan.sh, 0.6, capDocs = 2)
            .collect().map(_.toSeq).toSet)
      } finally {
        Dedup.releaseCaches()
        spark.catalog.clearCache()
      }
    assert(hybrid == joined)
    assert(joined.nonEmpty)
  }

  test("minhashPairs caches are tracked and released by releaseCaches") {
    // start from a clean slate: earlier tests' identical minhash plans
    // would otherwise be deduped onto their still-cached relations
    Dedup.releaseCaches()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6).count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "expected the signature cache to be registered during the run")
    Dedup.releaseCaches()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "releaseCaches left signature relations pinned")
  }

  test("BigWindow.runningSum equals the classic window on a unique order") {
    import graft.ops.BigWindow
    import org.apache.spark.sql.expressions.Window
    // 3 partition keys (plus a NULL key group — its rows must survive
    // the layout's metadata joins) × ~10k rows with null values
    // sprinkled in — a unique ordering key so the comparison is
    // tie-free. Comparison joins use id alone (null p never
    // equality-joins).
    val df = spark.range(0, 30000).select(
      col("id"),
      when(col("id") % 53 === 0, lit(null).cast("string"))
        .otherwise((col("id") % 3).cast("string")).as("p"),
      when(col("id") % 97 === 0, lit(null).cast("decimal(10,2)"))
        .otherwise((col("id") % 1000).cast("decimal(10,2)")).as("v"))
    // full_outer on id + a count assert: a layout that DROPS null-key
    // rows must fail both ways, not fall out of an inner comparison
    def cmp(d: org.apache.spark.sql.DataFrame, dc: String,
        c: org.apache.spark.sql.DataFrame, cc: String): Unit = {
      assert(d.count() == 30000, s"$dc lost rows")
      val bad = d.select(col("id"), col(dc))
        .join(c.select(col("id"), col(cc)), Seq("id"), "full_outer")
        .filter(not(col(dc) <=> col(cc)))
      assert(bad.count() == 0, s"$dc divergence: ${bad.take(3).toSeq}")
    }
    val dist = BigWindow.runningSum(df, "p", Seq("id"), "v", "run",
      numRanges = 8)
    val w = Window.partitionBy("p").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, 0)
    cmp(dist, "run", df.withColumn("run_c", sum(col("v")).over(w)), "run_c")
    // runningCount = row_number over the same distributed shape
    val rc = BigWindow.runningCount(df, "p", Seq("id"), "rn", numRanges = 8)
    cmp(rc, "rn", df.withColumn("rn_c",
      row_number().over(Window.partitionBy("p").orderBy("id"))), "rn_c")
    // bounded trailing frame via carry rows
    val trail = BigWindow.trailingSum(df, "p", Seq("id"), "v", "t",
      frame = 7, numRanges = 8)
    val wt = Window.partitionBy("p").orderBy("id").rowsBetween(-6, 0)
    cmp(trail, "t", df.withColumn("t_c", sum(col("v")).over(wt)), "t_c")
    // lag across block boundaries via the same carry layout
    val lg = BigWindow.lagValue(df, "p", Seq("id"), "v", "l",
      offset = 3, numRanges = 8)
    val wl = Window.partitionBy("p").orderBy("id")
    cmp(lg, "l", df.withColumn("l_c", lag(col("v"), 3).over(wl)), "l_c")
    // lead = lag over the reversed order; carries flow backwards
    val ld = BigWindow.leadValue(df, "p", Seq("id"), "v", "nx",
      offset = 2, numRanges = 8)
    cmp(ld, "nx", df.withColumn("nx_c", lead(col("v"), 2).over(wl)), "nx_c")
    // a frame larger than the block slices triggers the classic
    // fallback — still exact
    val tiny = spark.range(0, 40).select(col("id"),
      lit("k").as("p"), col("id").cast("decimal(10,2)").as("v"))
    val bigFrame = BigWindow.trailingSum(tiny, "p", Seq("id"), "v", "t",
      frame = 25, numRanges = 8)
    val wbf = Window.partitionBy("p").orderBy("id").rowsBetween(-24, 0)
    assert(bigFrame.join(tiny.withColumn("t_c", sum(col("v")).over(wbf)),
        Seq("id", "p"))
      .filter(not(col("t") <=> col("t_c"))).count() == 0)
    BigWindow.releaseCaches()
  }

  test("BigWindow.frameStats: all three frames equal the classic window, " +
      "both distributed and fallback") {
    import graft.ops.BigWindow
    import org.apache.spark.sql.expressions.Window
    // NULL partition keys form their own window group — both
    // distributed layouts must keep them (the union-carry layout's
    // first cut dropped them in its inner metadata joins)
    val df = spark.range(0, 30000).select(
      col("id"),
      when(col("id") % 53 === 0, lit(null).cast("string"))
        .otherwise((col("id") % 3).cast("string")).as("p"),
      when(col("id") % 97 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 1000).cast("double")).as("v"))
    def classic(d: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("p").orderBy("id")
      d.withColumn("t_c", sum(col("v")).over(w.rowsBetween(-2, 0)))
        .withColumn("r_c", sum(col("v"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("fs_c", sum(col("v")).over(w.rowsBetween(0, 3)))
        // _fcnt counts NON-NULL values (it feeds frame avg, which
        // skips nulls) — the null-bearing v column pins that here
        .withColumn("fc_c", count(col("v")).over(w.rowsBetween(0, 3)))
    }
    // force the distributed layout regardless of the tiny input's size
    // estimate — this test exercises BOTH distributed implementations
    // (the single-exchange FrameStatsExec and the union-carry layout)
    // against the serial window
    for (arm <- Seq("distributed", "layout")) {
      val dist = forcing(BigWindowSize -> arm) {
        BigWindow.frameStats(df, "p", Seq("id"), "v",
          trail = 3, fwd = 3, numRanges = 8)
      }.select("id", "_trail", "_run", "_fsum", "_fcnt")
      // join on id alone: a null p would drop its own comparison row
      val bad = dist.join(classic(df).select("id", "t_c", "r_c",
          "fs_c", "fc_c"), Seq("id"), "full_outer")
        .filter(not(col("_trail") <=> col("t_c")) ||
          not(col("_run") <=> col("r_c")) ||
          not(col("_fsum") <=> col("fs_c")) ||
          not(col("_fcnt") <=> col("fc_c")))
      assert(bad.count() == 0,
        s"$arm divergence: ${bad.take(3).toSeq}")
    }
    // frames wider than the tiny block slices → classic fallback, exact
    val tiny = spark.range(0, 40).select(col("id"),
      lit("k").as("p"), col("id").cast("double").as("v"))
    val fb = forcing(BigWindowSize -> "distributed") {
      BigWindow.frameStats(tiny, "p", Seq("id"), "v",
        trail = 3, fwd = 25, numRanges = 8)
    }
    val wbf = Window.partitionBy("p").orderBy("id")
    val fbC = tiny
      .withColumn("fs_c", sum(col("v")).over(wbf.rowsBetween(0, 25)))
      .withColumn("fc_c", count(lit(1)).over(wbf.rowsBetween(0, 25)))
    assert(fb.join(fbC, Seq("id", "p"))
      .filter(not(col("_fsum") <=> col("fs_c")) ||
        col("_fcnt") =!= col("fc_c")).count() == 0)
    BigWindow.releaseCaches()
  }

  test("frameStats cardinality guard is unbiased on key-sorted input") {
    import graft.ops.BigWindow
    // 660K rows SORTED by key: the first 500K rows hold only ~9,100 of
    // the ~12,000 distinct keys, so a limit-based probe reads below the
    // 10,000-key guard while the true cardinality is above it — the bias
    // that previously let a high-cardinality key sail into the
    // seed-broadcast operator. The two-stage probe must confirm unbiased
    // and route to the classic window.
    val df = spark.range(0, 660000).select(col("id"),
      (col("id") / 55).cast("long").as("p"),
      (col("id") % 7).cast("double").as("v"))
    val cheap = df.select("p").limit(500000)
      .agg(approx_count_distinct(col("p"))).head().getLong(0)
    assert(cheap <= 10000, s"limited probe $cheap must read below the guard")
    def frames(d: org.apache.spark.sql.DataFrame) =
      forcing(BigWindowSize -> "distributed") {
        BigWindow.frameStats(d, "p", Seq("id"), "v", trail = 2, fwd = 1)
      }
    val routed = frames(df)
    assert(routed.queryExecution.analyzed.collect {
        case p: graft.plans.FrameStatsPlan => p }.isEmpty,
      "high-cardinality sorted key must route to the classic window")
    // below the (true) cardinality guard the zero-exchange operator
    // engages as before
    val engaged = frames(df.withColumn("p", (col("id") / 1000).cast("long")))
    assert(engaged.queryExecution.analyzed.collect {
        case p: graft.plans.FrameStatsPlan => p }.nonEmpty)
    // the statistic itself: unbiased (above the sorted-biased cheap
    // probe's ~9,100), stable across calls (memoized per analyzed plan)
    val c1 = graft.ops.CardStats.approxDistinct(df, "p")
    val c2 = graft.ops.CardStats.approxDistinct(df, "p")
    assert(c1 == c2 && c1 > 10000, s"distinct stat $c1")
    BigWindow.releaseCaches()
  }

  test("saltedCount really spreads a hot key and still counts exactly") {
    import graft.ops.Skew
    val hot = spark.range(0, 1000)
      .select(col("id").as("event_id"), lit("hot").as("k"))
    // the derived salt must fan one hot key over many buckets — that is
    // the entire point of the operator (a constant salt would silently
    // degrade to a plain group-by and the gate would still pass)
    val spread = hot.withColumn("_salt",
        pmod(xxhash64(struct(col("event_id"), col("k"))), lit(16)))
      .select("_salt").distinct().count()
    assert(spread >= 12, s"hot key landed in only $spread of 16 buckets")
    val out = Skew.saltedCount(hot, "k", 16).collect()
    assert(out.length == 1 && out(0).getLong(1) == 1000L)
  }

  test("as-of join: latest right row at or before each left time") {
    import spark.implicits._
    import graft.ops.AsofJoin
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val clicks = Seq((1L, 100L, ts(0)), (1L, 101L, ts(1)), (1L, 102L, ts(3)),
      (1L, 103L, ts(7)), (2L, 200L, ts(5)))
      .toDF("user_id", "event_id", "ts")
    val views = Seq((1L, ts(1), 10.0), (1L, ts(5), 20.0))
      .toDF("user_id", "ts", "v")
    val r = AsofJoin.asofJoin(clicks, views, "user_id", "ts")
      .select($"event_id", $"asof_v")
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r(100L).isEmpty)          // before any view
    assert(r(101L) == Some(10.0))    // equal timestamps match (inclusive)
    assert(r(102L) == Some(10.0))    // latest at-or-before
    assert(r(103L) == Some(20.0))
    assert(r(200L).isEmpty)          // user with no views
  }

  test("funnel: strict stage ordering — out-of-order events don't count") {
    import spark.implicits._
    import graft.ops.Funnel
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // user 2: purchase BEFORE click -> reaches click, not purchase
      (2L, ts(1), "view"), (2L, ts(2), "purchase"), (2L, ts(3), "click"),
      // user 3: click before view -> stalls at view
      (3L, ts(2), "click"), (3L, ts(5), "view"),
      // user 4: never views
      (4L, ts(1), "click"), (4L, ts(2), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val stages = Seq(
      "view" -> (col("event_type") === "view"),
      "click" -> (col("event_type") === "click"),
      "purchase" -> (col("event_type") === "purchase"))
    val r = Funnel.counts(ev, "user_id", "ts", stages).head()
    assert(r.getLong(0) == 3, r) // users 1,2,3 viewed
    assert(r.getLong(1) == 2, r) // 1 and 2 clicked after first view
    assert(r.getLong(2) == 1, r) // only 1 purchased after the click
    // equal timestamps count (>= semantics), matching the oracle form
    val same = Seq((9L, ts(1), "view"), (9L, ts(1), "click"),
      (9L, ts(1), "purchase")).toDF("user_id", "ts", "event_type")
    val r2 = Funnel.counts(same, "user_id", "ts", stages).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((1L, 1L, 1L)))
  }

  test("range join equals the brute-force filter on random intervals") {
    import spark.implicits._
    import graft.ops.RangeJoin
    val rnd = new scala.util.Random(11)
    val points = (1 to 300).map(i => (i.toLong, rnd.nextDouble() * 100))
      .toDF("pid", "v")
    val intervals = (1 to 40).map { i =>
      val lo = rnd.nextDouble() * 95
      (i.toLong, lo, lo + rnd.nextDouble() * 20)
    }.toDF("iid", "lo", "hi")
    val fast = RangeJoin.rangeJoin(points, "v", intervals, "lo", "hi", 8.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val slow = points.crossJoin(intervals)
      .filter($"v" >= $"lo" && $"v" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(fast == slow, s"${fast.size} vs ${slow.size}")
  }

  test("n-gram jaccard: planted dups found, capped variant stays exact") {
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text",
      n = 3, thrNum = 2, thrDen = 5)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (id, id+10000) mutation shares most of its 3-grams —
    // except very short docs, where swapping a few words legitimately
    // drops gram-Jaccard below the threshold (doc 74 has 10 words)
    val expected = planted.filter(col("doc_id") < 10000)
      .filter(size(split(trim(col("text")), "\\s+")) >= 40)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 10000)).toSet
    assert((expected -- got).isEmpty,
      s"missed planted near-dups: ${(expected -- got).take(5)}")
    // |∩| ≤ min(|A|,|B|) invariant
    assert(pairs.filter(col("n_common") >
      least(col("size_a"), col("size_b"))).count() == 0)
    // the doc-frequency-capped variant re-verifies exactly: counts match
    // the uncapped run for every surviving pair
    val capped = Dedup.ngramJaccardPairs(planted, "doc_id", "text",
      n = 3, thrNum = 2, thrDen = 5, maxDocFreq = Some(50))
    val full = pairs.select("id_a", "id_b", "n_common")
    val joined = capped.select("id_a", "id_b", "n_common")
      .join(full.withColumnRenamed("n_common", "full_common"),
        Seq("id_a", "id_b"))
    assert(joined.filter(col("n_common") =!= col("full_common")).count() == 0)
  }

  test("embed near-dup: LSH pairs equal brute force at the gate config") {
    val e = Tables.load(spark, sf, "embeddings")
    val tables = Similarity.intHyperplaneTables(64, 6, 8)
    val got = Similarity.intNearPairsExact(e, "vec_id", "embedding",
      tables, 2, 5)
    // brute-force integer ground truth (same quantization + filter)
    val vq = Similarity.quantizeCol(col("embedding"))
    val base = e.select(col("vec_id").as("id"), vq.as("vq"))
      .withColumn("n2", Similarity.intDot(col("vq"), col("vq")))
    val truth = base.select(col("id").as("id_a"), col("vq").as("va"),
        col("n2").as("na2"))
      .crossJoin(base.select(col("id").as("id_b"), col("vq").as("vb"),
        col("n2").as("nb2")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("qdot", Similarity.intDot(col("va"), col("vb")))
      .filter(col("qdot") > 0 &&
        col("qdot") * col("qdot") * 25 >= col("na2") * col("nb2") * 4)
      .select("id_a", "id_b")
    assert(truth.except(got.select("id_a", "id_b")).count() == 0)
    assert(got.select("id_a", "id_b").except(truth).count() == 0)
  }

  test("cluster closure: chained pairs collapse to one canonical id") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; {20,21,22}
    // via star 20-21, 20-22 — no pair list ever contains (1,4)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id_a", "id_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), c)
    // end-to-end: planted exact chain through minhash pairs drops to one
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "the quick brown fox jumps over the lazy dog again and once"),
      (50L, "completely different content that shares nothing at all here"))
      .toDF("doc_id", "text")
    val mp = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", mp)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.head == 1L && kept.contains(50L), kept.toSeq)
    assert(kept.length < 4, kept.toSeq)
  }

  test("simhash places mutated copies within small hamming distance") {
    val sigs = Dedup.simhash(planted, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sigs, maxDist = 12)
      .filter(col("id_b") === col("id_a") + 10000)
    // most planted pairs should collide in some 16-bit band and sit close
    assert(pairs.count() >= 60, s"only ${pairs.count()} planted pairs found")
    val joined = sigs.as("a").join(sigs.as("b"),
        col("b.id") === col("a.id") + 10000)
      .select(Dedup.hamming(col("a.simhash"), col("b.simhash")).as("d"))
    assert(joined.agg(avg("d")).head().getDouble(0) < 8.0)
  }

  test("ANN top-k recall vs brute force") {
    val e = Tables.load(spark, sf, "embeddings")
    val query = e.filter(col("vec_id") === 3)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = Similarity.topK(e, "vec_id", "embedding", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val tables = Similarity.hyperplaneTables(query.length, 4, 4)
    val ann = Similarity.annTopKTables(e, "vec_id", "embedding", query, 10,
        tables)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall < 0.5")
    // and the candidate set must be a strict subset of the corpus
    val cond = tables.map { planes =>
      val qb = Similarity.bucketOf(query, planes)
      Similarity.signBucket(col("embedding"), planes)
        .isin((qb +: planes.indices.map(i => qb ^ (1L << i))): _*)
    }.reduce(_ || _)
    val scanned = e.filter(cond).count()
    assert(scanned < e.count(), "ANN probed the whole corpus")
  }

  test("IVF ANN: kmeans cells, probe-limited search, sane recall") {
    val e = Tables.load(spark, sf, "embeddings")
    val query = e.filter(col("vec_id") === 11)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = Similarity.topK(e, "vec_id", "embedding", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (indexed, centroids) = Similarity.ivfIndex(e, "vec_id", "embedding",
      k = 8)
    val cached = indexed.cache()
    assert(cached.select("ivf_cell").distinct().count() <= 8)
    val ann = Similarity.ivfTopK(cached, "vec_id", "embedding", query, 10,
        centroids, nProbe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall < 0.4")
    // probe set is a strict subset of the corpus
    val probed = {
      val dists = centroids.zipWithIndex.map { case (c, i) =>
        (i, c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      val cells = dists.sortBy(_._2).take(3).map(_._1)
      cached.filter(col("ivf_cell").isin(cells.map(Int.box): _*)).count()
    }
    assert(probed < e.count(), "IVF probed the whole corpus")
    cached.unpersist()
  }

  test("gate-exact IVF: cells partition the corpus, probe-limited, recall") {
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.count()
    val query = e.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    // the full assignment (no probe filter): every vector lands in
    // exactly one of the 16 seed cells — replicate ivfTopKExact's cell
    // computation by probing ALL cells
    val all = Similarity.ivfTopKExact(e, "vec_id", "embedding", query,
      k = n.toInt + 1, nLists = 16, nProbe = 16)
    assert(all.count() == n, "cells must partition the corpus")
    assert(all.select("ivf_cell").distinct().count() <= 16)
    // probe-limited search scans a strict subset
    val probed = Similarity.ivfTopKExact(e, "vec_id", "embedding", query,
      k = n.toInt + 1, nLists = 16, nProbe = 4)
    assert(probed.count() < n, "IVF probed the whole corpus")
    // recall vs brute force at k=10 (deterministic — integer geometry);
    // measured 0.9 on this fixture, pinned with slack for k-boundary ties
    val exact = Similarity.topK(e, "vec_id", "embedding", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopKExact(e, "vec_id", "embedding", query,
        k = 10, nLists = 16, nProbe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"gate-exact IVF recall $recall < 0.5")
  }

  test("gate-exact PQ: codes in range, query-seed ADC is zero, recall " +
      "vs brute force") {
    val e = Tables.load(spark, sf, "embeddings")
    val query = e.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val n = e.count().toInt
    val full = Similarity.pqTopKExact(e, "vec_id", "embedding", query,
      k = n, m = 4, ksub = 8, candidates = n)
    // ADC distances are non-negative integers; the query vector itself
    // is seed #7, so its subvectors ARE its own codewords → adc 0
    val rows = full.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.values.forall(_ >= 0))
    assert(rows(7L) == 0L, s"query-seed adc ${rows(7L)}")
    // recall vs brute force at k=10 through the real candidate cut
    // (deterministic — integer geometry end to end)
    val exact = Similarity.topK(e, "vec_id", "embedding", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopKExact(e, "vec_id", "embedding", query,
        k = 10, m = 4, ksub = 8, candidates = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall < 0.5")
  }

  test("tf-idf: hand-computed weights, dense/sparse consistency, zero doc") {
    import graft.ops.TfIdf
    val docs = spark.createDataFrame(Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, ""))) // token-less doc: counts toward N, gets the zero vector
      .toDF("doc_id", "text")
    val n = 8
    val sp = TfIdf.sparse(docs, "doc_id", "text", n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // hand-check: apple appears 2x in doc 1, in 1 of 3 docs
    val appleB = {
      val row = TfIdf.sparse(docs.filter(col("doc_id") === 1), "doc_id",
        "text", n).filter(col("tf") === 2).head()
      row.getLong(1)
    }
    val (tfA, dfA, wA) = sp((1L, appleB))
    assert(tfA == 2 && dfA == 1)
    assert(math.abs(wA - 2 * (math.log(4.0 / 2.0) + 1)) < 1e-9)
    // banana: df = 2 (docs 1 and 2)
    val bananaEntries = sp.filter { case (_, (_, dfq, _)) => dfq == 2 }
    assert(bananaEntries.nonEmpty)
    // dense agrees with sparse everywhere, zero elsewhere
    val dense = TfIdf.vectors(docs, "doc_id", "text", n).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(dense.keySet == Set(1L, 2L, 3L))
    for ((id, vec) <- dense; b <- 0 until n) {
      val expect = sp.get((id, b.toLong)).map(_._3).getOrElse(0.0)
      assert(math.abs(vec(b) - expect) < 1e-5, s"doc $id bucket $b")
    }
    assert(dense(3L).forall(_ == 0.0f))
    // the df table is bucket-bounded -> broadcast back (no dfreq shuffle
    // of the corpus-sized tf relation)
    val plan = TfIdf.sparse(docs, "doc_id", "text", n)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("near-pair embedding dedup via bucket join") {
    val e = Tables.load(spark, sf, "embeddings").limit(200)
    // plant exact duplicates
    val dup = e.withColumn("vec_id", col("vec_id") + 1000)
    val planes = Similarity.hyperplanes(64, 8)
    val idx = Similarity.indexed(e.unionAll(dup), "embedding", planes)
    val pairs = Similarity.nearPairs(idx, "vec_id", "embedding", 0.999)
    // every planted duplicate pair lands in the same bucket → found
    assert(pairs.filter(col("id_b") === col("id_a") + 1000).count() == 200)
  }

  test("language id on a constructed multilingual corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat and the dog sat in a house that is red"),
      (2L, "el perro y el gato en la casa que es un animal"),
      (3L, "der Hund und die Katze ist von dem Haus mit ein Garten"),
      (4L, "le chat et le chien est dans la maison les animaux"),
      (5L, "我 的 猫 是 在 家 里 的 和 狗 不 一样")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("en", "es", "de", "fr", "zh"), s"got $got")
  }

  test("text metrics: deterministic and sane") {
    val d = Tables.load(spark, sf, "documents")
    val m = d.select(
      TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.subwordCount(col("text")).as("sw"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val r = m.agg(min("q"), max("q"), countDistinct("fp"), sum("t"),
      sum("sw")).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
    assert(r.getLong(2) == d.count()) // all distinct texts → distinct fps
    assert(r.getLong(4) >= r.getLong(3)) // subwords ≥ whitespace tokens
  }

  test("multimodal: real image header probe decodes true dimensions") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def img(fmt: String, w: Int, h: Int): Array[Byte] = {
      val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val out = new ByteArrayOutputStream()
      ImageIO.write(b, fmt, out)
      out.toByteArray
    }
    import spark.implicits._
    val rows = Seq(
      (1L, img("png", 123, 45)),
      (2L, img("jpeg", 64, 32)),
      (3L, img("gif", 7, 9)),
      (4L, img("bmp", 20, 10)),
      (5L, "not an image at all".getBytes("UTF-8")))
    val df = rows.toDF("id", "blob")
    val meta = Multimodal.withMediaMeta(df, "blob")
      .select($"id", $"media_meta.format", $"media_meta.width",
        $"media_meta.height")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(meta(1L) == (("png", Some(123), Some(45))))
    assert(meta(2L) == (("jpeg", Some(64), Some(32))))
    assert(meta(3L) == (("gif", Some(7), Some(9))))
    assert(meta(4L) == (("bmp", Some(20), Some(10))))
    assert(meta(5L) == (("bin", None, None)))
  }

  test("multimodal: decode is an expression, not an RDD detour") {
    val d = Tables.load(spark, sf, "documents").limit(10)
      .withColumn("blob", col("text").cast("binary"))
    val plan = Multimodal.withMediaMeta(d, "blob")
      .select("doc_id", "media_meta.byte_len")
      .queryExecution.optimizedPlan.toString
    // column pruning must reach through the expression: no full-row
    // RDD scan barrier (the old mapPartitions shape)
    assert(!plan.contains("ExistingRDD"), plan)
  }

  test("end-to-end training-data pipeline: ingest, dedup, filter, export") {
    import graft.engine.Engine
    // corpus: 100 originals + 100 exact copies + 100 mutated near-dups
    val base = Tables.load(spark, sf, "documents").limit(100)
      .select("doc_id", "text")
    val corpus = base
      .unionAll(base.withColumn("doc_id", col("doc_id") + 20000))
      .unionAll(base.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text",
          concat(regexp_replace(col("text"), "data", "info"), lit(" extra"))))

    // ingest into a transactional lake table (one snapshot)
    val dir = java.nio.file.Files.createTempDirectory("pipe").toString + "/t"
    val tbl = Engine.ctas(spark, dir, corpus)
    assert(tbl.toDF.count() == 300)

    // stage 1: exact dedup (hash clusters, keep min id)
    val exactDeduped = Dedup.dropExactDuplicates(tbl.toDF, "doc_id", "text")
    assert(exactDeduped.count() == 200) // the 100 exact copies collapse

    // stage 2: quality + token filters (column expressions, one pass)
    val scored = TextAnalysis.withMetrics(exactDeduped, "text")
      .filter(col("metrics.n_tokens") >= 3)
    assert(scored.count() > 0 && scored.count() <= 200)

    // stage 3: near-dup pairs -> connected components -> keep canonical
    val pairs = Dedup.minhashPairs(scored.select("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    val survivors = Dedup.dropNearDuplicates(
      scored.select("doc_id", "text"), "doc_id", pairs)
    // the semantic guarantee: no near-dup pair survives intact
    val sIds = survivors.select(col("doc_id").as("id_a"))
    val intact = pairs.join(sIds, Seq("id_a"))
      .join(survivors.select(col("doc_id").as("id_b")), Seq("id_b"))
    assert(intact.count() == 0, "a near-duplicate pair survived dedup")
    // canonical keeps are minimum ids: originals beat their mutations
    val mutatedSurvivorsWithBase = survivors
      .filter(col("doc_id") >= 10000 && col("doc_id") < 20000)
      .withColumn("base_id", col("doc_id") - 10000)
      .join(pairs.filter(col("id_b") >= 10000)
        .select(col("id_a").as("base_id"), col("id_b").as("doc_id")),
        Seq("base_id", "doc_id"), "left_semi")
    assert(mutatedSurvivorsWithBase.count() == 0)

    // stage 4: statistical selection signals on the survivors — LM
    // perplexity under a survivor-trained model, DSIR weights against
    // the original documents as target
    val model = TextAnalysis.lmTrain(survivors, "text")
    val ppl = TextAnalysis.lmPerplexity(survivors, model, "doc_id", "text")
    assert(ppl.filter(col("ppl") <= 0).count() == 0)
    assert(ppl.count() == survivors.count()) // every doc has >= 2 tokens
    val target = survivors.filter(col("doc_id") < 100)
    val dsir = TextAnalysis.importanceWeights(
      survivors, target, "doc_id", "text")
    val avgW = dsir.withColumn("in_target", col("doc_id") < 100)
      .groupBy("in_target").agg(avg(col("weight")).as("w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the selection signal points at the target distribution
    assert(avgW(true) > avgW(false))

    // stage 5: deterministic split, then export the clean corpus as a
    // Delta table; round-trip it
    val withSplits = graft.ops.TextPrep.withSplit(survivors, "doc_id")
    assert(withSplits.filter(col("split").isNull).count() == 0)
    val out = java.nio.file.Files.createTempDirectory("pipe_out")
      .toString + "/clean"
    Engine.copyTo(withSplits.drop("split"), out, format = "delta")
    val back = graft.core.DeltaImport.scan(spark, out)
    assert(back.count() == survivors.count())
  }

  test("multimodal: WAV header probe reads rate/channels without a codec") {
    // build a minimal valid RIFF/WAVE: PCM 16-bit, 8kHz mono, 0.5s
    val rate = 8000; val channels = 1; val bps = 2
    val dataLen = rate * bps / 2 // half a second
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
    b.put("fmt ".getBytes); b.putInt(16); b.putShort(1)
    b.putShort(channels.toShort); b.putInt(rate)
    b.putInt(rate * channels * bps) // byte rate
    b.putShort((channels * bps).toShort); b.putShort((bps * 8).toShort)
    b.put("data".getBytes); b.putInt(dataLen)
    val wav = b.array()
    assert(Multimodal.probeWav(wav).contains((8000, 1, 500L)))
    val (_, fmt, w, h, _) = Multimodal.decodeMeta(wav)
    assert(fmt == "wav" && w == 8000 && h == 1)
    // non-RIFF bytes stay 'bin'
    assert(Multimodal.decodeMeta("plain text".getBytes)._2 == "bin")
    // and the expression path agrees
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(wav)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("blob",
          org.apache.spark.sql.types.BinaryType))))
    val m = Multimodal.withMediaMeta(df, "blob")
      .select("media_meta.format", "media_meta.width").head()
    assert(m.getString(0) == "wav" && m.getInt(1) == 8000)
  }

  test("multimodal: malformed WAV headers terminate and classify as bin") {
    // negative chunk size used to advance the scan by 0 (infinite loop)
    val neg = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    neg.put("RIFF".getBytes); neg.putInt(56); neg.put("WAVE".getBytes)
    neg.put("JUNK".getBytes); neg.putInt(-8) // adversarial size
    assert(Multimodal.probeWav(neg.array()).isEmpty)
    // declared chunk size running past the buffer must not OOB-read
    val trunc = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    trunc.put("RIFF".getBytes); trunc.putInt(40); trunc.put("WAVE".getBytes)
    trunc.put("fmt ".getBytes); trunc.putInt(1 << 30)
    assert(Multimodal.probeWav(trunc.array()).isEmpty)
    // zero-size padding chunks still make progress
    val pad = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pad.put("RIFF".getBytes); pad.putInt(56); pad.put("WAVE".getBytes)
    pad.put("PAD ".getBytes); pad.putInt(0)
    pad.put("PAD ".getBytes); pad.putInt(0)
    assert(Multimodal.probeWav(pad.array()).isEmpty)
    // all three flow through decodeMeta as plain binary, no exception
    assert(Multimodal.decodeMeta(neg.array())._2 == "bin")
    assert(Multimodal.decodeMeta(trunc.array())._2 == "bin")
  }

  test("PII scrub: spans replaced by typed tags, counts audit the classes") {
    import spark.implicits._
    import graft.ops.TextPrep
    val df = Seq(
      ("mail bob.smith+x@corp.example.co soon", 1),
      ("card 4111 1111 1111 1111 expires", 2),
      ("ssn 078-05-1120 leaked", 3),
      ("call +1 (415) 555-0199 now", 4),
      ("host 192.168.101.7 down", 5),
      ("clean text, nothing here", 6)).toDF("text", "id")
    val out = df.select($"id",
        TextPrep.scrubPii($"text").as("s"),
        TextPrep.piiCounts($"text").as("c"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "mail <EMAIL> soon")
    assert(out(1).getString(1) == "card <CARD> expires")
    assert(out(2).getString(1) == "ssn <SSN> leaked")
    assert(out(3).getString(1) == "call <PHONE> now")
    assert(out(4).getString(1) == "host <IP> down")
    assert(out(5).getString(1) == "clean text, nothing here")
    val c0 = out(0).getStruct(2)
    assert(c0.getLong(0) == 1L) // one email
    assert(out(5).getStruct(2).toSeq.forall(_ == 0L))
  }

  test("repetition signals: duplicate lines measured by count and chars") {
    import spark.implicits._
    import graft.ops.TextPrep
    // 4 lines, "dup" twice: dup_line_frac = (4-3)/4; chars: dup(3)*2=6
    // of 3+6+3+4=16 total (blank line dropped)
    val df = Seq("dup\nlonger\n\ndup\nlast").toDF("text")
    val r = df.select(TextPrep.repetitionSignals(col("text")).as("m"))
      .select("m.n_lines", "m.dup_line_frac", "m.dup_line_char_frac")
      .head()
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 0.25)
    assert(r.getDouble(2) == 0.375)
    // degenerate: empty text
    val e = Seq("").toDF("text")
      .select(TextPrep.repetitionSignals(col("text")).as("m"))
      .select("m.n_lines", "m.dup_line_frac").head()
    assert(e.getLong(0) == 0L && e.getDouble(1) == 0.0)
  }

  test("boilerplate removal: corpus-frequent lines dropped, order kept") {
    import spark.implicits._
    import graft.ops.TextPrep
    val docs = Seq(
      (1L, "unique one\nCOOKIE BANNER\nbody a"),
      (2L, "COOKIE BANNER\nbody b"),
      (3L, "body c\nCOOKIE BANNER\n\nbody c\nend"),
      (4L, "twice shared\nno banner here"),
      (5L, "twice shared"),
      (6L, "")).toDF("id", "text")
    val out = TextPrep.removeBoilerplate(docs, "id", "text", minDocs = 3)
    val m = out.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "COOKIE BANNER" in 3 distinct docs -> dropped everywhere,
    // remaining lines keep their original order
    assert(m(1L) == ((3L, 2L, "unique one\nbody a")))
    assert(m(2L) == ((2L, 1L, "body b")))
    // within-doc repeats ("body c" twice in doc 3) are NOT corpus
    // boilerplate (df counts distinct docs), blank lines dropped
    assert(m(3L) == ((4L, 3L, "body c\nbody c\nend")))
    // a line in only 2 docs survives the minDocs = 3 threshold
    assert(m(4L) == ((2L, 2L, "twice shared\nno banner here")))
    assert(m(5L) == ((1L, 1L, "twice shared")))
    // empty doc stays present with empty output
    assert(m(6L) == ((0L, 0L, "")))
  }

  test("keywords: tf-desc with rare-first tiebreak, top-k per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry"),
      (3L, "cherry date")).toDF("id", "text")
    val out = TextAnalysis.keywords(docs, "id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: apple tf=2 first; banana (df=2) beats cherry (df=3) on the
    // rare-first tiebreak at tf=1
    assert(out((1L, 1)) == (("apple", 2L, 1L)))
    assert(out((1L, 2)) == (("banana", 1L, 2L)))
    assert(out((2L, 1)) == (("banana", 2L, 2L)))
    // doc 3: both tf=1 — date (df=1) ranks above cherry (df=3)
    assert(out((3L, 1)) == (("date", 1L, 1L)))
    assert(out((3L, 2)) == (("cherry", 1L, 3L)))
    assert(out.size == 6)
  }

  test("vocab: collection-frequency ranking with min-count floor") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "b b d")).toDF("id", "text")
    val out = TextAnalysis.vocab(docs, "id", "text", minCount = 2L,
      topN = 10).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    // c and d fall under the floor; b (cf 4) outranks a (cf 3)
    assert(out.toSeq == Seq(("b", 4L, 2L), ("a", 3L, 1L)))
    // topN truncates after the ordering
    assert(TextAnalysis.vocab(docs, "id", "text", 2L, 1)
      .collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("lm perplexity: laplace bigram scoring with OOV floor") {
    import spark.implicits._
    val ref = Seq((1L, "a b a b")).toDF("id", "text")
    val model = TextAnalysis.lmTrain(ref, "text")
    // bigrams (a,b)->2, (b,a)->1; unigram rows a->2, b->2 (w2 NULL)
    val m = model.collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(m == Set(("a", Some("b"), 2L), ("b", Some("a"), 1L),
      ("a", None, 2L), ("b", None, 2L)))
    val docs = Seq((10L, "a b c"), (11L, "z z"), (12L, "solo"))
      .toDF("id", "text")
    val out = TextAnalysis.lmPerplexity(docs, model, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // (a,b) seen: P=(2+1)/(2+2); (b,c) unseen: P=(0+1)/(2+2);
    // avg_nll = (ln(4/3)+ln 4)/2, ppl = sqrt(16/3)
    assert(out(10L) == ((2L, 1L, 0.836988, 2.309401)))
    // fully OOV gram: smoothing floor P = 1/(0+V) with V=2
    assert(out(11L) == ((1L, 0L, 0.693147, 2.0)))
    // single-token doc has no bigrams → absent from the score relation
    assert(!out.contains(12L))
    assert(out.size == 2)
  }

  test("importance weights: hand formula, target-like docs score higher") {
    import spark.implicits._
    val docs = Seq((1L, "a b", "en"), (2L, "c c", "xx"))
      .toDF("id", "text", "lang")
    val out = TextAnalysis.importanceWeights(docs,
        docs.filter($"lang" === "en"), "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // features (uni+bi): d1 {a, b, "a b"}, d2 {c, c, "c c"};
    // t_tot=3, q_tot=6, B=1024, all buckets distinct for these strings
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = 3 * (math.log(2.0 / 1027) - math.log(2.0 / 1030))
    val d2 = 2 * (math.log(1.0 / 1027) - math.log(3.0 / 1030)) +
      (math.log(1.0 / 1027) - math.log(2.0 / 1030))
    assert(out(1L) == ((3L, r6(d1))))
    assert(out(2L) == ((3L, r6(d2))))
    // the selection signal: the target-member document outranks
    assert(out(1L)._2 > out(2L)._2)
  }

  test("chunking: full coverage, overlap, ragged tail") {
    import spark.implicits._
    import graft.ops.TextPrep
    val words = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words), (2L, "only three words"), (3L, "  "))
      .toDF("doc_id", "text")
    val chunks = TextPrep.chunk(df, "doc_id", "text",
        chunkTokens = 10, overlap = 4)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: starts 0,6,12,18 → 4 chunks (a start at 24 would be a pure
    // subset of the 18-chunk: no new tokens past n − overlap = 21);
    // doc 2: 1 chunk; doc 3: none
    assert(chunks.count(_.getLong(0) == 1L) == 4)
    assert(chunks.count(_.getLong(0) == 2L) == 1)
    assert(!chunks.exists(_.getLong(0) == 3L))
    val first = chunks.find(r => r.getLong(0) == 1L && r.getInt(1) == 0).get
    assert(first.getString(2) == (1 to 10).map(i => s"w$i").mkString(" "))
    assert(first.getLong(3) == 10L)
    val second = chunks.find(r => r.getLong(0) == 1L && r.getInt(1) == 1).get
    // overlap: chunk 1 starts at token 7 (4 shared with chunk 0)
    assert(second.getString(2).startsWith("w7 w8 w9 w10 w11"))
    // ragged tail: the last kept chunk absorbs the remainder
    val tail = chunks.find(r => r.getLong(0) == 1L && r.getInt(1) == 3).get
    assert(tail.getString(2) == (19 to 25).map(i => s"w$i").mkString(" ")
      && tail.getLong(3) == 7L)
    // no chunk is a subset of another (the duplicate-text guard)
    val texts = chunks.filter(_.getLong(0) == 1L).map(_.getString(2))
    for (a <- texts; b <- texts if a != b)
      assert(!b.contains(a), s"chunk '$a' duplicated inside '$b'")
    // every token of doc 1 appears in at least one chunk
    val covered = chunks.filter(_.getLong(0) == 1L)
      .flatMap(_.getString(2).split(" ")).toSet
    assert(covered == (1 to 25).map(i => s"w$i").toSet)
  }

  test("dataset split: deterministic, complete, partitioning-independent") {
    import graft.ops.TextPrep
    val d = Tables.load(spark, sf, "documents").limit(300)
      .select("doc_id")
    val a = TextPrep.withSplit(d, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // complete: every row lands in exactly one named split
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a.size == 300)
    // fractions in the statistically plausible band for n=300
    val nTrain = a.values.count(_ == "train")
    assert(nTrain > 200 && nTrain < 280, s"train=$nTrain")
    // partitioning/run independence: same assignment after a reshuffle
    val b = TextPrep.withSplit(d.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // key coherence: a different table with the same keys agrees
    val other = d.withColumn("noise", lit("x"))
    val c = TextPrep.withSplit(other, "doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == c)
    // bad fractions rejected
    intercept[IllegalArgumentException] {
      TextPrep.splitColumn(col("doc_id"), Seq("train" -> 0.5))
    }
  }

  test("decontamination: flags eval overlap, broadcast plan, keep-side") {
    import graft.ops.TextPrep
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence with no overlap here at all"),
      (3L, "something quick brown fox jumps right past us"),
      (4L, "short text")).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "QUICK Brown fox JUMPS high")).toDF("doc_id", "text")
    val rep = TextPrep.contamination(corpus, evalSet, "doc_id", "text",
      n = 4)
    val byId = rep.select("doc_id", "eval_gram_hits", "contaminated")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // docs 1 and 3 share the 4-gram "quick brown fox jumps" (case/space
    // normalized); 2 and 4 share nothing
    assert(byId(1L) == (1L, true) && byId(3L) == (1L, true))
    assert(byId(2L) == (0L, false) && byId(4L) == (0L, false))
    // keep-side drops exactly the flagged rows, schema unchanged
    val kept = TextPrep.decontaminate(corpus, evalSet, "doc_id", "text",
      n = 4)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(2L, 4L))
    // scale shape: eval grams broadcast, no cartesian anywhere
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Cartesian"), plan)
  }

  test("bloom decontamination: no false negatives vs exact; equal at " +
      "tight fpp; codegen'd sketch test on the corpus path") {
    import graft.ops.TextPrep
    // real fixture: 500 docs with genuine near-dup structure; eval set =
    // a slice of the corpus, so contamination is guaranteed non-trivial
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val evalSet = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), col("text"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exact = asMap(TextPrep.contamination(docs, evalSet,
      "doc_id", "text", n = 8))
    val bloom = asMap(TextPrep.contaminationBloom(docs, evalSet,
      "doc_id", "text", n = 8, fpp = 1e-6))
    assert(exact.nonEmpty && exact.values.exists(identity),
      "fixture must actually contain contamination")
    // the Bloom guarantee: every exactly-contaminated doc is flagged
    val missed = exact.filter { case (id, c) => c && !bloom(id) }
    assert(missed.isEmpty, s"false negatives: ${missed.keys.take(5)}")
    // the error direction is one-sided and SMALL: the fixture runs
    // ~5·10⁵ membership tests, so at fpp=1e-6 a stray false-positive
    // doc is possible (observed: one) but must stay a handful — the
    // sketch is deterministic for a fixed input set, so this bound is
    // stable, not flaky
    val excess = bloom.count(_._2) - exact.count(_._2)
    assert(excess >= 0 && excess <= 3, s"excess flagged: $excess")
    // and the corpus-side membership test runs inside codegen (no
    // fallback marker for the expression in the plan)
    val plan = TextPrep.contaminationBloom(docs, evalSet,
        "doc_id", "text", n = 8, fpp = 1e-4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("sequence packing: conserving, deterministic, two-phase cumsum") {
    import graft.ops.TextPrep
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, 1L + (i * 7) % 50))
    val df = rows.toDF("id", "tok")
    val budget = 128L
    val packed = TextPrep.packSequences(df, "id", "tok", budget,
      blocks = 16)
    val got = packed.select("id", "tok", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length == 400)
    // offsets always inside the budget; pack ids contiguous from 0
    assert(got.forall(_._4 >= 0) && got.forall(_._4 < budget))
    val total = rows.map(_._2).sum
    assert(got.map(_._3).max == (total - 1) / budget)
    // equivalence to the naive single-order prefix sum over
    // (hash % blocks, hash, id) — the semantics the oracle replays
    def h(id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        id.toString.getBytes("UTF-8")).substring(0, 15), 16)
    var cum = 0L
    val expect = rows.sortBy { case (id, _) =>
      (h(id) % 16, h(id), id) }.map { case (id, t) =>
      val r = (id, t, cum / budget, cum % budget); cum += t; r
    }
    assert(got.sortBy(_._1).toSeq == expect.sortBy(_._1))
    // deterministic under physical re-partitioning
    val again = TextPrep.packSequences(df.repartition(13), "id", "tok",
        budget, blocks = 16)
      .select("id", "pack_id", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(again.toSeq ==
      got.map(t => (t._1, t._3, t._4)).sortBy(_._1).toSeq)
    // scale shape: the per-row window is PARTITIONED by block (two-phase
    // prefix sum) — the only unpartitioned window runs over the tiny
    // per-block aggregate, never the full input. In the spec string a
    // partitioned window lists _blk as a partition column followed by
    // the _h ASC ordering.
    val plan = packed.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("windowspecdefinition\\(_blk#\\d+L?, _h#".r
      .findFirstIn(plan).nonEmpty, plan)
  }

  test("hash sampling: deterministic, split-consistent, stratified") {
    import graft.ops.TextPrep
    import spark.implicits._
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").limit(400)
    val kept = TextPrep.sampleByHash(d, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // plausible size band for 400 rows at 30%
    assert(kept.size > 70 && kept.size < 170, s"kept=${kept.size}")
    // determinism + cross-table key agreement: same keys kept from a
    // differently-shaped table with the same key column
    val other = d.withColumn("extra", lit(1)).repartition(5)
    val kept2 = TextPrep.sampleByHash(other, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == kept2)
    // nested: a 10% sample is a subset of a 30% sample (same hash axis)
    val kept10 = TextPrep.sampleByHash(d, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept10.subsetOf(kept))
    // stratified: fraction-1 stratum keeps everything, fraction-0
    // default drops unlisted strata entirely
    val strat = TextPrep.sampleStratified(d, "doc_id", "lang",
        Map("en" -> 1.0), default = 0.0)
      .select("lang").collect().map(_.getString(0))
    assert(strat.nonEmpty && strat.forall(_ == "en"))
    assert(strat.length ==
      d.filter(col("lang") === "en").count())
    intercept[IllegalArgumentException] {
      TextPrep.sampleByHash(d, "doc_id", 1.5)
    }
  }

  test("jaccardPairs refuses production-sized inputs (all-pairs guard)") {
    import spark.implicits._
    val big = spark.range(Dedup.jaccardPairsMaxRows + 1)
      .select(col("id").as("doc_id"), lit("some text").as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(big, "doc_id", "text").count()
    }
    assert(e.getMessage.contains("all-pairs"))
  }

  test("multimodal: stub decode plumbing and frame sampling") {
    val d = Tables.load(spark, sf, "documents").limit(50)
      .withColumn("blob", col("text").cast("binary"))
    val meta = Multimodal.withMediaMeta(d, "blob")
    assert(meta.schema.fieldNames.contains("media_meta"))
    val r = meta.select("media_meta.byte_len", "media_meta.format").collect()
    assert(r.forall(_.getLong(0) > 0))
    assert(r.forall(_.getString(1) == "bin"))
    // decode is deterministic
    val c1 = meta.select("media_meta.checksum").collect().map(_.getLong(0))
    val c2 = Multimodal.withMediaMeta(d, "blob")
      .select("media_meta.checksum").collect().map(_.getLong(0))
    assert(c1.sameElements(c2))
    val frames = Multimodal.sampleFrames(d, "doc_id", "blob")
    assert(frames.groupBy("doc_id").count()
      .agg(max("count")).head().getLong(0) <= 9)
    val emb = Multimodal.fakeEmbed(d, "blob")
    assert(emb.select(size(col("embedding"))).head().getInt(0) == 8)
  }

  test("global line dedup keeps the FIRST occurrence only") {
    import spark.implicits._
    import graft.ops.TextPrep
    val docs = Seq(
      (1L, "shared header\nbody a\nrepeat me\nrepeat me"),
      (2L, "shared header\nbody b"),
      (3L, "body c\n\nshared header\nbody c"),
      (4L, ""),
      (5L, null)).toDF("id", "text") // null = zero lines, not -1/null
    val out = TextPrep.dedupLinesGlobal(docs, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "shared header" survives ONLY in doc 1 (smallest (id, pos));
    // within-doc repeats keep the first copy too
    assert(out(1L) == ((4L, 3L, "shared header\nbody a\nrepeat me")))
    assert(out(2L) == ((2L, 1L, "body b")))
    // blank line dropped; "body c" first at pos 0 survives, pos 2 copy
    // removed; doc-3's "shared header" copy removed
    assert(out(3L) == ((3L, 1L, "body c")))
    assert(out(4L) == ((0L, 0L, "")))
    assert(out(5L) == ((0L, 0L, ""))) // removeBoilerplate's null contract
  }

  test("rrf fusion: hand-computed scores, n_lists, missing-doc convention") {
    import spark.implicits._
    import graft.ops.Hybrid
    // list A ranks docs 10,20,30; list B ranks 20,10,40
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("doc_id", "rank")
    val out = Hybrid.rrfFuse(Seq(a, b), "doc_id", kRrf = 60, k = 10,
        roundTo = 9).collect()
      .map(r => r.getLong(1) ->
        ((r.getInt(0), r.getDouble(2), r.getInt(3)))).toMap
    def rrf(ranks: Seq[Int]): Double = // Spark round() = HALF_UP on the
      BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum) // shortest decimal
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(20L)._2 == rrf(Seq(2, 1)) && out(10L)._2 == rrf(Seq(1, 2)))
    assert(out(20L)._3 == 2 && out(30L)._3 == 1)
    // 10 and 20 tie on {1,2} — the id breaks it; one-list docs trail
    assert(out(10L)._1 == 1 && out(20L)._1 == 2)
    assert(out(30L)._1 == 3 && out(40L)._1 == 4) // 1/63 ties, id order
  }

  test("ranked/rrfFuse refuse an unbounded input loudly (the " +
      "partitionless-window scale guard); hybridSearch returns idCol") {
    import spark.implicits._
    import graft.ops.Hybrid
    val big = spark.range(0, Hybrid.fuseMaxRows + 1)
      .select(col("id").as("doc_id"), (col("id") % 97).as("score"))
    val e1 = intercept[IllegalArgumentException](
      Hybrid.ranked(big, "doc_id", "score"))
    assert(e1.getMessage.contains("top-k"))
    val bigRanks = spark.range(0, Hybrid.fuseMaxRows + 1)
      .select(col("id").as("doc_id"), lit(1).as("rank"))
    val e2 = intercept[IllegalArgumentException](
      Hybrid.rrfFuse(Seq(bigRanks), "doc_id"))
    assert(e2.getMessage.contains("top-k"))
    // custom id column name round-trips through hybridSearch
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("item_id"), col("text"), col("embedding"))
    val qvec = emb.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val out = Hybrid.hybridSearch(corpus, "item_id", "text", "embedding",
      "merge sort", qvec, k = 5, legK = 10)
    assert(out.columns.contains("item_id"), out.columns.toSeq)
  }

  test("hybridSearch equals rrfFuse of its two legs") {
    import graft.ops.{Bm25, Hybrid}
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "embedding")
    val qvec = emb.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val fused = Hybrid.hybridSearch(corpus, "doc_id", "text", "embedding",
      "merge sort batch", qvec, k = 10, legK = 20)
    val lex = Hybrid.ranked(Bm25.searchOne(corpus, "doc_id", "text",
      "merge sort batch", k = 20), "doc_id", "score")
    val sem = Hybrid.ranked(Similarity.topK(corpus, "doc_id", "embedding",
      qvec, 20), "doc_id", "cosine")
    val manual = Hybrid.rrfFuse(Seq(lex.select("doc_id", "rank"),
      sem.select("doc_id", "rank")), "doc_id", k = 10)
    assert(fused.collect().toSeq == manual.collect().toSeq)
    assert(fused.count() == 10)
  }
}
