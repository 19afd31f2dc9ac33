package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture (100 TB): every stage is a column-expression map, an
  * explode, or a key-partitioned shuffle — candidate generation is
  * banded-LSH (shuffle on band hash, never an all-pairs product), and
  * verification joins only the candidate pairs. Signature width/band
  * counts are the standard recall/precision knobs.
  */
object Dedup {

  /** Signature relations cached by [[minhashPairs]]. They must outlive
    * the call (the returned plan references them lazily), so they are
    * tracked here and released by [[releaseCaches]] once the pairs have
    * been materialized — a long-lived session would otherwise pin a
    * growing set of signature tables in executor memory. */
  private val liveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def trackedCache(df: DataFrame): DataFrame = {
    val c = df.cache()
    liveCaches.add(c)
    c
  }

  /** Unpersist every signature cache created by [[minhashPairs]] in this
    * session. Call after the returned pairs DataFrame has been consumed
    * (written, collected, or counted); plans derived from it recompute
    * from source afterwards instead of reading the cache. */
  private val liveRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.rdd.RDD[_]]()

  def releaseCaches(): Unit = {
    // best-effort: a queued pin whose SparkContext has since stopped
    // (suite teardown) has nothing left to free — skip it instead of
    // failing the release of the live ones
    var df = liveCaches.poll()
    while (df != null) {
      if (!df.sparkSession.sparkContext.isStopped)
        df.unpersist(blocking = false)
      df = liveCaches.poll()
    }
    var r = liveRdds.poll()
    while (r != null) {
      if (!r.sparkContext.isStopped) r.unpersist(blocking = false)
      r = liveRdds.poll()
    }
  }

  // ------------------------------------------------------------- exact

  /** Exact duplicate clusters keyed by content hash: one row per distinct
    * content with the canonical (min) id and the duplicate count.
    * The content hash runs in the scan stage's partial aggregate; a
    * single-row-group input would hash the whole corpus on one core, so
    * the size-gated fan-out (Par.fanOutIfBulky — no-op at gate scale
    * and on real multi-file tables) buys the hash full parallelism. */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.fanOutIfBulky(df)
      .groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** [[exactClusters]] on a cheaper 128-bit key: two independently
    * seeded xxhash64 runs instead of md5. Clusters are identical in
    * expectation — 128 bits keeps the birthday bound negligible at any
    * realistic corpus (a single 64-bit key would expect collisions —
    * silent false merges — past ~10⁹ distinct documents, which a
    * 100 TB corpus exceeds), while xxhash64 costs a fraction of md5
    * per byte AND the shuffle key is two longs instead of a 32-char
    * hex string. The md5 form stays for callers that need a portable
    * content address. */
  def exactClustersFast(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Par.fanOutIfBulky(df)
      .groupBy(xxhash64(col(textCol)).as("h1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col(textCol)).as("h2"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** Keep one row per distinct content (first by id). */
  def dropExactDuplicates(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn")
  }

  // ----------------------------------------------------------- minhash

  /** Shingle set + MinHash signature in one pass — see [[ShingleMinhash]]
    * for the kernel. Returns struct(sh: array<long>, sig: array<long>).
    * Normalization (lowercase, whitespace collapse) stays in the plan so
    * Catalyst sees it. */
  def shingleSig(text: Column, k: Int = 5, numHashes: Int = 64): Column =
    org.apache.spark.sql.GraftBridge.column(ShingleMinhash(
      org.apache.spark.sql.GraftBridge.eagerExpression(
        regexp_replace(lower(text), "\\s+", " ")), k, numHashes))

  /** Shingle set alone (distinct hashes; sorted). */
  def shingles(text: Column, k: Int = 5): Column =
    shingleSig(text, k, numHashes = 1).getField("sh")

  /** |∩| of two sorted shingle sets — see [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(SortedIntersectCount(
      org.apache.spark.sql.GraftBridge.eagerExpression(a),
      org.apache.spark.sql.GraftBridge.eagerExpression(b)))

  /** Band count tuned to corpus size: small corpora take the
    * high-recall narrow bands (r = 2 rows/band → P(miss a jaccard-0.5
    * pair) ≈ 1e-4, and the candidate blow-up narrow bands cause is
    * harmless when all-pairs is small anyway); at scale, r = 4 keeps the
    * candidate set ~100× smaller — the standard LSH recall/cost dial. */
  def adaptiveBands(nDocs: Long, numHashes: Int = 64): Int = {
    val target = if (nDocs <= 2048) 32 else 16
    // largest divisor of numHashes not exceeding the target (the
    // target itself for the default 64), so the auto path never trips
    // the bands-divide-numHashes requirement on custom signature sizes
    (target to 1 by -1).find(numHashes % _ == 0).get
  }

  /** Near-duplicate pairs via banded MinHash-LSH:
    * shingle → signature → band hashes → shuffle on (band, hash) →
    * within-bucket pairs → exact-Jaccard verify (on the shingle sets) →
    * keep pairs ≥ threshold. Returns (id_a, id_b, n_common, n_union,
    * jaccard) with a < b; the integer set sizes make the result
    * verifiable without any float comparison (threshold as a rational:
    * n_common ≥ threshold·n_union, exact for thresholds representable at
    * the fixture's set sizes). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 0, shingleK: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    val plan = minhashPlan(df, idCol, textCol, numHashes, bands,
      shingleK, threshold)
    val spark = df.sparkSession
    val mode = spark.conf
      .get("spark.graft.minhash.clusteredVerify", "auto")
    // Dispatch, settled by measurement across two decades
    // (BASELINE "Round 10: q_dedup_minhash ledgered"):
    //  - sf10 (500k docs / 30.8M surviving pairs): pair-join 44.0 s vs
    //    clustered 63.2 s — the join path is whole-stage-codegen'd end
    //    to end and its array shuffle compresses well, so it wins while
    //    the O(pairs)-array shuffle fits a node;
    //  - sf100 (5M docs / 612M candidates): the O(pairs × payload)
    //    shuffle is a measured ~150-300 GB and DIED on disk ("No space
    //    left on device"), while the clustered layout's bound — O(docs)
    //    shingle arrays + O(pairs) bare ids — completes (BASELINE
    //    round-12 minhash section).
    // So "auto" switches to the clustered layout past the same
    // corpus-size dial that retires the SHJ hints
    // (spark.graft.minhash.shjDocsBound, default 1M docs).
    val clustered = mode == "always" ||
      (mode == "auto" && plan.nDocs > spark.conf
        .get("spark.graft.minhash.shjDocsBound", "1000000").toLong)
    if (clustered) exactVerifyClustered(plan.est, plan.sh, threshold)
    else exactVerifyJoin(plan.est, plan.sh, threshold, plan.big)
  }

  /** The minhash pipeline's staged internals — one object so the
    * stage ledgers (BASELINE round 10 and round-18 addendum 3) time
    * the REAL stages and the auto-dispatch above composes them without
    * recomputation. `sh`/`sig` branch off one cached signature table;
    * `est` is the post-banding, post-estimate candidate list. */
  private[graft] final case class MinhashPlan(sig: DataFrame,
      sh: DataFrame, nDocs: Long, nBands: Int, big: Boolean,
      cand: DataFrame, est: DataFrame)

  private[graft] def minhashPlan(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5, threshold: Double = 0.6): MinhashPlan = {
    // the O(L·k) signature kernel is the expensive per-row stage: fan it
    // out when the source is under-partitioned (single-row-group files)
    val src = Par.fanOut(df)
    val sig = trackedCache(src.select(col(idCol).as("id"),
        shingleSig(col(textCol), shingleK, numHashes).as("ss"))
      .select(col("id"), col("ss.sh").as("sh"), col("ss.sig").as("sig")))
    val sh = sig.select(col("id"), col("sh"))
    // materialize eagerly: the banding self-join and both verification
    // joins branch off this relation, and racing branches would compute
    // the signatures twice before the cache fills (measured 2x). At
    // warehouse scale this is "checkpoint the signature table". The
    // count doubles as the corpus-size dial below — callers pass
    // bands = 0 (auto) so the recall/cost dial reuses this one job
    // instead of scanning the input again. NOTE the cache outlives the
    // call (the returned plan still references it lazily): call
    // Dedup.releaseCaches() once the pairs are consumed — the caches are
    // tracked, and a long-lived session would otherwise pin them.
    val nDocs = sig.count()
    val nBands = if (bands > 0) bands else adaptiveBands(nDocs, numHashes)
    require(numHashes % nBands == 0, "bands must divide numHashes")
    val r = numHashes / nBands
    // band rows carry ONLY (band, bhash, id): the candidate-generation
    // shuffle must never move the shingle payloads — at 100 TB the
    // signatures are ~1000x smaller than the documents.
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("sig"), b * r + 1, lit(r)).cast("array<string>")))))
        .as(Seq("band", "bhash")))
    // Join-strategy dial, sized from the one count we already ran:
    // small relations broadcast (the planner's choice, keep it); in the
    // MID regime prefer SHUFFLE_HASH over the default sort-merge for
    // the joins whose BUILD side is narrow — band keys + ids (24 B/row),
    // bare pair lists (16 B/row), bare signatures (8 + 8·numHashes
    // B/row) — while sort-merge would sort nDocs·bands rows on both
    // sides (measured 41% of end-to-end at 500k docs). An explicit hint
    // bypasses Spark's own build-side size guard, so it is applied ONLY
    // to those fixed-width relations, never to a join output carrying
    // signature/shingle payloads (hinting one of those OOM'd the
    // 500k-doc run), AND only below a corpus-size bound: per-row width
    // is not per-build size — at 5M docs the candidate list is 600M+
    // pairs, whose per-partition hash build is ~1 GB and ABORTED a
    // 64 GiB session ("can't acquire 536870912 bytes to build hash
    // relation", the same fatal class the disk-regime bench policy
    // guards against for AQE conversions). Past the bound every join
    // reverts to the planner's spillable sort-merge — robust over peak,
    // the engine's standing disk-regime declaration.
    // Dial: spark.graft.minhash.shjDocsBound (docs; 500k measured good
    // at 8 GiB, 5M measured fatal at 64 GiB — default splits the decade).
    val shjDocsBound = df.sparkSession.conf
      .get("spark.graft.minhash.shjDocsBound", "1000000").toLong
    val big = nDocs > 20000 && nDocs <= shjDocsBound
    def shj(d: DataFrame): DataFrame = if (big) d.hint("shuffle_hash") else d
    // Candidate pairs per bucket (r18, guide §2.3/§2.4): ONE hash
    // shuffle of the band rows + per-bucket pair enumeration, replacing
    // the r17 self-join which moved the SAME band relation twice (both
    // join sides) and paid a hash build (broadcast job at gate scale,
    // SHJ/SMJ build past it) to rediscover bucket co-membership the
    // groupBy establishes directly. sort_array makes the bucket order
    // deterministic and gives id_a < id_b by construction; the pair set
    // is identical to the join's (same bucket ⟺ same (band,bhash) key),
    // and the cross-band dropDuplicates is unchanged. Enumeration
    // streams per LEFT element (explode of a slice), so per-row memory
    // is O(bucket), not O(bucket²) — a mega-bucket degrades exactly
    // like the join's colocated probe did. Measured: the candidate
    // stage is 14% cheaper than the self-join at sf0.1 and 23% at sf10
    // (BASELINE round-18 addendum 3, OPTIMIZATION_r18 §2).
    val cand = banded.groupBy("band", "bhash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // two-stage verification: (1) cheap signature-agreement estimate of
    // jaccard (64 longs per side) discards most false candidates, (2)
    // exact jaccard on the full shingle sets only for survivors.
    // The estimate stage exists to shrink the candidate set BEFORE the
    // fat shingle payloads join — worth two extra joins only when the
    // candidate set is large. Small corpora (everything broadcasts
    // anyway, candidates are thousands not billions) go straight to the
    // exact verify: same output (the exact filter is the final word
    // either way), two fewer stages. The cutoff matches the narrow-band
    // regime of adaptiveBands: candidate count grows ~quadratically in
    // corpus size (measured: 5k docs → 169k candidates, of which the
    // estimate kills 92% before the shingle payloads join — skipping it
    // there cost 67% end-to-end), so only genuinely tiny corpora skip.
    val est = if (nDocs <= 2048) cand else {
      // The signature projection gets its own cache so the optimizer
      // sees the narrow (~0.5 KB/row) relation's stats, not the fat
      // shingle payload's: below the broadcast threshold both estimate
      // joins become broadcast-hash (no shuffle); at warehouse scale
      // the stats exceed it and the same plan degrades gracefully to
      // shuffle joins.
      // positional-agreement kernel (one primitive pass per pair) and an
      // integer cut: agree/numHashes ≥ thr−0.2 ⟺ agree ≥ ⌈(thr−0.2)·n⌉
      val minAgree = math.ceil((threshold - 0.2) * numHashes).toLong
      if (nDocs <= shjDocsBound) {
        val sigOnly = trackedCache(sig.select(col("id"), col("sig")))
        shj(cand)
          .join(sigOnly.select(col("id").as("id_a"), col("sig").as("sig_a")),
            Seq("id_a"))
          .join(shj(sigOnly.select(col("id").as("id_b"), col("sig").as("sig_b"))),
            Seq("id_b"))
          .filter(org.apache.spark.sql.GraftBridge.column(ArrayAgreeCount(
            org.apache.spark.sql.GraftBridge.eagerExpression(col("sig_a")),
            org.apache.spark.sql.GraftBridge.eagerExpression(col("sig_b"))))
            >= minAgree)
          .select("id_a", "id_b")
      } else {
        // Pair-dense regime: the estimate join's shuffled intermediate
        // is O(pairs × signature payload) — measured ~300 GB (disk
        // wall) at sf100's 612M candidates with the full 512 B
        // signature. Quantize-and-pack each slot to its low byte
        // (PackSigBytes, 64 B payload, 8× less shuffle). Recall-safe:
        // packed agreement ≥ true agreement, so the cut can only ADMIT
        // extra pairs, and the exact-jaccard verify downstream is the
        // final word — the operator's output is bit-identical.
        val sigP = trackedCache(sig.select(col("id"),
          org.apache.spark.sql.GraftBridge.column(PackSigBytes(
            org.apache.spark.sql.GraftBridge.eagerExpression(col("sig"))))
            .as("sigp")))
        // Even packed, shuffling pairs × payload is O(pairs) bytes —
        // measured ~44 GB of shuffle+spill at 612M candidates, still a
        // single-box disk wall. But the PACKED side is only
        // ~72 B × nDocs (360 MB at 5M docs): within the heap guard,
        // broadcast it and the estimate probes the candidate list with
        // ZERO additional shuffle (the repo's guarded-broadcast
        // discipline). Past the guard — true warehouse corpora — the
        // shuffle join is the right plan anyway: a cluster spreads its
        // O(pairs) bytes across per-node disks that a one-box ledger
        // does not have.
        val bcast = nDocs * 72L < Runtime.getRuntime.maxMemory / 12
        def side(rel: DataFrame): DataFrame =
          if (bcast) org.apache.spark.sql.functions.broadcast(rel) else rel
        cand
          .join(side(sigP.select(col("id").as("id_a"), col("sigp").as("sp_a"))),
            Seq("id_a"))
          .join(side(sigP.select(col("id").as("id_b"), col("sigp").as("sp_b"))),
            Seq("id_b"))
          .filter(org.apache.spark.sql.GraftBridge.column(PackedByteAgreeCount(
            org.apache.spark.sql.GraftBridge.eagerExpression(col("sp_a")),
            org.apache.spark.sql.GraftBridge.eagerExpression(col("sp_b"))))
            >= minAgree)
          .select("id_a", "id_b")
      }
    }
    MinhashPlan(sig, sh, nDocs, nBands, big, cand, est)
  }

  /** Pair-join exact verify: build the (narrow) surviving-pair list,
    * stream the fat shingle relation; the second join is left to the
    * planner — neither side is fixed-width there (both carry shingle
    * arrays), so a forced hash build has no safe side. Shuffle volume is
    * O(pairs) shingle arrays — the right layout while pairs ≲ docs. */
  private[graft] def exactVerifyJoin(est: DataFrame, sh: DataFrame,
      threshold: Double, big: Boolean): DataFrame = {
    def shj(d: DataFrame): DataFrame = if (big) d.hint("shuffle_hash") else d
    shj(est)
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common", sortedIntersectCount(col("sh_a"), col("sh_b")))
      // |A ∪ B| = |A| + |B| − |A ∩ B| — the sets are already distinct, so
      // skip materializing the union array (it is the largest intermediate
      // in the verify stage)
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
      // integer-exact threshold: n_common ≥ t·n_union (t·n_union is an
      // exact double for the set sizes in play, so this is the rational
      // comparison, not a rounded-float one)
      .filter(col("n_common").cast("double") >= col("n_union") * threshold)
      .select("id_a", "id_b", "n_common", "n_union", "jaccard")
  }

  /** Cluster-grouped exact verify — the scale path when candidate pairs
    * outnumber the docs carrying them (duplicate clusters are near-
    * cliques: a cluster of c docs implies ~c²/2 candidate pairs, and
    * the pair-join layout moves a shingle array per PAIR side). Here
    * every doc's shingle set moves ONCE: candidates collapse to
    * connected components ([[components]] on the narrow pair list),
    * each component's docs and pairs co-locate via one hash shuffle on
    * the component label, and a per-component in-memory map verifies
    * the listed pairs only — output is row-identical to
    * [[exactVerifyJoin]] (same pairs, same integer counts, same
    * HALF_UP 6-digit rounding; PipelineSpec pins the equivalence).
    *
    * Degenerate-cluster guard: a component larger than `capDocs` docs
    * would concentrate one task's memory, so ITS pairs fall back to the
    * pair-join layout; both arms union. 100 TB posture: no driver
    * collect, one O(docs)+O(pairs) shuffle, label propagation rounds
    * are O(pairs) each on a lineage-truncated frame. */
  private[graft] def exactVerifyClustered(est0: DataFrame, sh: DataFrame,
      threshold: Double, capDocs: Int = 65536): DataFrame = {
    val spark = est0.sparkSession
    val est = trackedCache(est0)
    val nodes = est.select(col("id_a").as("id"))
      .unionByName(est.select(col("id_b").as("id"))).distinct()
    val comp = trackedCache(
      components(est, "id_a", "id_b", nodes, "id", "_comp"))
    val sizes = comp.groupBy("_comp").agg(count(lit(1)).as("_csz"))
    // comp/sizes/docsAll are node-sized (bare ids + labels) while est
    // and sh are O(pairs)/O(docs·arrays): broadcast the node-sized side
    // of every tagging join below (guarded), so neither fat relation
    // shuffles for the pack — the same disk term the label rounds shed
    val nNodes = comp.count() // comp is cached; cheap
    val bcastNodes = nNodes * 56L < Runtime.getRuntime.maxMemory / 24
    def nodeSide(d: DataFrame): DataFrame =
      if (bcastNodes) org.apache.spark.sql.functions.broadcast(d) else d
    val docsAll = comp.join(nodeSide(sizes), Seq("_comp"))
    val docsSmall = docsAll.filter(col("_csz") <= capDocs)
      .select(col("_comp"), col("id"))
    // big-component docs need no doc-side relation: their pairs are
    // routed to the pair-join arm by _csz below
    // pairs are intra-component by construction: tag via id_a
    val pairsTagged = est.join(
      nodeSide(docsAll.select(col("id").as("id_a"), col("_comp"),
        col("_csz"))),
      Seq("id_a"))
    val smallPairs = pairsTagged.filter(col("_csz") <= capDocs)
      .select(col("_comp"), col("id_a"), col("id_b"))
    val bigPairs = pairsTagged.filter(col("_csz") > capDocs)
      .select(col("id_a"), col("id_b"))
    // one relation, sorted so a component's docs precede its pairs
    // within the partition; id/shingle types stay whatever the caller's
    // idCol is (Row-level pass, no encoders)
    val shSmall = sh.join(nodeSide(docsSmall), Seq("id"))
      .select(col("_comp"), lit(0).as("_kind"), col("id").as("_a"),
        lit(null).cast(est.schema("id_b").dataType).as("_b"), col("sh"))
    val packed = shSmall.unionByName(
      smallPairs.select(col("_comp"), lit(1).as("_kind"),
        col("id_a").as("_a"), col("id_b").as("_b"),
        lit(null).cast(shSmall.schema("sh").dataType).as("sh")))
    val n = spark.sessionState.conf.numShufflePartitions
    val parts = packed.repartition(n, col("_comp"))
      .sortWithinPartitions("_comp", "_kind")
    val idType = est.schema("id_a").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idType),
      org.apache.spark.sql.types.StructField("id_b", idType),
      org.apache.spark.sql.types.StructField("n_common",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_union",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    val verified = parts.rdd.mapPartitions { it =>
      var cur: Any = null
      var started = false
      var m: java.util.HashMap[Any, Array[Long]] = null
      it.flatMap { r =>
        val c = r.get(0)
        if (!started || c != cur) {
          cur = c; started = true
          m = new java.util.HashMap[Any, Array[Long]]()
        }
        if (r.getInt(1) == 0) {
          m.put(r.get(2),
            r.getSeq[Long](4).toArray)
          Iterator.empty
        } else {
          val sa = m.get(r.get(2)); val sb = m.get(r.get(3))
          if (sa == null || sb == null) Iterator.empty
          else {
            val common = sortedIntersectLocal(sa, sb)
            val union = sa.length.toLong + sb.length - common
            if (common.toDouble >= union * threshold) {
              // identical rounding to Spark's round(_, 6) on doubles:
              // BigDecimal.valueOf (shortest-repr) + HALF_UP
              val j = java.math.BigDecimal
                .valueOf(common.toDouble / union)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              Iterator.single(org.apache.spark.sql.Row(
                r.get(2), r.get(3), common, union, j))
            } else Iterator.empty
          }
        }
      }
    }
    spark.createDataFrame(verified, outSchema)
      .unionByName(exactVerifyJoin(bigPairs, sh, threshold, big = true))
  }

  /** Merge-count of two sorted distinct long arrays (the JVM-side twin
    * of [[SortedIntersectCount]]). */
  private def sortedIntersectLocal(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Exact word n-gram Jaccard near-dup pairs.
    *
    * tokenize → distinct n-grams → self-join on gram → per-pair count is
    * |A∩B| exactly (sets are distinct) → integer threshold test
    * `|∩|·thrDen ≥ thrNum·|∪|` (⟺ jaccard ≥ thrNum/thrDen) with
    * |∪| = |A|+|B|−|∩|. Output is integer-only — bit-identical in any
    * engine, no float in the gate.
    *
    * Scale posture: the only shuffle carries (gram, id) — never document
    * payloads. The hazard at 100 TB is gram frequency skew ("in the" is
    * in every doc); `maxDocFreq` drops grams shared by more than that
    * many documents from CANDIDATE generation and verifies survivors
    * exactly against the full sets, trading recall only for pairs whose
    * entire overlap is stop-grams. The gate query runs uncapped (exact). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thrNum: Int = 2, thrDen: Int = 5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val w = df.select(col(idCol).as("id"),
        split(regexp_replace(trim(col(textCol)), "\\s+", " "), " ")
          .as("words"))
      .filter(size(col("words")) >= n)
    val g = w.select(col("id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("words")) - n),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(col("words"), i + j + 1)): _*))))
        .as("gram"))
    val sizes = g.groupBy("id").agg(count(lit(1)).as("sz"))
    val candGrams = maxDocFreq match {
      case Some(cap) =>
        // drop ultra-common grams before the self-join (skew guard); the
        // per-pair count is then a lower bound, so re-verify exactly below
        val df_ = g.groupBy("gram").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap).select("gram")
        g.join(df_, Seq("gram"))
      case None => g
    }
    val a = candGrams.select(col("gram"), col("id").as("id_a"))
    val b = candGrams.select(col("gram"), col("id").as("id_b"))
    val inter = a.join(b, Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    val exact = maxDocFreq match {
      case Some(_) =>
        // capped candidates: recount |∩| from the full gram relation for
        // the surviving pairs only (broadcast-sized at any real cap)
        val pairs = inter.select("id_a", "id_b")
        pairs.join(g.select(col("id").as("id_a"), col("gram")), Seq("id_a"))
          .join(g.select(col("id").as("id_b"), col("gram")),
            Seq("id_b", "gram"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      case None => inter
    }
    exact
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")),
        Seq("id_b"))
      .filter(col("n_common") * thrDen >=
        (col("size_a") + col("size_b") - col("n_common")) * thrNum)
      .select("id_a", "id_b", "n_common", "size_a", "size_b")
  }

  /** Rows above which [[jaccardPairs]] refuses to run: the all-pairs
    * product is a ground-truth oracle for SPECS, never a production
    * path — at 100k rows it is already 5·10⁹ pairs. */
  val jaccardPairsMaxRows = 10000L

  /** Exact pairwise Jaccard (for verification / small candidate sets).
    * Deliberately guarded: O(n²) all-pairs, spec-oracle only. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5): DataFrame = {
    // limit-probe, not count(): the guard must not itself materialize
    // an unbounded upstream plan just to reject it
    val n = df.limit((jaccardPairsMaxRows + 1).toInt).count()
    require(n <= jaccardPairsMaxRows,
      s"jaccardPairs is an all-pairs O(n^2) oracle for verification; " +
        s"got >$jaccardPairsMaxRows rows (cap $jaccardPairsMaxRows). Use " +
        "minhashPairs/ngramJaccardPairs/simhashPairs for production-scale " +
        "dedup.")
    val s = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleK).as("sh"))
    val a = s.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = s.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("n_common", sortedIntersectCount(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"), round(
        col("n_common").cast("double") /
          ((size(col("sh_a")) + size(col("sh_b"))).cast("long") -
            col("n_common")), 6).as("jaccard"))
  }

  // ----------------------------------------------------------- simhash

  /** SimHash signature width. 60 bits (not 64) so the token hash — the
    * first 15 hex chars of md5 — stays under 2^63 and the whole pipeline
    * is reproducible in any engine with md5 (the differential oracle
    * recomputes it in SQL; xxhash64 exists only in Spark). */
  val simhashBits = 60

  /** Engine-portable 64→60-bit token hash: md5 hex prefix as an integer.
    * conv() parses the 15 hex chars; identical to DuckDB's
    * CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT). */
  def md5Hash60(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SimHash over word tokens: per-bit weighted vote of token hashes.
    * Expressed as `simhashBits` conditional sums over the exploded token
    * relation — one shuffle on the document id. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "[\\s\\p{Punct}]+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", md5Hash60(col("tok")))
    val bitVotes = (0 until simhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val votes = toks.groupBy("id").agg(bitVotes.head, bitVotes.tail: _*)
    val packed = (0 until simhashBits).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("id"), packed.as("simhash"))
  }

  /** Connected components over near-duplicate pairs: collapse every
    * transitively-linked group to its minimum id — the cluster closure a
    * real corpus dedup needs on top of pairwise candidates (a chain
    * a–b–c is ONE duplicate group even though (a,c) was never emitted).
    *
    * Scale-safe union-find: iterative min-label propagation, each round
    * one key-partitioned join + partial-aggregated min — no driver-side
    * graph, no all-pairs. Rounds = component diameter (near-dup clusters
    * are shallow; `maxIter` caps pathological chains). Driver sees only
    * a per-round change count.
    *
    * Input: pairs with `id_a`/`id_b`. Output: (id, canonical_id) for
    * every id that appears in some pair; absent ids are their own
    * canonical. */
  def clusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    // delegates to [[components]] — one implementation of the label
    // propagation (loud non-convergence, per-round lineage truncation;
    // the first cut here exited SILENTLY at maxIter with possibly
    // unconverged labels, and its un-truncated iterative plan doubled
    // per round)
    val nodes = pairs.select(col(idA).as("id"))
      .unionByName(pairs.select(col(idB).as("id")))
      .distinct()
    components(pairs, idA, idB, nodes, "id", out = "canonical_id",
      maxIters = maxIter)
  }

  /** Keep one representative per near-duplicate cluster: the canonical
    * (minimum) id survives, other members drop. */
  def dropNearDuplicates(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val doomed = clusters(pairs)
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Hamming distance between two signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs among simhashes within `maxDist` bits, using 4-chunk
    * banding (pigeonhole: ≤3 differing bits → some 15-bit chunk equal). */
  def simhashPairs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunked = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(0x7fffL)): _*))
        .as(Seq("chunk", "ckey")))
    val a = chunked.select(col("chunk"), col("ckey"),
      col("id").as("id_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk"), col("ckey"),
      col("id").as("id_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ------------------------------------------------ incremental dedup

  /** Exact incremental dedup: the rows of `batch` whose content (md5 of
    * `textCol`) is NEW — absent from `corpus` AND not already claimed by
    * an earlier (smaller-`idCol`) row of the batch itself. This is the
    * nightly-crawl shape: the corpus is deduped once, and each new batch
    * is checked against it without ever recomputing corpus×corpus.
    *
    * Scale shape: the corpus side of the anti-join carries ONLY 16-byte
    * content hashes (the 100 TB corpus text never moves); the
    * within-batch keep-one is a window over the batch alone, which is
    * orders of magnitude smaller than the corpus by construction. */
  def dropAgainstCorpus(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val ch = md5(col(textCol).cast("binary"))
    val corpusHashes = corpus.select(ch.as("_h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_h")).orderBy(col(idCol))
    batch.withColumn("_h", ch)
      .join(corpusHashes, Seq("_h"), "left_anti")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(batch.columns.map(col).toIndexedSeq: _*)
  }

  /** Near-duplicate pairs of `batch` rows against `corpus` rows — the
    * incremental companion of [[minhashPairs]] (same shingle→MinHash→
    * band kernel, same exact-Jaccard verify), generating ONLY
    * batch×corpus candidates: the corpus bands never self-join, so the
    * cost is proportional to the new data, not the corpus.
    * Returns (batch_id, corpus_id, n_common, n_union, jaccard) with
    * jaccard ≥ threshold. Call [[releaseCaches]] after consuming.
    *
    * Scale shape: band rows carry (band, bhash, id) only; both sides'
    * shingle payloads join in solely for the surviving candidates. The
    * corpus signature/banding pass is corpus-sized — at warehouse scale
    * persist the corpus's signature table once (it is the cacheable
    * artifact here) and feed it back as `corpus` in later batches. */
  def pairsAgainstCorpus(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 64,
      bands: Int = 16, shingleK: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def sigOf(df: DataFrame): DataFrame =
      trackedCache(Par.fanOut(df).select(col(idCol).as("id"),
          shingleSig(col(textCol), shingleK, numHashes).as("ss"))
        .select(col("id"), col("ss.sh").as("sh"), col("ss.sig").as("sig")))
    def bandsOf(sig: DataFrame): DataFrame = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("sig"), b * r + 1, lit(r)).cast("array<string>")))))
        .as(Seq("band", "bhash")))
    val cSig = sigOf(corpus)
    val bSig = sigOf(batch)
    val cand = bandsOf(bSig)
      .select(col("band"), col("bhash"), col("id").as("batch_id"))
      .join(bandsOf(cSig)
        .select(col("band"), col("bhash"), col("id").as("corpus_id")),
        Seq("band", "bhash"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    cand
      .join(bSig.select(col("id").as("batch_id"), col("sh").as("sh_a")),
        Seq("batch_id"))
      .join(cSig.select(col("id").as("corpus_id"), col("sh").as("sh_b")),
        Seq("corpus_id"))
      .withColumn("n_common", sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
      .filter(col("n_common").cast("double") >= col("n_union") * threshold)
      .select("batch_id", "corpus_id", "n_common", "n_union", "jaccard")
  }

  // ------------------------------------- substring duplication score

  /** Per-document substring-duplication score: the fraction of a doc's
    * distinct word `n`-grams that also occur in at least `minDf - 1`
    * OTHER documents (the doc-level signal behind corpus-level exact
    * substring dedup — a doc scoring near 1.0 is assembled from text
    * the corpus already contains). Adds `n_grams`, `dup_grams`,
    * `dup_score` (0.0 for docs with fewer than `n` words).
    *
    * Scale shape: one explode to distinct `(id, gram)` pairs, one gram
    * groupBy for document frequency, and a semi-join of the pairs
    * against ONLY the duplicated grams (df >= minDf) — the join's build
    * side is the duplicated subset, not the full gram vocabulary, and
    * the pairs relation carries `(id, gram)` only. Never all-pairs; the
    * corpus text shuffles nowhere.
    */
  def substringDupScore(df: DataFrame, idCol: String, textCol: String,
      n: Int = 10, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val pairs = df.select(col(idCol),
        explode(graft.ops.TextPrep.wordGrams(col(textCol), n)).as("gram"))
    // wordGrams is distinct within a doc, so count(*) = document freq
    val dupGrams = pairs.groupBy(col("gram"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("gram")
    val dupCounts = pairs.join(dupGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_grams"))
    df.withColumn("n_grams",
        size(graft.ops.TextPrep.wordGrams(col(textCol), n)).cast("long"))
      .join(dupCounts, Seq(idCol), "left")
      .withColumn("dup_grams", coalesce(col("dup_grams"), lit(0L)))
      .withColumn("dup_score",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("dup_grams").cast("double") /
            col("n_grams"), 6)))
  }

  // ------------------------------------------------- duplicate clusters

  /** Connected components over an undirected pair graph — the step that
    * turns near-duplicate PAIRS (minhash/jaccard/simhash output) into
    * duplicate CLUSTERS a pipeline can act on (keep the canonical
    * member, drop the rest). Returns one row per node in `nodes`:
    * (idCol, `out` = the smallest node id reachable from it; a
    * singleton's component is itself).
    *
    * Distributed min-label propagation: every round joins the current
    * labels across the edge list and takes the neighborhood minimum —
    * one keyed shuffle of O(E) per round, no driver-side graph, no
    * per-node state beyond the labels relation. Rounds needed = graph
    * diameter; duplicate clusters are near-cliques (a pair generator
    * emits most intra-cluster edges), so 2–4 rounds close real corpora.
    * The loud `maxIters` guard rejects pathological long-chain graphs
    * rather than looping; for those regimes the large-star/small-star
    * O(log n)-round variant is the known remedy (Kiveris et al.,
    * MapReduce connected components) — out of scope until a workload
    * needs it. 100 TB posture: labels and edges shuffle on node id;
    * every round is map-side-combinable (min is associative); the
    * convergence check is a metadata-sized aggregate.
    *
    * Reference analogue: none (the reference has no graph step) — this
    * is part of the beyond-reference dedup pipeline surface. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      nodes: DataFrame, idCol: String, out: String = "component_id",
      maxIters: Int = 25): DataFrame = {
    // no distinct() on the cached edges: min-label propagation is
    // duplicate-TOLERANT (duplicate prop rows fold in the min agg), the
    // two directions of an (a<b) pair can never collide, and callers'
    // pair lists are deduped upstream — the distinct was a pure extra
    // O(edges) shuffle+sort in the cache fill (the sf100 ledger's ~70 s
    // round-1 term; BASELINE round-13 minhash section has the A/B)
    val edges = trackedCache(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"),
          col(aCol).as("dst"))))
    // every round MUST truncate lineage (eager localCheckpoint): a
    // plain persist keeps the logical plan, which doubles per round —
    // after a dozen rounds the plan tree alone OOMs the driver. Each
    // round's checkpointed RDD is dropped as soon as the convergence
    // check against the next one completes, so live storage is bounded
    // at two label sets; the final one is registered for release with
    // the other dedup pins.
    var labels = truncated(
      nodes.select(col(idCol).as("id"))
        .distinct()
        .withColumn("lbl", col("id")))
    // Per-round join strategy: the label set is O(nodes) bare (id, lbl)
    // pairs — 75 MB at the sf100 density (4.7M nodes) — while the edge
    // relation is O(2·pairs) (632M rows there). A sort-merge join
    // re-shuffles and re-sorts the EDGES every round, and those rounds'
    // dead shuffle files stack up on the one local disk faster than the
    // cleaner drains them (measured: the sf100 clustered verify died on
    // disk with 54 GB free). Broadcasting the labels makes each round a
    // map-side probe of the cached edges — zero edge movement, and the
    // min-label groupBy's map-side partial keeps its shuffle at
    // O(distinct ids per partition). Guarded like every broadcast here.
    val nNodes = labels.count() // labels are checkpointed; count is cheap
    val bcastLabels = nNodes * 48L < Runtime.getRuntime.maxMemory / 24
    var converged = false
    var it = 0
    while (!converged) {
      require(it < maxIters,
        s"Dedup.components: no convergence after $maxIters rounds — " +
          "the pair graph has a longer diameter than a duplicate " +
          "cluster should; inspect the pair generator's threshold")
      // NOTE pointer jumping (lbl := lbl(lbl) per round) was measured
      // at sf100 and NETS ZERO here: it cut rounds 10 → 8 but each
      // round pays an extra node-sized checkpoint+join (169.6 s vs
      // 168.8 s total) — duplicate-cluster graphs are shallow by
      // construction, and the rounds are EDGE-PROBE-bound, not
      // chain-depth-bound. The simple loop stays (BASELINE round-13
      // minhash ledger).
      val lbls = if (bcastLabels)
        org.apache.spark.sql.functions.broadcast(labels) else labels
      val prop = edges.join(lbls, col("src") === col("id"))
        .select(col("dst").as("id"), col("lbl"))
      val next = truncated(
        labels.unionByName(prop)
          .groupBy("id").agg(min("lbl").as("lbl")))
      // monotone convergence: labels only decrease, so "no row
      // changed" is one metadata-sized join-count
      val changed = next.as("n")
        .join(labels.as("o"), Seq("id"))
        .filter(col("n.lbl") < col("o.lbl"))
        .limit(1).count()
      releaseRddOf(labels)
      labels = next
      converged = changed == 0L
      it += 1
    }
    labels.select(col("id").as(idCol), col("lbl").as(out))
  }

  /** One row per duplicate cluster: the canonical member — the longest
    * text, ties broken by smallest id (the standard "keep the fullest
    * version" dedup policy) — plus the cluster size. Composes
    * [[components]] with a per-cluster window; clusters are small by
    * construction, so the window's partition-by-component shuffle
    * carries no skew a duplicate cluster wouldn't already imply. */
  def canonicalDocs(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = components(pairs, aCol, bCol, df.select(idCol), idCol)
    val joined = df.select(col(idCol), length(col(textCol)).as("_len"))
      .join(comp, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component_id")
      .orderBy(col("_len").desc, col(idCol).asc)
    joined
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("component_id")))
      .filter(col("_rn") === 1)
      .select(col("component_id"), col(idCol).as("canonical_id"),
        col("n_members"))
  }

  /** Eagerly checkpoint `df` locally (truncating its logical plan) and
    * register the backing RDD for [[releaseCaches]]. */
  private def truncated(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(liveRdds.add)
    ck
  }

  /** Unpersist the checkpointed RDD backing a [[truncated]] DataFrame
    * (and forget it in the release queue). */
  private def releaseRddOf(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach { r =>
      liveRdds.remove(r)
      r.unpersist(blocking = false)
    }
}
