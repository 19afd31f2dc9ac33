package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Uses the noop sink so the
  * whole plan executes (a bare count() would let Catalyst prune the
  * expensive columns).
  */
object Bench {

  /** Headline set: TPC-H-shaped core + TPC-DS shapes + window/agg +
    * pipeline/session/geo operators. */
  val fullHeadline: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q6_forecast_revenue",
    "q10_returned_items", "q_join_inner", "q_agg_stats", "q_rollup",
    "q_win_rank", "q_win_frame_rows", "q_cte",
    "qds_channel_rollup", "qds_yoy", "qds_top_per_group",
    "q_sessionize", "q_geo_zones",
    "q_dedup_exact", "q_dedup_exact_fast", "q_dedup_minhash",
    "q_sim_cosine", "q_text_stats")

  /** Protocol knobs for ad-hoc scale sweeps: SPARK_GRAFT_SKIP drops
    * comma-separated queries (e.g. the 5-min/rep sf10 minhash when
    * A/B-ing scan-bound queries), SPARK_GRAFT_ONLY keeps only the
    * listed ones. The driver sets neither → full set. */
  val headline: Seq[String] = {
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet)
    fullHeadline.filter(q =>
      !skip.contains(q) && only.forall(_.contains(q)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // marginal-cost protocol: a sub-second local[32] run mostly measures
    // fixed job/stage overhead, which a cluster amortizes away. With a
    // base dir set, each query also runs on the (tiny) base fixture and
    // we report marginal = t(sf) - t(base): the data-dependent cost that
    // actually scales. Opt out with SPARK_GRAFT_SF_BASE_DIR=none.
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_BASE_DIR",
      "/root/testdata/sf0.001")
    val Session(spark, sfBytes, small, hygiene, shuffleDir) = session(sfDir)

    /** Big fixtures only: GC (enqueues dead shuffles to the cleaner,
      * whose shuffle removes are blocking per the conf above) and poll
      * the shuffle dir until its size stops shrinking — dead files from
      * the previous query are off the SSD before the next one is timed. */
    def drainShuffles(): Unit = shuffleDir.foreach { dir =>
      System.gc()
      // the cleaner deletes files CONCURRENTLY with this walk — every
      // step can race a vanishing entry, and Files.walk surfaces that
      // as UncheckedIOException (a RuntimeException) mid-iteration, so
      // the whole measurement is best-effort under one broad catch
      def du: Long =
        try {
          val s = java.nio.file.Files.walk(dir)
          try s.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(p => try java.nio.file.Files.size(p)
              catch { case _: Exception => 0L })
            .sum()
          finally s.close()
        } catch { case _: Exception => 0L }
      var prev = du
      var stable = 0
      var polls = 0
      while (stable < 2 && polls < 20) { // max ~4 s
        Thread.sleep(200)
        val cur = du
        if (cur >= prev) stable += 1 else stable = 0
        prev = cur
        polls += 1
      }
    }

    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          // capture the elapsed time BEFORE the releases below:
          // broadcast destroy blocks on executor RPCs and unpersist
          // walks the block manager — cleanup cost is harness hygiene,
          // not query time, and must not land in the reported medians
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      // layout operators pin relations for the duration of their
      // query (FrameStats' sorted-child RDD is ~6 GB of row objects
      // at sf10); catalog.clearCache() between reps only covers
      // DataFrame caches, so raw RDD pins MUST release here or they
      // accumulate across reps and GC-thrash the whole suite
      graft.ops.BigWindow.releaseCaches()
      graft.ops.Dedup.releaseCaches()
      graft.plans.ProbeAgg.releaseBroadcasts()
      drainShuffles() // no-op on small fixtures; not in `elapsed`
      elapsed
    }

    // ---- production layout (big fixtures): build-or-reuse the clustered
    // rewrites ONCE (a `_LAYOUT_DONE` marker makes later sessions
    // re-register the on-disk build in ~0 s), register them with
    // plans/LayoutDispatch, and let the OPTIMIZER dispatch per query —
    // the headline section then measures the engine's production
    // posture: queries whose join/group/window keys cover a clustering
    // key run off the co-located layout, everything else (q1's full-scan
    // aggregate, the text/dedup/sim operators) keeps the stock scan.
    // `layout_build` reports the amortized one-time cost (0.000 when
    // reused). Opt out: SPARK_GRAFT_LAYOUT=0.
    // canonical path: "benchdata/sf100" and "/root/repo/benchdata/sf100"
    // must reuse ONE on-disk layout (a raw-string hash double-built 15 GB
    // at sf100 and filled the disk)
    val layoutHex = java.lang.Integer.toHexString(
      (try new java.io.File(sfDir).getCanonicalPath
       catch { case _: Exception => sfDir }).hashCode)
    val layoutTo =
      s"${System.getProperty("java.io.tmpdir")}/graft-bkt-$layoutHex"
    def bname(t: String) = s"graft_bkt_${layoutHex}_$t"
    val nBk = cpus.toInt
    /** Build-or-reuse every clustered rewrite; returns seconds spent
      * building (0 when everything was reused from disk). */
    def ensureLayouts(): Double = {
      val t0 = System.nanoTime()
      import graft.engine.Bucketed
      Bucketed.writeOrReuse(Tables.load(spark, sfDir, "lineitem"), spark,
        bname("lineitem"), s"$layoutTo/lineitem", Seq("l_orderkey"), nBk)
      Bucketed.writeOrReuse(Tables.load(spark, sfDir, "orders"), spark,
        bname("orders"), s"$layoutTo/orders", Seq("o_orderkey"), nBk)
      Bucketed.writeOrReuse(Tables.load(spark, sfDir, "orders"), spark,
        bname("orders_ck"), s"$layoutTo/orders_ck", Seq("o_custkey"), nBk)
      // events RAW (ts stays the fixture's nano-Long): the dispatch
      // rule requires name+type-identical columns; Tables.load's
      // ts-normalization projection applies above the substituted scan
      Bucketed.writeOrReuse(
        spark.read.parquet(s"$sfDir/events.parquet"), spark,
        bname("events"), s"$layoutTo/events", Seq("user_id"), nBk,
        Seq("user_id", "ts"))
      (System.nanoTime() - t0) / 1e9
    }
    // layout-aware dispatch is the production posture for any fixture
    // big enough that a deployment would cluster its facts — its own
    // cutoff, decoupled from shuffle hygiene (r13 tied it to the 4 GB
    // hygiene gate, which kept sf10 stock while the sf10 bucketed
    // SECTION was already running the >2x holdout shapes at 0.6-2.5 s;
    // r13 verdict task 1b). sf10's 1.7 GB fixture now dispatches; the
    // driver's sf0.1 fixture (17 MB) stays stock.
    val layoutAware = sfBytes >= (1024L << 20) &&
      sys.env.getOrElse("SPARK_GRAFT_LAYOUT", "1") == "1"
    // layout codec: uncompressed decodes ~1.5-2x faster (ScanFloor2 A/B)
    // and the sf10-class layout fits local disk many times over; at the
    // sf100 decade the uncompressed layout (~3x snappy's 15 GB) would
    // flirt with this box's free disk, so big fixtures keep snappy.
    sys.props("graft.layout.compression") =
      if (hygiene) "snappy" else "none"
    var layoutBuild = -1.0
    if (layoutAware) {
      layoutBuild = ensureLayouts()
      graft.plans.LayoutDispatch.install(spark)
      graft.plans.LayoutDispatch.register(s"$sfDir/lineitem.parquet",
        Seq("l_orderkey"), bname("lineitem"))
      // registration order = preference: the join family's orderkey
      // layout first; per-customer rollups match custkey via grouping
      graft.plans.LayoutDispatch.register(s"$sfDir/orders.parquet",
        Seq("o_orderkey"), bname("orders"))
      graft.plans.LayoutDispatch.register(s"$sfDir/orders.parquet",
        Seq("o_custkey"), bname("orders_ck"))
      graft.plans.LayoutDispatch.register(s"$sfDir/events.parquet",
        Seq("user_id"), bname("events"))
      // sound while every bucket is ONE key-sorted file (Bucketed.write
      // guarantees it): report the per-bucket sort order to the planner
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    }

    // warm-up passes: the first execution of each plan pays 1-6s of
    // analysis/codegen/JIT that has nothing to do with data volume;
    // steady-state is what scales, so that is what we report. TWO
    // passes, because a measured A/B at sf10 showed the first
    // post-warmup rep still runs ~40% above steady state (C2
    // compilation of the generated code finishes during rep 2): with
    // one pass the "median of 3" straddles the warming tail.
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "2").toInt
    (1 to warmups).foreach(_ => headline.foreach(run(_, sfDir)))

    // regression-grade protocol: N interleaved rounds over the whole query
    // set (round 1: q1..qN, round 2: q1..qN, ...) so slow box drift —
    // thermal, page-cache state, background load — lands on every query
    // equally instead of on whichever query's rep block happened to run
    // then; a single-shot artifact on this box moved ±15% with
    // byte-identical code. Per query we report the MEDIAN (robust to one
    // bad rep) plus the max-min spread so a reader can tell signal from
    // jitter. A fixed-work calibration probe (q_geo_zones on the sf0.001
    // fixture, constant regardless of SPARK_GRAFT_SF_DIR) runs inside
    // every round; its median is a pure box-state figure that normalizes
    // cross-round comparisons.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // sub-second stabilization: at the 0.3-1.5 s scale, 3 reps put the
    // box jitter (page cache, thermal, background load) at the same
    // magnitude as the signal — the same unchanged code read 2.9x and
    // 5.8x vs the oracle in consecutive sessions. Queries whose
    // provisional median lands under the threshold get extra interleaved
    // rounds (cheap by definition) up to this total, and their spread is
    // outlier-trimmed (see medSpread).
    val shortReps = sys.env.getOrElse("SPARK_GRAFT_SHORT_REPS", "7").toInt
    val shortThreshold =
      sys.env.getOrElse("SPARK_GRAFT_SHORT_THRESHOLD", "1.5").toDouble

    def medSpread(xs0: Seq[Double]): (Double, Double) = {
      val xs = xs0.filter(_ >= 0).sorted
      if (xs.isEmpty) (-1.0, -1.0)
      else {
        val m =
          if (xs.size % 2 == 1) xs(xs.size / 2)
          else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
        // with >= 5 reps the min-max range grows with every added rep
        // (one cold outlier would mask the stabilization the extra reps
        // exist to provide): drop exactly one rep per side first
        val sp =
          if (xs.size >= 5) xs(xs.size - 2) - xs(1)
          else xs.last - xs.head
        (m, sp)
      }
    }

    /** Interleaved timing over (outputKey, queryName, dir) items; the
      * cache is cleared before every run so each rep measures identical
      * work — operators that persist intermediates (minhash signatures)
      * would otherwise tax later queries' heap and make rep 1 of a round
      * incomparable to rep N. */
    def timed(items: Seq[(String, String, String)])
        : Map[String, (Double, Double)] = {
      val acc = scala.collection.mutable.Map
        .empty[String, List[Double]].withDefaultValue(Nil)
      // protocol-order A/B (SPARK_GRAFT_ORDER=shuffle): permute the
      // in-round query order differently every round, seeded by the
      // round index so runs are reproducible. Comparing fixed-order vs
      // shuffled medians ledgers the neighborhood term (page-cache churn
      // from whichever scan ran just before) that r13 could only
      // attribute "in passing" — if a query's median is order-invariant,
      // its in-protocol elevation is real work, not interleaving.
      val shuffleOrder =
        sys.env.get("SPARK_GRAFT_ORDER").contains("shuffle")
      var roundNo = 0
      def round(is0: Seq[(String, String, String)]): Unit = {
        roundNo += 1
        val is = if (!shuffleOrder) is0
          else new scala.util.Random(roundNo).shuffle(is0)
        is.foreach { case (key, q, dir) =>
          spark.catalog.clearCache()
          acc(key) = run(q, dir) :: acc(key)
        }
        System.gc() // settle the heap between rounds, not inside one
        // NOTE a measured in-suite penalty that gc does NOT remove:
        // q10 reads ~2.1 s inside a 7-query sf10 round vs 1.54 s alone
        // under the identical per-rep protocol and box state
        // (calibration-matched), and forcing a full gc before every
        // timed run changed nothing — the residual is single-JVM JIT
        // profile pollution (megamorphic call sites shared across the
        // suite's codegen classes), which per-query artifacts in
        // BASELINE.md quantify with solo runs where it matters.
      }
      (1 to reps).foreach(_ => round(items))
      // adaptive extension for sub-threshold queries (see shortReps)
      val short = items.filter { case (key, _, _) =>
        val m = medSpread(acc(key))._1
        m >= 0 && m < shortThreshold
      }
      if (short.nonEmpty)
        (reps until shortReps).foreach(_ => round(short))
      items.map { case (key, _, _) => key -> medSpread(acc(key)) }.toMap
    }

    def queriesJson(r: Map[String, (Double, Double)]): String =
      headline.map(k => "\"" + k + f"\":${r(k)._1}%.3f")
        .mkString("{", ",", "}")
    def spreadJson(r: Map[String, (Double, Double)]): String =
      headline.map(k => "\"" + k + f"\":${r(k)._2}%.3f")
        .mkString("{", ",", "}")

    val calKey = "__calibration__"
    val calDir = "/root/testdata/sf0.001"
    val calItem =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(calDir)))
        Seq((calKey, "q_geo_zones", calDir))
      else Nil
    calItem.foreach { case (_, q, d) => run(q, d) } // warm the probe plan

    // quiet-box gate (opt in: SPARK_GRAFT_QUIET_MAX=<seconds>): two
    // rounds of sf10-band comparisons have stood on a three-round-old
    // quiet run because scheduling could never force a quiet box. So
    // automate the capture instead: measure the fixed-work calibration
    // probe FIRST and only proceed to the full protocol when its median
    // is at or below the gate (r10's quiet band ran at probe 0.147; the
    // inflated sessions at >=0.17). Above the gate, emit a one-line
    // refusal artifact and exit 3 — the caller loops/retries later.
    sys.env.get("SPARK_GRAFT_QUIET_MAX").map(_.toDouble).foreach { gate =>
      if (calItem.isEmpty) {
        println(s"""{"metric":"quiet_gate","error":"no calibration fixture"}""")
        spark.stop(); sys.exit(3)
      }
      // the in-protocol calibration runs after two full warmup passes;
      // the gate must compare like with like, so warm the probe plan to
      // steady state (C2 finishes during the early reps) before judging
      (1 to 6).foreach(_ => run("q_geo_zones", calDir))
      val probes = (1 to 5).map(_ => run("q_geo_zones", calDir)).sorted
      val med = probes(probes.size / 2)
      if (med > gate) {
        println(f"""{"metric":"quiet_gate","probe":$med%.3f,"gate":$gate%.3f,"proceed":false}""")
        spark.stop(); sys.exit(3)
      }
      System.err.println(f"[bench] quiet gate passed: probe $med%.3f <= $gate%.3f")
    }

    System.gc() // settle the heap before the timed section
    val timedMain = timed(headline.map(n => (n, n, sfDir)) ++ calItem)
    val results = headline.map(n => n -> timedMain(n)._1)
    val qs = queriesJson(timedMain)
    val total = results.map(_._2).filter(_ >= 0).sum
    val calJson = timedMain.get(calKey).map { case (m, s) =>
      f""","calibration":{"query":"q_geo_zones","sf":"$calDir","median":$m%.3f,"spread":$s%.3f}"""
    }.getOrElse("")

    val marginalJson =
      if (baseDir == "none" || baseDir == sfDir) ""
      else {
        headline.foreach(run(_, baseDir)) // warm the base-dir plans too
        val base = timed(headline.map(n => (n, n, baseDir)))
        val marg = results.map { case (k, v) =>
          val m = if (v < 0 || base(k)._1 < 0) -1.0
            else math.max(0.0, v - base(k)._1)
          "\"" + k + f"\":$m%.3f"
        }.mkString("{", ",", "}")
        f""","base_sf":"$baseDir","marginal":$marg"""
      }

    // scan-parallel protocol: the driver fixtures are single-row-group
    // parquet files, so every scan stage — and whatever fuses into it —
    // runs as ONE task while the other cores idle; DuckDB parallelizes
    // inside a row group and is unaffected. Real tables (the reference's
    // writer included) carry many files/row groups. To measure the cost
    // that actually scales, rewrite the fixture as multi-file tables
    // once and run the same queries again. Opt out: SPARK_GRAFT_SPLIT=0.
    // section summaries for the compact trailer line (see bottom)
    var spTotal = -1.0
    var spMedians: Map[String, Double] = Map.empty
    var bktTotal = -1.0
    var bktBuild = -1.0

    val splitJson =
      if (sys.env.getOrElse("SPARK_GRAFT_SPLIT", "1") != "1") ""
      else {
        def rewrite(from: String): String = {
          val to = s"${System.getProperty("java.io.tmpdir")}/graft-split-" +
            java.lang.Integer.toHexString(from.hashCode)
          val done = java.nio.file.Paths.get(to, "_DONE")
          if (!java.nio.file.Files.exists(done)) {
            // enough files that scans split across cores, few enough
            // that per-task scheduling overhead stays negligible
            val nFiles = math.max(8, cpus.toInt / 4)
            Tables.names.foreach { n =>
              spark.read.parquet(s"$from/$n.parquet")
                .repartition(nFiles)
                .write.mode("overwrite").parquet(s"$to/$n.parquet")
            }
            java.nio.file.Files.createFile(done)
          }
          to
        }
        val sfSplit = rewrite(sfDir)
        headline.foreach(run(_, sfSplit)) // warm
        System.gc() // settle the heap before the timed section
        val timedSplit = timed(headline.map(n => (n, n, sfSplit)))
        val split = headline.map(n => n -> timedSplit(n)._1)
        val sq = queriesJson(timedSplit)
        val ss = spreadJson(timedSplit)
        val sTotal = split.map(_._2).filter(_ >= 0).sum
        spTotal = sTotal
        spMedians = split.toMap
        val sMarg =
          if (baseDir == "none" || baseDir == sfDir) ""
          else {
            val baseSplit = rewrite(baseDir)
            headline.foreach(run(_, baseSplit))
            System.gc()
            val base = timed(headline.map(n => (n, n, baseSplit)))
            val m = split.map { case (k, v) =>
              val d = if (v < 0 || base(k)._1 < 0) -1.0
                else math.max(0.0, v - base(k)._1)
              "\"" + k + f"\":$d%.3f"
            }.mkString("{", ",", "}")
            f""","marginal":$m"""
          }
        // big fixtures: the split copy is fixture-sized (18 GB at sf100)
        // and holding it for a cross-session cache starves the bucketed
        // build's sort spills of disk ("No space left on device" took out
        // the round-11 session-4 bucketed section); rebuilding it costs
        // ~2 min, the disk is worth more
        if (!small) {
          def rmTree(p: java.nio.file.Path): Unit =
            try {
              val s = java.nio.file.Files.walk(p)
              try s.sorted(java.util.Comparator.reverseOrder())
                .forEach(q => { try java.nio.file.Files.deleteIfExists(q)
                  catch { case _: Exception => } })
              finally s.close()
            } catch { case _: Exception => }
          rmTree(java.nio.file.Paths.get(sfSplit))
        }
        f""","scan_parallel":{"total":$sTotal%.3f,"queries":$sq,"spread":$ss$sMarg}"""
      }

    // bucketed-layout protocol: warehouse fact tables are deployed
    // hash-clustered by their dominant join key precisely so the
    // fact⋈fact co-shuffle never happens (engine/Bucketed.scala). Like
    // scan_parallel, this section measures the cost that describes the
    // production layout: rewrite lineitem/orders bucketed by orderkey
    // and events by user_id ONCE (build time reported — it amortizes
    // across every subsequent join), then re-time the join/window family
    // through the SAME query declarations via the Tables overlay. The
    // one-time build replaces a per-query exchange of both join sides
    // with zero exchanges. Opt out: SPARK_GRAFT_BUCKETED=0.
    val bucketedJson =
      if (sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "1") != "1") ""
      else {
        val bq = Seq("q1_agg", "q3_shipping", "q5_local_supplier",
          "q10_returned_items", "qds_channel_rollup", "qds_yoy",
          "q_sessionize").filter(headline.contains)
        // q_cte's dominant access is the per-customer orders rollup, so
        // ITS production clustering for orders is o_custkey (the scan's
        // HashPartitioning makes the 1.5M-group aggregate exchange-free)
        // — a different layout choice than the orderkey clustering the
        // join family wants. A deployment picks one per table; the
        // section reports both honestly, each query under the layout its
        // workload would deploy.
        val cteQ = Seq("q_cte").filter(headline.contains)
        if (bq.isEmpty && cteQ.isEmpty) ""
        else try {
          // same build as the layout-aware headline (shared on-disk
          // reuse: whichever section runs first pays, the other is ~0)
          val buildS = ensureLayouts()
          Seq("lineitem", "orders", "events")
            .foreach(t => Tables.setOverlay(sfDir, t, bname(t)))
          // report the per-bucket sort order to the planner: sound here
          // because Bucketed.write guarantees ONE key-sorted file per
          // bucket (the opt-in exists for multi-file buckets, which read
          // interleaved); elides the SMJ sorts — measured q3 1.35→0.91 s
          // at sf10. Restored after the section.
          spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
          try {
            bq.foreach(run(_, sfDir)) // warm: the bucketed plans are new
            System.gc()
            val tb = timed(bq.map(nm => (nm, nm, sfDir)))
            // re-point orders at the custkey clustering for q_cte
            val tc =
              if (cteQ.isEmpty) Map.empty[String, (Double, Double)]
              else {
                Tables.setOverlay(sfDir, "orders", bname("orders_ck"))
                cteQ.foreach(run(_, sfDir)) // warm the new plan
                System.gc()
                timed(cteQ.map(nm => (nm, nm, sfDir)))
              }
            val all = bq ++ cteQ
            val tAll = tb ++ tc
            val qj = all.map(k => "\"" + k + f"\":${tAll(k)._1}%.3f")
              .mkString("{", ",", "}")
            val sj = all.map(k => "\"" + k + f"\":${tAll(k)._2}%.3f")
              .mkString("{", ",", "}")
            val tot = all.map(tAll(_)._1).filter(_ >= 0).sum
            bktTotal = tot
            bktBuild = buildS
            f""","bucketed":{"total":$tot%.3f,"build":$buildS%.3f,"queries":$qj,"spread":$sj}"""
          } finally {
            Tables.clearOverlays()
            spark.conf.set(
              "spark.sql.legacy.bucketedTableScan.outputOrdering",
              layoutAware.toString) // stays on under layout-aware dispatch
          }
        } catch { case e: Throwable =>
          // a failed layout rewrite must not take down the whole artifact
          Tables.clearOverlays()
          System.err.println(s"[bench] bucketed section failed: ${e.getMessage}")
          ""
        }
      }

    val spreads = spreadJson(timedMain)
    val layoutJson =
      if (!layoutAware) ""
      else f""","layout_aware":true,"layout_build":$layoutBuild%.3f"""
    // full detail line first — every section, spread, marginal
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"queries":$qs,"spread":$spreads,"sf":"$sfDir"$layoutJson$calJson$marginalJson$splitJson$bucketedJson}""")
    // compact trailer LAST: the detail line above can exceed a log-tail
    // capture (round 7's artifact lost its headline section to exactly
    // that), so re-emit the headline object — section totals, per-query
    // medians, calibration — small enough that a truncated tail always
    // holds the complete object
    val spQs =
      if (spMedians.isEmpty) ""
      else "," + "\"sp_queries\":" + headline
        .map(k => "\"" + k + f"\":${spMedians.getOrElse(k, -1.0)}%.3f")
        .mkString("{", ",", "}")
    val totalsJson = {
      val parts = Seq(f""""headline":$total%.3f""") ++
        (if (spTotal >= 0) Seq(f""""scan_parallel":$spTotal%.3f""") else Nil) ++
        (if (bktTotal >= 0) Seq(f""""bucketed":$bktTotal%.3f""",
          f""""bucketed_build":$bktBuild%.3f""") else Nil)
      parts.mkString("{", ",", "}")
    }
    val calTrailer = timedMain.get(calKey)
      .map { case (m, _) => f""","calibration":$m%.3f""" }.getOrElse("")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"sf":"$sfDir","totals":$totalsJson,"queries":$qs$spQs$calTrailer$layoutJson}""")
    spark.stop()
  }

  /** Worker threads, and shuffle partitions, of a bench-posture session. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A bench-posture session plus the fixture-size facts its posture was
    * derived from (the bench's later sections key off the same facts). */
  final case class Session(spark: SparkSession, sfBytes: Long,
      small: Boolean, hygiene: Boolean,
      shuffleDir: Option[java.nio.file.Path])

  /** The bench's session posture for the fixture at `sfDir`, in ONE place.
    * The mains under tools/ build their session here too, so the plans
    * they time or dump are the benched plans. `confs` apply last, over
    * the posture. */
  def session(sfDir: String, confs: Seq[(String, String)] = Nil): Session = {
    // r17: the probe cache defaults ON for users; the bench stays the
    // explicit COLD arm unless a session opts into warm (=1)
    graft.plans.ProbeAgg.pinColdUnlessRequested()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // single-JVM local mode: shuffle bytes never cross a network, so lz4
    // on the shuffle path is pure CPU overhead and a tmpfs shuffle dir
    // skips the disk — but tmpfs pages ARE RAM, and shuffle files live
    // until their stage's lineage is GC'd, so a long bench session
    // accumulates them: at sf10 (0.7 GB parquet) the uncompressed
    // session total hit 112 GB and the kernel OOM-killed the JVM. Both
    // tricks therefore engage only below a parquet-size cutoff; bigger
    // fixtures keep compression and spill to real disk, exactly as a
    // cluster deployment would.
    val sfBytes = {
      def du(p: java.io.File): Long =
        if (p.isFile) p.length
        else Option(p.listFiles).map(_.map(du).sum).getOrElse(0L)
      du(new java.io.File(sfDir))
    }
    val small = sfBytes < (200L << 20) // sf1 ≈ 75 MB in, sf10 ≈ 0.7 GB
    // big-fixture shuffle-file hygiene: within an interleaved round every
    // query's shuffle files coexist on the ONE local SSD until their
    // ShuffleDependency objects are GC'd AND the async ContextCleaner
    // drains — at sf100 that is tens of GB of dead files competing with
    // the live query for disk bandwidth (the r10 in-suite artifact: q3
    // 92.5 s in-suite vs 22.9 s solo). Between queries we force the GC
    // and drain the cleaner OUTSIDE the timed window; a real cluster
    // spreads this term across per-node disks, so removing it here makes
    // the single-box number MORE representative, not less.
    // shuffle-file hygiene engages only at sf100-class fixtures: the
    // blocking cleaner + per-query GC/drain exist for the multi-GB dead-
    // shuffle pile-up that contended the one SSD at sf100 (r10 artifact);
    // sf10's 1.7 GB fixture never showed it, and the r10 sf10 numbers —
    // the round-10 closing band — were measured WITHOUT hygiene. Keeping
    // the r11 hygiene on at sf10 is the round-12 A/B's prime suspect for
    // the 25-40% uniform sf10 inflation r11 attributed to box state.
    val hygiene = sfBytes >= (4096L << 20)
    // Disk-regime join policy (the generalization of the round-11 yoy
    // fix): in the sf100-class regime, AQE's SMJ→SHJ conversion is a
    // fatal-abort class — a converted build that cannot acquire memory
    // under concurrent pressure THROWS ("can't acquire N bytes to build
    // hash relation") where the sort-merge it replaced would have
    // spilled. This exposure is data-dependent and shared by every join
    // that can dispatch past the reduce bound (ProbeAgg fallback arms,
    // Dedup.components edge joins, the bucketed build), so the policy is
    // central, not per-query hints: big fixtures disable the conversion
    // (threshold 0) and pay sort CPU for abort-freedom — the same trade
    // the reference's engine makes by always owning a spill path. Below
    // the cutoff, the conversion's measured ~10% win on sf10 join
    // queries stands (q5's lineitem⋈orders skips sorting 60M rows).
    builder.config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      if (hygiene) "64m" else "256m")
    val shuffleDirRequested =
      if (small || !hygiene) None
      else {
        builder.config("spark.cleaner.referenceTracking.blocking.shuffle",
          "true")
        // PID-suffixed: two concurrent bench processes must not share a
        // spark.local.dir (each would drain the other's measurements)
        val d = s"${System.getProperty("java.io.tmpdir")}/graft-bench-" +
          s"shuffle-${ProcessHandle.current().pid()}"
        builder.config("spark.local.dir", d)
        Some(java.nio.file.Paths.get(d))
      }
    if (small) {
      builder.config("spark.shuffle.compress", "false")
      builder.config("spark.shuffle.spill.compress", "false")
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        builder.config("spark.local.dir", "/dev/shm/graft-bench")
    }
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate silently ignores builder configs when a session already
    // exists in this JVM — in that case the dir we'd poll is NOT the dir
    // Spark shuffles into, so drop the drain rather than measure noise
    val shuffleDir = shuffleDirRequested.filter(d =>
      spark.sparkContext.getConf.getOption("spark.local.dir")
        .contains(d.toString))
    Session(spark, sfBytes, small, hygiene, shuffleDir)
  }
}
