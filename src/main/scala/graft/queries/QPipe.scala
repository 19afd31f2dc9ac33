package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{AsofJoin, Dedup, Funnel, Mixture, Multimodal, RangeJoin, Similarity, TextAnalysis, TextPrep, TfIdf}
import Q._

/** Training-data-pipeline operators through the gate: exact/near dedup,
  * text analysis, similarity search, multimodal plumbing. Oracle SQL is
  * provided wherever DuckDB can express the identical computation;
  * LSH/simhash/ANN are rows-only here and verified against exact
  * baselines in PipelineSpec.
  */
object QPipe {

  /** Shared hyperplane tables for the gate ANN query (dim 64, 4 planes,
    * 4 tables) — the oracle SQL embeds the same integers as literals. */
  private val annTables = Similarity.intHyperplaneTables(64, 4, 4)

  /** Plane sets for the embed near-dup gate query (dim 64, 6 bits, 8
    * tables, double-sided 1-bit multiprobe): recall on the fixture's 60
    * qualifying pairs is 1.0 with margin (commit 6d58f14 sweep:
    * 6-bit/8-table misses 0, 8-bit/8-table misses 4 — the run is
    * deterministic), so the LSH path's output EQUALS the brute-force
    * all-pairs oracle while shuffling only (table, bucket, id). */
  private val embedTables = Similarity.intHyperplaneTables(64, 6, 8)

  /** BPE merge list for the q_text_bpe gate — trained once on the
    * sf0.01 documents table (tools/BpeTrain, 32 merges, deterministic)
    * and hardcoded like any shipped tokenizer artifact: the gate applies
    * the same fixed tokenizer at every scale. The oracle SQL replays the
    * IDENTICAL algorithm as a chain of replace() calls (see
    * [[graft.ops.Bpe]] for the literal-replace equivalence proof). */
  private val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"))

  /** The per-word BPE encode as DuckDB SQL. Representation: every
    * symbol wrapped in single spaces (`␣sym␣`, so adjacent symbols show
    * a DOUBLE space between them); each merge is one replace of
    * `␣a␣␣b␣` with `␣ab␣`. The wrapping makes the textual replace
    * EXACTLY symbol-level left-to-right non-overlapping merging — a
    * bare `replace('a b','ab')` would also match `a` against the
    * prefix of a longer symbol (`e row` → `erow`), which is not BPE.
    * The final trim + double-space collapse yields the token stream. */
  private def bpeChainSql(word: String): String = {
    val wrapped =
      s"' ' || array_to_string(regexp_split_to_array($word, ''), '  ') || ' '"
    val merged = bpeMerges.foldLeft(wrapped) {
      case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    s"replace(trim($merged), '  ', ' ')"
  }

  val queries: Map[String, QueryFn] = Map(
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exactClusters(t(s, dir, "documents"), "doc_id", "text")
        .transform(ordered(_, col("content_hash")))
    },

    // the xxhash64 fast path: the gate compares the CLUSTERS (canonical
    // id + copy count), which are hash-algorithm-agnostic — the oracle
    // derives the same clusters from md5
    "q_dedup_exact_fast" -> { (s, dir) =>
      Dedup.exactClustersFast(t(s, dir, "documents"), "doc_id", "text")
        .select(col("canonical_id"), col("n_copies"))
        .transform(ordered(_, col("canonical_id")))
    },

    "q_text_stats" -> { (s, dir) =>
      // one-pass TextMetrics kernel (same values as the regex stack,
      // computed in a single codepoint loop, fanned out across cores)
      val m = TextAnalysis.withMetrics(t(s, dir, "documents"), "text")
      val chars = col("metrics.n_chars")
      val toks = col("metrics.n_tokens")
      m.select(col("doc_id"),
          toks.as("n_tokens"),
          round(when(chars === 0, 0.0).otherwise(
            col("metrics.n_punct").cast("double") / chars), 6)
            .as("punct_ratio"),
          round(when(chars === 0, 0.0).otherwise(
            col("metrics.n_digit").cast("double") / chars), 6)
            .as("digit_ratio"),
          round(when(toks === 0, 0.0).otherwise(
            col("metrics.n_nonspace").cast("double") / toks), 6)
            .as("mean_word_len"))
        .transform(ordered(_, col("doc_id")))
    },

    // as-of join: every click aligned to the user's latest view at or
    // before it — DuckDB's native ASOF JOIN is the oracle, our side is
    // the one-shuffle union+window plan (AsofJoin docs).
    "q_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("view_value"))
      AsofJoin.asofJoin(clicks, views, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof_view_value").as("view_value"))
        .orderBy("event_id")
    },

    // range join: parts priced inside synthesized supplier intervals —
    // bucketed equi-join + exact filter vs DuckDB's native range join.
    "q_range_join" -> { (s, dir) =>
      val points = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice").as("v"))
      val intervals = t(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_suppkey") * 13 % 900).cast("double").as("lo"),
        (col("s_suppkey") * 13 % 900 + 1 + col("s_suppkey") * 7 % 50)
          .cast("double").as("hi"))
      val joined = RangeJoin
        .rangeJoin(points, "v", intervals, "lo", "hi", bucketWidth = 32)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_points"),
          sum(col("p_partkey")).as("key_sum"))
      intervals.select("s_suppkey").join(joined, Seq("s_suppkey"), "left")
        .select(col("s_suppkey"),
          coalesce(col("n_points"), lit(0L)).as("n_points"),
          coalesce(col("key_sum"), lit(0L)).as("key_sum"))
        .orderBy("s_suppkey")
    },

    // ordered funnel: view -> click -> purchase progression counts,
    // strict-ordering semantics, one shuffle (see Funnel docs).
    "q_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      Funnel.counts(ev, "user_id", "ts", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click" && col("value") > 120),
        "purchase" -> (col("event_type") === "purchase" &&
          col("value") > 120)))
    },

    "q_text_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "\\s+", " ")
            .cast("binary")).as("fp"))
        .orderBy("doc_id")
    },

    // language-ID heuristic: tokenize → broadcast-join marker vocab →
    // argmax; the oracle replays the same vocabulary and the fold's
    // first-wins tie-break as a CASE chain.
    "q_text_langid" -> { (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // banded MinHash-LSH near-dup pairs. Band width adapts to corpus
    // size (Dedup.adaptiveBands): at gate scale it runs r=2 rows/band —
    // P(miss a true jaccard-0.5 pair) = (1-0.5²)³² ≈ 1e-4 — so the LSH
    // output equals the all-pairs oracle on the fixture (verified
    // empirically; the run is deterministic). Output is the integer set
    // sizes — no float column for the driver hash to trip on; jaccard =
    // n_common/n_union is derived.
    "q_dedup_minhash" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b", "n_common", "n_union")
        .transform(ordered(_, col("id_a"), col("id_b")))
    },

    // simhash signatures, differentially verifiable: the token hash is an
    // md5 prefix (engine-portable), so the oracle recomputes the exact
    // 60-bit signature in SQL.
    "q_dedup_simhash" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      Dedup.simhash(d, "doc_id", "text").orderBy("id")
    },

    // exact word-3-gram Jaccard near-dup pairs: the (gram, id) self-join
    // computes |A∩B| exactly; the threshold test is the integer
    // cross-multiplication, so the output is integer-only and the oracle
    // replays the identical computation in SQL.
    "q_dedup_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, thrNum = 2, thrDen = 5)
        .orderBy("id_a", "id_b")
    },

    // duplicate CLUSTERS from the exact word-3-gram jaccard pair graph:
    // distributed min-label propagation to the component's smallest
    // doc_id (singletons map to themselves). The oracle replays the
    // identical pair SQL and closes it with a recursive CTE, so both
    // engines compute the same integer-exact graph and the same
    // min-reachable-id fixpoint.
    "q_dedup_components" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, thrNum = 2, thrDen = 5)
      Dedup.components(pairs.select("id_a", "id_b"), "id_a", "id_b",
          d.select("doc_id"), "doc_id")
        .orderBy("doc_id")
    },

    // canonical member per duplicate cluster (longest text, ties →
    // smallest id) + cluster size — the keep-one policy a dedup
    // pipeline actually executes on the component output
    "q_dedup_canonical" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, thrNum = 2, thrDen = 5)
      Dedup.canonicalDocs(d, "doc_id", "text",
          pairs.select("id_a", "id_b"), "id_a", "id_b")
        .orderBy("component_id")
    },

    // reproducible global shuffle: seeded md5 order, identical bytes in
    // both engines
    "q_shuffle_det" -> { (s, dir) =>
      Mixture.deterministicShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", "epoch0")
        .select("doc_id", "_shuffle_key")
    },

    // embedding-cosine near-dup: sign-LSH candidates over integer-
    // quantized vectors, exact integer cosine filter (cos ≥ 2/5) — the
    // oracle is BRUTE FORCE all-pairs, so this gate also pins the LSH
    // recall at 1.0 on the fixture.
    "q_dedup_embed" -> { (s, dir) =>
      Similarity.intNearPairsExact(t(s, dir, "embeddings"), "vec_id",
          "embedding", embedTables, thrNum = 2, thrDen = 5)
        .orderBy("id_a", "id_b")
    },

    // SemDeDup (cluster-scoped semantic dedup): deterministic seed
    // centroids partition the embedding space; duplicate pairs are
    // within-cell only (cos ≥ 2/5, integer-exact) — the oracle replays
    // cells AND pairs, verifying the cluster scoping itself.
    "q_semdedup" -> { (s, dir) =>
      graft.ops.SemDedup.semPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", nLists = 8, thrNum = 2, thrDen = 5)
        .orderBy("id_a", "id_b")
    },

    // brute-force cosine against one query vector — oracle recomputes via
    // a positional unnest join (embeddings are row-wise comparable).
    "q_sim_cosine" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.cosineAll(e, "vec_id", "embedding", query)
        .transform(ordered(_, col("vec_id")))
    },

    // ANN via multi-table sign-LSH over integer-quantized vectors: every
    // dot product is an exact integer, so bucket membership and the
    // ranking key are bit-reproducible in DuckDB and the oracle replays
    // the identical index (recall vs brute force stays in PipelineSpec).
    "q_sim_ann_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.annTopKExact(e, "vec_id", "embedding", query, 20, annTables)
    },

    // IVF ANN (the trained-quantizer-free scale path): deterministic
    // seed centroids, integer-exact cell assignment and ranking — the
    // oracle replays the whole inverted file, cells included.
    "q_sim_ivf_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.ivfTopKExact(e, "vec_id", "embedding", query,
        k = 20, nLists = 16, nProbe = 4)
    },

    // product-quantization ANN (the memory-bounded scale path next to
    // IVF): deterministic per-subspace codebooks, integer-exact codes,
    // ADC candidate cut, exact cosine rerank — the oracle replays the
    // whole encoding (codes, ADC sums) in SQL.
    "q_sim_pq_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      Similarity.pqTopKExact(e, "vec_id", "embedding", query,
        k = 20, m = 4, ksub = 8, candidates = 64)
    },

    // hashed TF-IDF featurization (documents → embedding space): md5-
    // prefix token buckets, smooth idf; df table is nBuckets-bounded →
    // broadcast; oracle replays tokenizer, hash, counts and the weight.
    "q_text_tfidf" -> { (s, dir) =>
      TfIdf.sparse(t(s, dir, "documents"), "doc_id", "text", 64)
        .withColumn("weight", round(col("weight"), 6))
        .orderBy("doc_id", "bucket")
    },

    // multimodal plumbing: text bytes as a stand-in blob → mapPartitions
    // decode stage → frame sampling; oracle checks the SQL-expressible
    // outputs (byte length, stub format, frame count).
    "q_multimodal_meta" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("blob", col("text").cast("binary"))
      val withMeta = Multimodal.withMediaMeta(d, "blob")
      val frames = Multimodal.sampleFrames(d, "doc_id", "blob")
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      withMeta.select(col("doc_id"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.format").as("format"))
        .join(frames, Seq("doc_id"))
        .orderBy("doc_id")
    },

    // PII scrubbing: deterministic PII spans (email/card/SSN/phone/IP
    // derived from doc_id) appended to the fixture text, then the
    // ordered regexp_replace chain removes them — the oracle builds the
    // same string and replays the same RE2-safe chain.
    "q_pii_scrub" -> { (s, dir) =>
      val key4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
      val synth = concat(col("text"),
        lit(" reach me: user"), col("doc_id").cast("string"),
        lit("@mail.example.org, +1 (555) 010-"), key4,
        lit(", ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7, card 4012 8888 8888 "), key4,
        lit(", ssn 078-05-"), key4)
      t(s, dir, "documents").select(col("doc_id"),
          md5(TextPrep.scrubPii(synth).cast("binary")).as("scrubbed_md5"),
          regexp_count(synth, lit(TextPrep.piiPatterns.head._1))
            .cast("long").as("n_emails"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition signals: the fixture text is one line, so
    // line structure is synthesized by breaking on stop-words (same
    // rewrite in the oracle); duplicated vocabulary yields genuine
    // duplicate lines to measure.
    "q_text_repetition" -> { (s, dir) =>
      val lined = regexp_replace(col("text"), " (the|a) ", "\n")
      val m = TextPrep.repetitionSignals(lined)
      t(s, dir, "documents").select(col("doc_id"),
          m.getField("n_lines").as("n_lines"),
          m.getField("dup_line_frac").as("dup_line_frac"),
          m.getField("dup_line_char_frac").as("dup_line_char_frac"))
        .orderBy("doc_id")
    },

    // token-window chunking (32-token windows, 8 shared): the
    // pre-tokenization fan-out of a training pipeline — one row per
    // chunk, every token in at least one chunk.
    "q_text_chunks" -> { (s, dir) =>
      TextPrep.chunk(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    },

    // distributed running sum: the two-phase prefix pipeline for window
    // partitions one task cannot sort (here: 5 order priorities over all
    // of orders — the classic scale-killer shape). The ordering key is
    // o_orderkey (globally unique — a running frame over a NON-unique
    // order is tie-ambiguous in every engine, so only a total order can
    // gate exactly); decimal value so the block-wise reassociation is
    // bit-exact against the serial oracle.
    "q_win_running_dist" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(14,2)").as("price"))
      graft.ops.BigWindow.runningSum(o, "o_orderpriority",
          Seq("o_orderkey"), "price", "running_price")
        .select(col("o_orderkey"), col("o_orderpriority"),
          // accumulation is decimal (bit-exact under reassociation);
          // the OUTPUT is double — decimal output columns trip the
          // driver's two read paths (see check.py STRICT-DECIMAL), and
          // every value here is exact in a double (cents < 2^53)
          col("running_price").cast("double").as("running_price"))
        .orderBy("o_orderkey")
    },

    // bounded trailing frame over the same distributed layout: blocks
    // re-send their last frame−1 rows as carries, the frame runs wide
    "q_win_trailing_dist" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(14,2)").as("price"))
      graft.ops.BigWindow.trailingSum(o, "o_orderpriority",
          Seq("o_orderkey"), "price", "trail_price", frame = 20)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("trail_price").cast("double").as("trail_price"))
        .orderBy("o_orderkey")
    },

    // lag across distributed blocks — the offset-function leg of the
    // same carry layout
    "q_win_lag_dist" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(14,2)").as("price"))
      graft.ops.BigWindow.lagValue(o, "o_orderpriority",
          Seq("o_orderkey"), "price", "prev_price", offset = 3)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("prev_price").cast("double").as("prev_price"))
        .orderBy("o_orderkey")
    },

    // salted two-phase aggregation: the manual skew complement to AQE —
    // the gate proves the (key, salt) partial + key final pipeline is
    // bit-identical to a plain GROUP BY (the salt must only re-route
    // rows, never change the aggregate)
    "q_skew_salted" -> { (s, dir) =>
      // event_id in the projection gives the derived salt something to
      // hash: rows of one hot event_type really spread over 16 buckets
      graft.ops.Skew.saltedCount(
          t(s, dir, "events").select("event_id", "event_type"),
          "event_type", numSalts = 16)
        .orderBy("event_type")
    },

    // salted fact⋈dim join: hot fact keys spread across 16 salt buckets,
    // dim exploded to meet them — aggregate equality vs the plain join
    // proves no row is lost or duplicated by the salting
    "q_skew_join" -> { (s, dir) =>
      val o = t(s, dir, "orders").select("o_custkey", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.ops.Skew.saltedJoin(o, c, "o_custkey", "c_custkey",
          numSalts = 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment")
    },

    // sketch-detected hot-key salting: Misra–Gries finds the suppliers
    // above 1% of the fact, ONLY those salt (dim rows for cold keys are
    // never exploded); output is invariant to the detected set, so the
    // gate is exact whichever keys the sketch surfaces
    "q_skew_autojoin" -> { (s, dir) =>
      val l = t(s, dir, "lineitem").select("l_suppkey", "l_quantity")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      graft.ops.Skew.autoSaltedJoin(l, sup, "l_suppkey", "s_suppkey",
          numSalts = 8, hotFraction = 0.01, capacity = 128)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("qty"))
        .orderBy("s_nationkey")
    },

    // subword/BPE tokenization: the fixed trained-merges tokenizer
    // applied as one interpreted kernel pass per doc; the gate pins both
    // the token COUNT and the full token STREAM (md5 of the joined
    // tokens) against DuckDB replaying the identical merge algorithm.
    "q_text_bpe" -> { (s, dir) =>
      import graft.ops.Bpe
      t(s, dir, "documents").select(col("doc_id"),
          Bpe.tokenCount(col("text"), bpeMerges).as("n_bpe_tokens"),
          md5(array_join(Bpe.tokens(col("text"), bpeMerges), " ")
            .cast("binary")).as("tokens_md5"))
        .orderBy("doc_id")
    },

    // deterministic 80/10/10 train/val/test split by engine-portable key
    // hash — stable across runs/engines/partitionings; the oracle
    // replays the identical md5-prefix bucketing in SQL.
    // incremental exact dedup (the nightly-crawl shape): corpus = docs
    // with id % 3 != 0; the batch re-crawls every id % 5 == 0 doc under
    // a shifted id, plus the genuinely-new id % 3 == 0 docs. Re-crawled
    // corpus content drops via the hash anti-join; content appearing
    // twice within the batch (id % 15 == 0: once at its own id, once
    // shifted) keeps the smaller id.
    "q_dedup_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionAll(docs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      Dedup.dropAgainstCorpus(corpus, batch, "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    },

    // per-source cap (domain mixing stage 1): keep the 7 smallest-
    // selection-hash docs of each source. The hash-threshold prune keeps
    // the per-key window bounded however large a key is; the gate runs
    // the pruned path and the oracle replays plain rank — equal output
    // is the prune's exactness proof at gate scale (spec proves it
    // again on a skewed fixture).
    "q_cap_per_source" -> { (s, dir) =>
      Mixture.capPerKey(t(s, dir, "documents"), "source", "doc_id",
          maxRows = 7)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // mixture rebalance (domain mixing stage 2): largest exact subsample
    // hitting declared source weights; unlisted sources drop. Summary
    // per source: the selected counts are the floor(w_k * T) targets.
    "q_mix_rebalance" -> { (s, dir) =>
      Mixture.rebalance(t(s, dir, "documents"), "source", "doc_id",
          Map("src1" -> 0.4, "src3" -> 0.3, "src5" -> 0.2,
            "src7" -> 0.07, "src9" -> 0.03))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source")
    },

    // Gopher quality rules (published default thresholds): per-doc
    // metric battery + pass flag, replayed metric-for-metric in SQL
    "q_gopher_rules" -> { (s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "text")
        .select("doc_id", "gopher_words", "gopher_mean_word_len",
          "gopher_symbol_ratio", "gopher_alpha_ratio", "gopher_pass")
        .orderBy("doc_id")
    },

    // temperature-smoothed mixture (alpha=0.5): per-source targets
    // derive from the data (w_k = n_k^alpha) instead of a hand-written
    // weight table; same hash-rank selection as q_mix_rebalance
    "q_mix_temperature" -> { (s, dir) =>
      Mixture.temperatureRebalance(t(s, dir, "documents"),
          "source", "doc_id", alpha = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source")
    },

    // substring-duplication score: fraction of each doc's distinct word
    // 3-grams shared with another doc. Gram df -> semi-join against the
    // duplicated subset only; text never shuffles.
    "q_substring_dup" -> { (s, dir) =>
      Dedup.substringDupScore(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minDf = 2)
        .select("doc_id", "n_grams", "dup_grams", "dup_score")
        .transform(ordered(_, col("doc_id")))
    },

    // C4 line-rule cleaning: line structure synthesized by breaking on
    // stop-words (the fixture text is one line); terminal-punctuation
    // rule off because the word-salad fixture has no punctuation — the
    // spec exercises it on punctuated synthetic text.
    "q_c4_clean" -> { (s, dir) =>
      val lined = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (the|a) ", "\n").as("text"))
      TextPrep.c4CleanLines(lined, "doc_id", "text", minWords = 5,
          requireTerminalPunct = false)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"),
          col("doc_flagged"))
        .orderBy("doc_id")
    },

    "q_dataset_split" -> { (s, dir) =>
      TextPrep.withSplit(t(s, dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("split")
    },

    // benchmark decontamination: every 50th doc plays the eval set;
    // corpus docs sharing any 4-word gram with it are flagged. The eval
    // gram set is broadcast — the corpus side never shuffles.
    "q_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      TextPrep.contamination(docs,
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
        .select("doc_id", "eval_gram_hits", "contaminated")
        .orderBy("doc_id")
    },

    // concat-and-chop sequence packing: deterministic hash-order layout,
    // two-phase distributed prefix sum (no single-partition sort), rows
    // assigned to the 512-token sequence their first token lands in.
    "q_pack_sequences" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(regexp_replace(trim(col("text")), "\\s+", " "), " "))
          .cast("long").as("n_tokens"))
      TextPrep.packSequences(docs, "doc_id", "n_tokens",
          budget = 512, blocks = 64)
        .orderBy("doc_id")
    },

    // corpus-frequency boilerplate removal (CCNet-style): line structure
    // synthesized by breaking on stop-words (same rewrite as
    // q_text_repetition); lines shared by >= 3 distinct docs are dropped
    // everywhere and each text reassembled in order. At sf0.01 this
    // removes 166 of 2038 lines via 34 frequent lines — the anti-join's
    // build side stays tiny, as at scale.
    "q_text_boilerplate" -> { (s, dir) =>
      val lined = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (the|a) ", "\n").as("text"))
      TextPrep.removeBoilerplate(lined, "doc_id", "text", minDocs = 3)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // corpus-wide keep-FIRST line dedup (the RefinedWeb recipe next to
    // boilerplate's drop-everywhere): first occurrence = smallest
    // (doc_id, pos), every later copy removed, text never shuffles.
    "q_dedup_lines_global" -> { (s, dir) =>
      val lined = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (the|a) ", "\n").as("text"))
      TextPrep.dedupLinesGlobal(lined, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // per-document keyword extraction: top-3 terms by (tf DESC, corpus
    // df ASC, term ASC) — integer-only ranking key, so the oracle
    // replays the identical window (no libm ln in the comparator).
    "q_text_keywords" -> { (s, dir) =>
      TextAnalysis.keywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },

    // corpus vocabulary builder: top-50 terms with cf >= 5, collection
    // and document frequency — the heavy-hitter counting pass a
    // tokenizer trainer starts from.
    "q_text_vocab" -> { (s, dir) =>
      TextAnalysis.vocab(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, topN = 50)
    },

    // CCNet-style statistical quality filter: train a Laplace-smoothed
    // token-bigram LM on the English documents (the trusted reference
    // corpus), score EVERY document's perplexity under it. The model
    // table is vocabulary-bounded → broadcast; the only real shuffle is
    // the per-document aggregation.
    "q_text_lm_ppl" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.lmTrain(
        docs.filter(col("lang") === "en"), "text")
      TextAnalysis.lmPerplexity(docs, model, "doc_id", "text")
        .orderBy("doc_id")
    },

    // DSIR-style importance weighting (data selection): hashed
    // unigram+bigram bag models of the en target vs the whole raw
    // corpus; per-doc log importance ratio. Both models are
    // bucket-bounded count tables → broadcast; the corpus shuffles only
    // its own feature stream back onto the doc key.
    "q_dsir_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis.importanceWeights(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text",
          nBuckets = 1024)
        .orderBy("doc_id")
    },

    // stratified deterministic sampling (corpus mixing): keep half of
    // en, all of zh, a fifth of everything else — pure key-hash filter,
    // no RNG, replayed bucket-for-bucket by the oracle.
    "q_sample_stratified" -> { (s, dir) =>
      TextPrep.sampleStratified(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 1.0), default = 0.2)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    })

  val oracleSql: Map[String, String] = Map(
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.value > 120
        |    AND CAST(e.ts AS TIMESTAMP) >= v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.value > 120
        |    AND CAST(e.ts AS TIMESTAMP) >= c.t_click
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click,
        |  (SELECT count(*) FROM p) AS n_purchase""".stripMargin,

    "q_range_join" ->
      """SELECT s.s_suppkey,
        |  count(p.p_partkey) AS n_points,
        |  CAST(COALESCE(sum(p.p_partkey), 0) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT s_suppkey,
        |    CAST(s_suppkey * 13 % 900 AS DOUBLE) AS lo,
        |    CAST(s_suppkey * 13 % 900 + 1 + s_suppkey * 7 % 50 AS DOUBLE)
        |      AS hi
        |  FROM supplier) s
        |LEFT JOIN part p ON p.p_retailprice BETWEEN s.lo AND s.hi
        |GROUP BY s.s_suppkey ORDER BY s.s_suppkey""".stripMargin,

    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    round(max(value), 2) AS view_value
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
        |SELECT c.event_id, c.user_id, v.view_value
        |FROM clicks c
        |ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "q_dedup_exact_fast" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY canonical_id""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |  round(CASE WHEN length(text) = 0 THEN 0
        |    ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |         / length(text) END, 6) AS punct_ratio,
        |  round(CASE WHEN length(text) = 0 THEN 0
        |    ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0
        |         / length(text) END, 6) AS digit_ratio,
        |  round(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(regexp_replace(text, '\s+', '', 'g')) * 1.0
        |         / len(string_split_regex(trim(text), '\s+')) END, 6)
        |    AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' reach me: user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.org, +1 (555) 010-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ', ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.7, card 4012 8888 8888 '
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ', ssn 078-05-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  md5(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{4}([ -]?[0-9]{4}){3}', '<CARD>', 'g'),
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |      '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS scrubbed_md5,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails
        |FROM synth ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH lined AS (
        |  SELECT doc_id, regexp_replace(text, ' (the|a) ', chr(10), 'g') AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, u.x AS line
        |  FROM lined, unnest(list_filter(string_split(t, chr(10)),
        |    x -> length(x) > 0)) AS u(x)),
        |per AS (
        |  SELECT doc_id, line, count(*) AS k, length(line) AS len
        |  FROM lines GROUP BY doc_id, line)
        |SELECT d.doc_id,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS n_lines,
        |  CASE WHEN coalesce(sum(k), 0) = 0 THEN 0.0
        |    ELSE round((sum(k) - count(per.line)) * 1.0 / sum(k), 6) END
        |    AS dup_line_frac,
        |  CASE WHEN coalesce(sum(k * len), 0) = 0 THEN 0.0
        |    ELSE round(sum(CASE WHEN k > 1 THEN k * len ELSE 0 END) * 1.0
        |               / sum(k * len), 6) END AS dup_line_char_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |b AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |nw AS (
        |  SELECT b.doc_id, b.text FROM b
        |  WHERE md5(b.text) NOT IN (SELECT md5(text) FROM corpus)),
        |r AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rn
        |  FROM nw)
        |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_cap_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) r
        |WHERE rn <= 7 ORDER BY doc_id""".stripMargin,

    "q_mix_rebalance" ->
      """WITH wts(source, w) AS (VALUES
        |    ('src1', CAST(0.4 AS DOUBLE)), ('src3', CAST(0.3 AS DOUBLE)),
        |    ('src5', CAST(0.2 AS DOUBLE)), ('src7', CAST(0.07 AS DOUBLE)),
        |    ('src9', CAST(0.03 AS DOUBLE))),
        |c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT min(n / w) AS cap FROM c JOIN wts USING (source)),
        |tgt AS (
        |  SELECT source,
        |    least(n, CAST(floor(w * (SELECT cap FROM t)) AS BIGINT)) AS k
        |  FROM wts JOIN c USING (source)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.source, count(*) AS n,
        |  CAST(sum(r.doc_id) AS BIGINT) AS id_sum,
        |  min(r.doc_id) AS id_min, max(r.doc_id) AS id_max
        |FROM r JOIN tgt USING (source) WHERE rn <= k
        |GROUP BY 1 ORDER BY r.source""".stripMargin,

    "q_gopher_rules" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS words,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
        |    len(regexp_extract_all(text, '#')) +
        |      len(regexp_extract_all(text, '\.\.\.')) AS symbols,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           w -> regexp_matches(w, '[a-zA-Z]'))) END AS alpha_words
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, words,
        |    CASE WHEN words = 0 THEN 0.0
        |         ELSE chars * 1.0 / words END AS mwl,
        |    CASE WHEN words = 0 THEN 0.0
        |         ELSE symbols * 1.0 / words END AS sym,
        |    CASE WHEN words = 0 THEN 0.0
        |         ELSE alpha_words * 1.0 / words END AS alpha
        |  FROM m)
        |SELECT doc_id, words AS gopher_words,
        |  round(mwl, 6) AS gopher_mean_word_len,
        |  round(sym, 6) AS gopher_symbol_ratio,
        |  round(alpha, 6) AS gopher_alpha_ratio,
        |  (words >= 50 AND words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |    AND sym <= 0.1 AND alpha >= 0.8) AS gopher_pass
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |wts AS (SELECT source, POWER(n, 0.5) AS w FROM c),
        |t AS (SELECT min(n / w) AS cap FROM c JOIN wts USING (source)),
        |tgt AS (
        |  SELECT source,
        |    least(n, CAST(floor(w * (SELECT cap FROM t)) AS BIGINT)) AS k
        |  FROM wts JOIN c USING (source)),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.source, count(*) AS n,
        |  CAST(sum(r.doc_id) AS BIGINT) AS id_sum,
        |  min(r.doc_id) AS id_min, max(r.doc_id) AS id_max
        |FROM r JOIN tgt USING (source) WHERE rn <= k
        |GROUP BY 1 ORDER BY r.source""".stripMargin,

    "q_substring_dup" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(ws[CAST(u.s AS INT) + 1 : CAST(u.s AS INT) + 3],
        |      ' ') AS gram
        |  FROM w, unnest(generate_series(0, len(ws) - 3)) AS u(s)),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM g GROUP BY 1),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |h AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS dup_grams
        |  FROM g JOIN dup USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(tot.n_grams, 0) AS n_grams,
        |  coalesce(h.dup_grams, 0) AS dup_grams,
        |  CASE WHEN coalesce(tot.n_grams, 0) = 0 THEN 0.0
        |       ELSE round(coalesce(h.dup_grams, 0) / tot.n_grams, 6)
        |  END AS dup_score
        |FROM documents d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_c4_clean" ->
      """WITH lined AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, ' (the|a) ', chr(10), 'g') AS t
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(t, chr(10)),
        |      x -> length(trim(x)) > 0) AS l
        |  FROM lined),
        |k AS (
        |  SELECT doc_id, text, l,
        |    list_filter(l, x ->
        |      len(string_split(regexp_replace(trim(x), '\s+', ' ', 'g'),
        |        ' ')) >= 5
        |      AND NOT contains(lower(trim(x)), 'javascript')) AS kept
        |  FROM ls)
        |SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  coalesce(md5(array_to_string(kept, chr(10))), md5(''))
        |    AS clean_md5,
        |  (contains(text, '{') OR contains(lower(text), 'lorem ipsum'))
        |    AS doc_flagged
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_dataset_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 10000 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 8000 THEN 'train'
        |            WHEN b < 9000 THEN 'val'
        |            WHEN b < 10000 THEN 'test' END AS split,
        |  count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,

    "q_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(ws[CAST(u.s AS INT) + 1 : CAST(u.s AS INT) + 4],
        |      ' ') AS gram
        |  FROM w, unnest(generate_series(0, len(ws) - 4)) AS u(s)),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |h AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS eval_gram_hits
        |  FROM g JOIN e USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(h.eval_gram_hits, 0) AS eval_gram_hits,
        |  coalesce(h.eval_gram_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_text_boilerplate" ->
      """WITH lined AS (
        |  SELECT doc_id, regexp_replace(text, ' (the|a) ', chr(10), 'g')
        |    AS t
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id,
        |    list_filter(string_split(t, chr(10)), x -> length(x) > 0) AS l
        |  FROM lined),
        |lines AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos,
        |    unnest(l) AS line
        |  FROM ls),
        |freq AS (
        |  SELECT lh FROM (SELECT DISTINCT doc_id, md5(line) AS lh
        |                  FROM lines)
        |  GROUP BY lh HAVING count(*) >= 3),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE md5(line) NOT IN (SELECT lh FROM freq)),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
        |  FROM kept GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        |  FROM lines GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(tot.n_lines, 0) AS n_lines,
        |  coalesce(ka.n_kept, 0) AS n_kept,
        |  coalesce(ka.clean_md5, md5('')) AS clean_md5
        |FROM documents d
        |LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN ka ON d.doc_id = ka.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_dedup_lines_global" ->
      """WITH lined AS (
        |  SELECT doc_id, regexp_replace(text, ' (the|a) ', chr(10), 'g')
        |    AS t
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id,
        |    list_filter(string_split(t, chr(10)), x -> length(x) > 0) AS l
        |  FROM lined),
        |lines AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS pos,
        |    unnest(l) AS line
        |  FROM ls),
        |kept AS (
        |  SELECT doc_id, pos, line FROM (
        |    SELECT doc_id, pos, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |        AS occ
        |    FROM lines)
        |  WHERE occ = 1),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
        |  FROM kept GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        |  FROM lines GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(tot.n_lines, 0) AS n_lines,
        |  coalesce(ka.n_kept, 0) AS n_kept,
        |  coalesce(ka.clean_md5, md5('')) AS clean_md5
        |FROM documents d
        |LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN ka ON d.doc_id = ka.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, tok AS term
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '[\s[:punct:]]+'))
        |            AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS INT)
        |      AS rank
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, rank, term, tf, df FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_text_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, tok AS term
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '[\s[:punct:]]+'))
        |            AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0)
        |SELECT term, CAST(count(*) AS BIGINT) AS cf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM toks GROUP BY term HAVING count(*) >= 5
        |ORDER BY cf DESC, term ASC LIMIT 50""".stripMargin,

    "q_text_lm_ppl" ->
      """WITH ws AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[\s[:punct:]]+'),
        |                w -> length(w) > 0) AS ws
        |  FROM documents),
        |uni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(ws) AS w1 FROM ws WHERE lang = 'en')
        |  GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM uni),
        |refbi AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
        |    SELECT ws[i] AS w1, ws[i+1] AS w2
        |    FROM (SELECT ws FROM ws WHERE lang = 'en' AND len(ws) >= 2),
        |      LATERAL unnest(generate_series(1, len(ws)-1)) AS t(i))
        |  GROUP BY w1, w2),
        |docbi AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT doc_id, ws FROM ws WHERE len(ws) >= 2),
        |    LATERAL unnest(generate_series(1, len(ws)-1)) AS t(i))
        |SELECT d.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN b.c12 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  round(avg(-ln((coalesce(b.c12,0)+1.0)/(coalesce(u.c1,0)+v.v))),6)
        |    AS avg_nll,
        |  round(exp(avg(-ln((coalesce(b.c12,0)+1.0)
        |    /(coalesce(u.c1,0)+v.v)))),6) AS ppl
        |FROM docbi d
        |LEFT JOIN refbi b ON d.w1 = b.w1 AND d.w2 = b.w2
        |LEFT JOIN uni u ON d.w1 = u.w1
        |CROSS JOIN v
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q_dsir_weights" ->
      """WITH ws AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[\s[:punct:]]+'),
        |                w -> length(w) > 0) AS ws
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(ws) AS g FROM ws
        |  UNION ALL
        |  SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
        |  FROM (SELECT doc_id, lang, ws FROM ws WHERE len(ws) >= 2),
        |    LATERAL unnest(generate_series(1, len(ws)-1)) AS t(i)),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 1024
        |      AS bucket
        |  FROM feats),
        |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc
        |       FROM fb WHERE lang = 'en' GROUP BY bucket),
        |qc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS qc
        |       FROM fb GROUP BY bucket),
        |tot AS (SELECT
        |  (SELECT CAST(sum(tc) AS BIGINT) FROM tc) AS t_tot,
        |  (SELECT CAST(sum(qc) AS BIGINT) FROM qc) AS q_tot)
        |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  round(sum(ln((coalesce(tc.tc, 0) + 1.0) / (tot.t_tot + 1024))
        |          - ln((coalesce(qc.qc, 0) + 1.0) / (tot.q_tot + 1024))), 6)
        |    AS weight
        |FROM fb f
        |LEFT JOIN tc ON f.bucket = tc.bucket
        |LEFT JOIN qc ON f.bucket = qc.bucket
        |CROSS JOIN tot
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    "q_sample_stratified" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 10000 AS b
        |  FROM documents)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM h
        |WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 10000
        |               ELSE 2000 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_win_running_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_price
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q_win_trailing_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trail_price
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q_win_lag_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(14,2)), 3) OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey) AS DOUBLE) AS prev_price
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q_skew_salted" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_skew_autojoin" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // DuckDB's array_to_string of an EMPTY list is NULL (Spark's
    // array_join gives ''), so an empty or whitespace-only document needs
    // the coalesce to read 0 tokens and md5('') on both engines
    "q_text_bpe" -> {
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    coalesce(array_to_string(list_transform(
         |      list_filter(
         |        str_split(lower(trim(regexp_replace(text, '\\s+', ' ',
         |          'g'))), ' '),
         |        w -> w <> ''),
         |      w -> ${bpeChainSql("w")}), ' '), '') AS stream
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN stream = '' THEN 0
         |    ELSE len(str_split(stream, ' ')) END AS BIGINT) AS n_bpe_tokens,
         |  md5(stream) AS tokens_md5
         |FROM toks ORDER BY doc_id""".stripMargin
    },

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ',
        |      'g'), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h % 64, h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, n_tokens,
        |  CAST(cum // 512 AS BIGINT) AS pack_id,
        |  CAST(cum % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_text_chunks" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
        |      AS words
        |  FROM documents WHERE length(trim(text)) > 0),
        |st AS (
        |  SELECT doc_id, words, CAST(u.s AS INT) AS start
        |  FROM w, unnest(generate_series(0, greatest(len(words) - 9, 0), 24))
    AS u(s))
        |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |  array_to_string(words[start + 1 : start + 32], ' ') AS chunk_text,
        |  CAST(least(len(words) - start, 32) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_sim_cosine" ->
      """WITH v AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             generate_subscripts(embedding, 1) AS pos
        |           FROM embeddings),
        |     q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
        |             generate_subscripts(embedding, 1) AS pos
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT v.vec_id,
        |  round(sum(v.x * q.x) /
        |    (sqrt(sum(v.x * v.x)) * sqrt(sum(q.x * q.x))), 6) AS cosine
        |FROM v JOIN q USING (pos)
        |GROUP BY v.vec_id ORDER BY v.vec_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(text::BLOB) AS byte_len,
        |  'bin' AS format,
        |  CAST(least(octet_length(text::BLOB) // 10, 8) + 1 AS BIGINT)
        |    AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact all-pairs Jaccard over distinct 5-char shingles of the
    // normalized text — integer set sizes, integer threshold test
    // (2·|∩| ≥ |∪| ⟺ jaccard ≥ 0.5); matches the LSH output because the
    // gate banding misses a true pair with probability ≈ 1e-4.
    "q_dedup_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct([substring(n, CAST(i AS INT), 5)
        |      FOR i IN range(1, greatest(length(n) - 3, 2))]) AS s
        |  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g')
        |          AS n
        |        FROM documents))
        |SELECT id_a, id_b, n_common, n_union FROM (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
        |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT)
        |      AS n_union
        |  FROM sh a JOIN sh b ON a.id < b.id)
        |WHERE n_common * 2 >= n_union
        |ORDER BY id_a, id_b""".stripMargin,

    // exact all-pairs word-3-gram Jaccard, integer threshold — mirrors
    // Dedup.ngramJaccardPairs's tokenizer (trim, collapse whitespace,
    // split on single space) and 1-based gram windows.
    "q_dedup_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
        |      AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM w, unnest(list_transform(range(1, len(words) - 1),
        |       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |       AS t(gram)
        |  WHERE len(words) >= 3),
        |s AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.n_common,
        |  sa.sz AS size_a, sb.sz AS size_b
        |FROM i
        |JOIN s sa ON sa.doc_id = i.id_a
        |JOIN s sb ON sb.doc_id = i.id_b
        |WHERE i.n_common * 5 >= (sa.sz + sb.sz - i.n_common) * 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_components" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
        |      AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM w, unnest(list_transform(range(1, len(words) - 1),
        |       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |       AS t(gram)
        |  WHERE len(words) >= 3),
        |s AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT i.id_a, i.id_b FROM i
        |  JOIN s sa ON sa.doc_id = i.id_a
        |  JOIN s sb ON sb.doc_id = i.id_b
        |  WHERE i.n_common * 5 >= (sa.sz + sb.sz - i.n_common) * 2),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
        |SELECT id AS doc_id, min(r) AS component_id
        |FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_canonical" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
        |      AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM w, unnest(list_transform(range(1, len(words) - 1),
        |       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |       AS t(gram)
        |  WHERE len(words) >= 3),
        |s AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT i.id_a, i.id_b FROM i
        |  JOIN s sa ON sa.doc_id = i.id_a
        |  JOIN s sb ON sb.doc_id = i.id_b
        |  WHERE i.n_common * 5 >= (sa.sz + sb.sz - i.n_common) * 2),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        |comp AS (
        |  SELECT id AS doc_id, min(r) AS component_id
        |  FROM reach GROUP BY id),
        |j AS (
        |  SELECT d.doc_id, c.component_id, length(d.text) AS len
        |  FROM documents d JOIN comp c USING (doc_id))
        |SELECT component_id, doc_id AS canonical_id, n_members
        |FROM (
        |  SELECT component_id, doc_id,
        |    row_number() OVER (PARTITION BY component_id
        |      ORDER BY len DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component_id) AS n_members
        |  FROM j)
        |WHERE rn = 1
        |ORDER BY component_id""".stripMargin,

    "q_shuffle_det" ->
      """SELECT doc_id,
        |  md5('epoch0-' || CAST(doc_id AS VARCHAR)) AS _shuffle_key
        |FROM documents
        |ORDER BY _shuffle_key, doc_id""".stripMargin,

    // brute-force all-pairs integer cosine (quantize ×1024 → exact
    // integer dot products; cos ≥ 2/5 as the integer cross-multiply) —
    // deliberately NOT an LSH replay: equality proves recall 1.0.
    "q_dedup_embed" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(range(1, len(v) + 1),
        |      i -> v[i] * v[i])) AS BIGINT) AS n2
        |  FROM q),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) AS BIGINT) AS qdot,
        |    a.n2 AS na2, b.n2 AS nb2
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, qdot, na2, nb2 FROM p
        |WHERE qdot > 0 AND qdot * qdot * 25 >= na2 * nb2 * 4
        |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup replay: same quantization, same 8 lowest-id seed
    // centroids, same argmin-(dist, cid) cell assignment, same
    // integer-exact within-cell cosine test. All list_dot_product values
    // are integer-valued doubles < 2^53, so the arithmetic is exact.
    "q_semdedup" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS n2
        |  FROM q),
        |c AS (
        |  SELECT vec_id AS cid, v AS cv,
        |    CAST(list_dot_product(v, v) AS BIGINT) AS c2
        |  FROM q ORDER BY vec_id LIMIT 8),
        |a AS (
        |  SELECT vec_id, v, n2, cid AS sem_cell
        |  FROM (SELECT n.vec_id, n.v, n.n2, c.cid,
        |          c.c2 - 2 * CAST(list_dot_product(n.v, c.cv) AS BIGINT)
        |            AS dist
        |        FROM n CROSS JOIN c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |                             ORDER BY dist, cid) = 1)
        |SELECT x.sem_cell, x.vec_id AS id_a, y.vec_id AS id_b,
        |  CAST(list_dot_product(x.v, y.v) AS BIGINT) AS qdot,
        |  x.n2 AS na2, y.n2 AS nb2
        |FROM a x JOIN a y ON x.sem_cell = y.sem_cell AND x.vec_id < y.vec_id
        |WHERE CAST(list_dot_product(x.v, y.v) AS BIGINT) > 0
        |  AND CAST(list_dot_product(x.v, y.v) AS BIGINT)
        |    * CAST(list_dot_product(x.v, y.v) AS BIGINT) * 25
        |      >= x.n2 * y.n2 * 4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash" -> simhashOracle,

    "q_sim_ann_topk" -> annOracle,

    "q_sim_ivf_topk" -> ivfOracle,
    "q_sim_pq_topk" -> pqOracle,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 64
        |      AS bucket
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '[\s[:punct:]]+'))
        |            AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0),
        |tf AS (SELECT doc_id, bucket, count(*) AS tf
        |       FROM toks GROUP BY doc_id, bucket),
        |dfq AS (SELECT bucket, count(*) AS dfreq FROM tf GROUP BY bucket),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, bucket,
        |  CAST(tf AS BIGINT) AS tf, CAST(dfreq AS BIGINT) AS dfreq,
        |  round(tf * (ln((n + 1.0) / (dfreq + 1.0)) + 1.0), 6) AS weight
        |FROM tf JOIN dfq USING (bucket) CROSS JOIN n
        |ORDER BY doc_id, bucket""".stripMargin,

    "q_text_langid" -> langidOracle)

  /** DuckDB replay of Dedup.simhash: same tokenizer, same md5-prefix
    * token hash, same per-bit votes, same packing — generated so the bit
    * count stays in lockstep with [[Dedup.simhashBits]]. */
  private lazy val simhashOracle: String = {
    val bits = Dedup.simhashBits
    val votes = (0 until bits)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val packed = (0 until bits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) " +
        "ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    s"""WITH toks AS (
       |  SELECT id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
       |    AS h
       |  FROM (SELECT doc_id AS id,
       |          unnest(string_split_regex(lower(text), '[\\s[:punct:]]+'))
       |            AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |votes AS (
       |  SELECT id,
       |    $votes
       |  FROM toks GROUP BY id)
       |SELECT id, $packed AS simhash
       |FROM votes ORDER BY id""".stripMargin
  }

  /** DuckDB replay of Similarity.annTopKExact: quantized vectors, the
    * same integer hyperplanes as literals, 1-bit multiprobe, integer
    * dot-product ranking. list_dot_product returns a double, but all
    * values are integer-valued (< 2^53) so the arithmetic is exact. */
  private lazy val annOracle: String = {
    def bucketExpr(planes: Array[Array[Long]], name: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(e.v, ${p.mkString("[", ",", "]")})" +
          s" >= 0 THEN (CAST(${1L << i} AS BIGINT)) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("(", " | ", s") AS $name")
    val bucketCols = annTables.zipWithIndex
      .map { case (t, i) => bucketExpr(t, s"b$i") }.mkString(",\n    ")
    val probe = annTables.indices
      .map(i => s"bit_count(xor(d.b$i, qb.q$i)) <= 1").mkString(" OR ")
    val qbCols = annTables.indices.map(i => s"b$i AS q$i").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
       |d AS (
       |  SELECT e.vec_id,
       |    CAST(list_dot_product(e.v, q.qv) AS BIGINT) AS qdot,
       |    CAST(list_dot_product(e.v, e.v) AS BIGINT) AS nrm2,
       |    $bucketCols
       |  FROM e, q),
       |qb AS (SELECT $qbCols FROM d WHERE vec_id = 7)
       |SELECT vec_id, qdot, nrm2
       |FROM d, qb
       |WHERE $probe
       |ORDER BY CAST(qdot AS DOUBLE) / sqrt(CAST(nrm2 AS DOUBLE)) DESC,
       |  vec_id
       |LIMIT 20""".stripMargin
  }

  /** DuckDB replay of Similarity.ivfTopKExact (nLists=16, nProbe=4,
    * k=20, query vec_id 7): centroids = the 16 lowest-id quantized
    * vectors, cell = argmin(‖c‖² − 2·v·c) ties-to-lowest-id, probes =
    * the query's 4 nearest cells, ranking = qdot/√‖v‖². Every quantity
    * is an exact integer (< 2^53, so list_dot_product's double is
    * exact), making cells, probes, and the final ranking bit-identical
    * across engines. */
  private lazy val ivfOracle: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |a AS (
      |  SELECT e.vec_id, c.cid,
      |    CAST(list_dot_product(c.cv, c.cv) AS BIGINT)
      |      - 2 * CAST(list_dot_product(e.v, c.cv) AS BIGINT) AS d
      |  FROM e CROSS JOIN c),
      |cell AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a)
      |  WHERE rn = 1),
      |qp AS (SELECT cid FROM a WHERE vec_id = 7 ORDER BY d, cid LIMIT 4),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 7)
      |SELECT e.vec_id, cell.cid AS ivf_cell,
      |  CAST(list_dot_product(e.v, q.qv) AS BIGINT) AS qdot,
      |  CAST(list_dot_product(e.v, e.v) AS BIGINT) AS nrm2
      |FROM e JOIN cell USING (vec_id), q
      |WHERE cell.cid IN (SELECT cid FROM qp)
      |ORDER BY CAST(qdot AS DOUBLE) / sqrt(CAST(nrm2 AS DOUBLE)) DESC,
      |  e.vec_id
      |LIMIT 20""".stripMargin

  /** DuckDB replay of Similarity.pqTopKExact: quantization, the
    * smallest-id-seed per-subspace codebooks, argmin codes, ADC sums,
    * candidate cut and exact-cosine rerank — integer-identical. */
  private lazy val pqOracle: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS v
      |  FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
      |sub(j) AS (VALUES (0), (1), (2), (3)),
      |d AS (
      |  SELECT e.vec_id, s.j, sd.c,
      |    list_sum(list_transform(range(1, 17), i ->
      |      (e.v[s.j*16+i] - sd.cv[s.j*16+i])
      |        * (e.v[s.j*16+i] - sd.cv[s.j*16+i]))) AS dist
      |  FROM e CROSS JOIN sub s CROSS JOIN seeds sd),
      |codes AS (
      |  SELECT vec_id, j, c FROM (
      |    SELECT vec_id, j, c,
      |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c)
      |        AS rn
      |    FROM d)
      |  WHERE rn = 1),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
      |adc AS (
      |  SELECT codes.vec_id, CAST(SUM(
      |    list_sum(list_transform(range(1, 17), i ->
      |      (q.qv[codes.j*16+i] - sd.cv[codes.j*16+i])
      |        * (q.qv[codes.j*16+i] - sd.cv[codes.j*16+i]))))
      |      AS BIGINT) AS pq_adc
      |  FROM codes JOIN seeds sd ON sd.c = codes.c, q
      |  GROUP BY codes.vec_id),
      |cand AS (
      |  SELECT vec_id, pq_adc FROM adc ORDER BY pq_adc, vec_id LIMIT 64)
      |SELECT e.vec_id, cand.pq_adc,
      |  CAST(list_dot_product(e.v, q.qv) AS BIGINT) AS qdot,
      |  CAST(list_dot_product(e.v, e.v) AS BIGINT) AS nrm2
      |FROM e JOIN cand USING (vec_id), q
      |ORDER BY CAST(qdot AS DOUBLE) / sqrt(CAST(nrm2 AS DOUBLE)) DESC,
      |  e.vec_id
      |LIMIT 20""".stripMargin

  /** DuckDB replay of TextAnalysis.langId: same tokenizer, same marker
    * vocabulary (generated from langMarkers), argmax with the fold's
    * first-lang-wins tie-break as a CASE chain over sorted languages. */
  private lazy val langidOracle: String = {
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val vocab = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
      .flatMap { case (l, ws) => ws.map(w => s"('$w','$l')") }
      .mkString(", ")
    val pivots = langs
      .map(l => s"coalesce(max(CASE WHEN h.lang = '$l' THEN c END), 0) AS $l")
      .mkString(",\n    ")
    // first lang (sorted) reaching the max wins, like the Scala fold
    val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"$l >= $r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n    ") + s"\n    ELSE '${langs.last}'"
    s"""WITH toks AS (
       |  SELECT doc_id, tok
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(lower(text), '[\\s[:punct:]]+'))
       |            AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0),
       |m(word, lang) AS (VALUES $vocab),
       |hits AS (
       |  SELECT doc_id, lang, count(*) AS c
       |  FROM toks JOIN m ON tok = word GROUP BY 1, 2),
       |piv AS (
       |  SELECT d.doc_id,
       |    $pivots
       |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |  GROUP BY d.doc_id)
       |SELECT doc_id,
       |  CASE $caseChain END AS lang_pred
       |FROM piv ORDER BY doc_id""".stripMargin
  }
}
