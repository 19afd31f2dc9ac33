package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Bpe, TextPrep}

class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  test("training is deterministic and matches the hand-derived merges") {
    // freq-weighted pair counts: (l,o) appears in low*3 and lower*2 → 5;
    // first merge is the most frequent pair, ties break lexicographically
    val wf = Seq(("low", 3L), ("lower", 2L), ("newest", 1L))
    val m = Bpe.trainFromCounts(wf, 3)
    assert(m.head == ("l", "o"), s"got $m")
    assert(m(1) == ("lo", "w"), s"got $m") // low+lower again outweigh rest
    assert(Bpe.trainFromCounts(wf, 3) == m) // pure function
    // merge count caps at what the corpus supports
    assert(Bpe.trainFromCounts(Seq(("ab", 1L)), 10).size <= 2)
  }

  test("encode applies merges in order with exact word boundaries") {
    import spark.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val df = Seq("low lower", "e row", "", "   ").toDF("text")
    val got = df.select(
        Bpe.tokens(col("text"), merges).as("t"),
        Bpe.tokenCount(col("text"), merges).as("n"))
      .collect()
      .map(r => (r.getList[String](0).asScala.toSeq, r.getLong(1)))
    // "low" → [low]; "lower" → [low, e, r] → (e,r) merges → [low, er]
    assert(got(0) == (Seq("low", "low", "er"), 3L))
    // "e row": the merge (e,r) must NOT cross the word boundary, and
    // within "row" the 'r' is a symbol followed by 'o' — no 'e r' pair
    assert(got(1) == (Seq("e", "r", "o", "w"), 4L))
    assert(got(2) == (Seq(), 0L) && got(3) == (Seq(), 0L))
  }

  test("gate on empty and whitespace-only documents: 0 tokens, md5 of ''") {
    import spark.implicits._
    // the q_text_bpe oracle coalesces DuckDB's NULL join of an empty
    // token list to ''; this pins the engine side it must agree with
    val dir = java.nio.file.Files.createTempDirectory("bpegate").toString
    Seq((0L, "low lower"), (1L, "  \t  "), (2L, ""))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_bpe")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(got(1L) == ((0L, emptyMd5)) && got(2L) == ((0L, emptyMd5)),
      s"got $got")
    assert(got(0L)._1 > 0)
  }

  test("chunkByTokens: budget in BPE tokens, word-boundary cuts, overlap") {
    import spark.implicits._
    val merges = Seq(("a", "b")) // "ab" → 1 token, other words → chars
    // words: ab(1) ab(1) xyz(3) ab(1) ab(1) → 7 BPE tokens total
    val df = Seq((1L, "ab ab xyz ab ab")).toDF("doc_id", "text")
    val chunks = Bpe.chunkByTokens(df, "doc_id", "text", merges,
        chunkTokens = 4, overlap = 1)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    // window 1: ab ab (2) + xyz (3) won't fit? 1+1+3=5 > 4 → [ab ab]=2
    // tokens; wait: 1+1=2, adding xyz → 5 > 4 → window = "ab ab" (2)
    assert(chunks.head._1 == "ab ab" && chunks.head._2 == 2L)
    // overlap=1 token: back off over trailing words totalling <= 1
    // token → next start includes the second "ab"
    assert(chunks(1)._1.startsWith("ab xyz"), s"got ${chunks.toSeq}")
    // every word appears in at least one chunk
    val all = chunks.flatMap(_._1.split(" ")).toSet
    assert(all == Set("ab", "xyz"))
    // an over-budget single word still forms its own chunk
    val big = Bpe.chunkByTokens(
        Seq((1L, "abcdefgh xy")).toDF("doc_id", "text"),
        "doc_id", "text", Nil, chunkTokens = 4, overlap = 0)
      .orderBy("chunk_idx").collect().map(_.getString(2))
    assert(big.head == "abcdefgh" && big(1) == "xy")
  }

  test("packSequences budgets in BPE tokens via tokenCount") {
    import spark.implicits._
    val merges = Seq(("a", "b"))
    val docs = Seq((1L, "ab ab"), (2L, "xyz"), (3L, "ab"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Bpe.tokenCount(col("text"), merges).as("n_tokens"))
    val packed = TextPrep.packSequences(docs, "doc_id", "n_tokens",
      budget = 3, blocks = 2)
    // total 2+3+1 = 6 BPE tokens: whatever the deterministic hash
    // order, the last doc starts at cum in [3,5] → pack_id 1
    assert(packed.agg(max("pack_id")).head().getLong(0) == 1L)
    assert(packed.filter(col("pack_offset") >= 3).count() == 0)
  }

  test("gate tokenizer round-trips through the oracle algorithm") {
    // the q_text_bpe gate's cross-engine equivalence relies on
    // merge-application == wrapped-string replace; pin that equivalence
    // here for a pathological case (repeated pairs, prefix collisions)
    import spark.implicits._
    val merges = Seq(("a", "a"), ("aa", "aa"))
    val got = Seq("aaaaa aab").toDF("text")
      .select(Bpe.tokens(col("text"), merges).as("t"))
      .head().getList[String](0).asScala.toSeq
    // "aaaaa": (a,a) pass → aa aa a; (aa,aa) pass → aaaa a
    // "aab": (a,a) → aa b
    assert(got == Seq("aaaa", "a", "aa", "b"), s"got $got")
  }
}
