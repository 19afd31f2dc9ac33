package graft.tools

/** Train BPE merges on a fixture's documents table and print them as a
  * Scala literal — the source of the hardcoded merge list in the
  * q_text_bpe gate (a tokenizer is a fixed artifact; the gate applies
  * the same artifact at every scale, like a real pipeline applies one
  * trained tokenizer to any corpus).
  *
  * Usage: BpeTrain [sfDir] [numMerges] [maxWords]
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val numMerges = if (args.length > 1) args(1).toInt else 32
    val maxWords = if (args.length > 2) args(2).toInt else 10000
    val spark = graft.Bench.session(sfDir).spark
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges, maxWords)
    println(merges.map { case (a, b) => s"""("$a", "$b")""" }
      .mkString("Seq(", ", ", ")"))
    spark.stop()
  }
}
