package graft

import graft.expressions.TokenCount
import graft.pipeline.Chunker

/** The reference's sequential greedy line packer, kept as a test
  * oracle for [[Chunker]]: a driver-side fold, not a distributed
  * operator (its reset state is order-dependent and non-associative).
  */
object ReferencePacker {

  /** Greedy packer with the reference's exact semantics
    * (mapreduce.go:199-263): pack consecutive lines while the running
    * token sum stays <= budget; a line whose own cost exceeds the budget
    * is word-split (whitespace collapsed) and word-packed
    * (mapreduce.go:228-254). Per-chunk trailing newline trimmed.
    */
  def greedyPack(text: String, budget: Int = Chunker.DefaultBudget): Seq[String] = {
    val chunks = Seq.newBuilder[String]
    val cur = new StringBuilder
    var curTokens = 0
    def flush(): Unit = {
      if (cur.nonEmpty) {
        chunks += cur.toString.stripSuffix("\n")
        cur.clear(); curTokens = 0
      }
    }
    def add(piece: String, tokens: Int): Unit = {
      if (curTokens + tokens > budget) flush()
      cur.append(piece).append("\n")
      curTokens += tokens
    }
    for (line <- text.split("\n", -1)) {
      val t = TokenCount.count(line)
      if (t > budget) {
        // Oversized line: flush, then word-split (same packer as the
        // distributed C3b path in Chunker.assignChunks).
        flush()
        chunks ++= Chunker.wordPack(line, budget)
      } else {
        add(line, t)
      }
    }
    flush()
    chunks.result().filter(_.nonEmpty)
  }
}
