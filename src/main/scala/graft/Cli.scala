package graft

import org.apache.spark.sql.functions._

import graft.pipeline._
import graft.sources.TextCorpus

/** The reference's end-user surface (C12, `cmd/cli/root.go`): ONE
  * command over ONE text file,
  *
  *   runMain graft.Cli "<prompt>" <data-file> [keyword]
  *
  * writing `<data-file>.combined_results.txt` exactly like the
  * reference (`mapreduce.go:139-146`). Mirrors the reference flow:
  * pre-flight token/cost estimate (C10) printed before the run,
  * progress per completed task (C8), memoized map stage (C6, resume on
  * re-run), ordered no-separator combine (C9).
  *
  * Zero-egress contract: the model client is the deterministic
  * keyword line-filter (the flagship semantics) — swap in a real
  * `ModelClient` for production use.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Cli \"<prompt>\" <data-file> [keyword]")
    val prompt = args(0)
    val file = args(1)
    val keyword = if (args.length > 2) args(2) else "keep"

    // SPARK_GRAFT_MASTER (a deployment address) overrides the session's
    // local[SPARK_GRAFT_CPUS] master only when it is set.
    val master = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq
    val spark = Harness.session(Harness.cpus,
      master :+ ("spark.app.name" -> "graft-cli"): _*)

    val corpus = TextCorpus.lines(spark, file)

    // C10 pre-flight: token total + per-model cost table, like
    // estimation.go:27-44 (non-interactive: this is a batch engine).
    // The estimate uses the cl100k-fidelity counter (exact published
    // pre-tokenizer; the reference counts real cl100k_base tokens) —
    // the chunker/memo keep the oracle-expressible token_count.
    val total = corpus
      .agg(sum(graft.functions.token_count_cl100k(col("text")).cast("long")))
      .collect()(0).getLong(0)
    Console.err.println(s"[graft] corpus tokens: $total")
    Seq("gpt-5-nano" -> 0.05, "gpt-5-mini" -> 0.25,
      "gpt-5" -> 1.25, "gpt-5.1" -> 1.25).foreach { case (m, c) =>
      Console.err.println(f"[graft]   $m%-12s $$${total * c / 1e6}%.6f")
    }

    val tracker = ProgressTracker.attach(spark, "map")
    try {
      val chunks = Chunker.chunkTable(corpus, "line_id", "text")
      val memoPath = file + ".graft_memo"
      // The keyword parameterizes the client's behavior, so it MUST be
      // part of the memo key (as the model id) — otherwise a re-run with
      // a different keyword would silently serve the old keyword's
      // results from the on-disk memo.
      val mapped = MemoCache.mapChunksWithMemo(
        chunks, KeywordFilterClient(keyword), prompt, s"local:$keyword", memoPath)
      Combine.writeCombined(mapped, file + ".combined_results.txt")
      Console.err.println(
        s"[graft] done: ${tracker.completed} tasks, output ${file}.combined_results.txt")
    } finally {
      ProgressTracker.detach(spark, tracker)
      spark.stop()
    }
  }
}
