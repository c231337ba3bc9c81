package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions.{AudioPhash, AudioResample, AudioStats, HashFraction, LumaResize, MediaPhash, MinhashSigs, NfcNormalize, RepCoverage, TokenCount, TokenCountCl100k, VecDistSq, VecDot, WinnowFps}

/** Session extensions: registers graft's native expressions as SQL
  * functions, so `spark.sql("SELECT token_count(text) ...")` works for
  * SQL-surface users exactly like the Column API
  * (graft.functions.token_count / vec_dot). Activate with
  *
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Function resolution stays inside Catalyst (native expressions, full
  * codegen) — nothing here is a UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Resolve the cl100k ranks mode NOW (one "mode=EXACT/ESTIMATE"
    // stderr line per JVM): a configured-but-unreadable ranks path
    // fails the session build here, not the first query that happens
    // to evaluate token_count_cl100k (ADVICE r8).
    TokenCountCl100k.validateEagerly()
    GraftExtensions.functions.foreach { case (name, usage, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        (children: Seq[Expression]) => {
          require(children.size == arity,
            s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        }))
    }
  }
}

object GraftExtensions {

  /** An argument that must be an integer literal (a window or cell
    * count): anything else is rejected loudly, never defaulted.
    */
  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Every SQL function the extensions register: name, usage, arity
    * and the builder of its native expression.
    */
  val functions: Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("token_count", "token_count(str) - BPE-ish token estimate (see graft.expressions.TokenCount)",
      1, c => TokenCount(c(0))),
    ("token_count_cl100k", "token_count_cl100k(str) - cl100k_base estimate: exact pre-tokenizer, approx merges (see graft.expressions.TokenCountCl100k)",
      1, c => TokenCountCl100k(c(0))),
    ("vec_dot", "vec_dot(a, b) - float-vector dot product as double (see graft.expressions.VecDot)",
      2, c => VecDot(c(0), c(1))),
    ("vec_dist_sq", "vec_dist_sq(v, c) - squared L2 distance of array<float> vs array<double> as double (see graft.expressions.VecDistSq)",
      2, c => VecDistSq(c(0), c(1))),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC canonical normalization (see graft.expressions.NfcNormalize)",
      1, c => NfcNormalize(c(0))),
    ("winnow_fps", "winnow_fps(str, k, w) - winnowing fingerprint set (see graft.expressions.WinnowFps)",
      3, c => WinnowFps(c(0), intLit("winnow_fps", "k", c(1)), intLit("winnow_fps", "w", c(2)))),
    ("media_phash", "media_phash(bin, cells) - perceptual average-hash packed into one BIGINT (see graft.expressions.MediaPhash)",
      2, c => MediaPhash(c(0), intLit("media_phash", "cells", c(1)))),
    ("minhash_sigs", "minhash_sigs(arr, funcs) - per-function MinHash minima of sha256_hex(k || ':' || shingle) over a shingle array (see graft.expressions.MinhashSigs)",
      2, c => MinhashSigs(c(0), intLit("minhash_sigs", "funcs", c(1)))),
    ("audio_stats", "audio_stats(bin) - one-pass s16le waveform stats [n_samples, peak, sum_sq, n_clipped, zero_cross] (see graft.expressions.AudioStats)",
      1, c => AudioStats(c(0))),
    ("audio_resample", "audio_resample(bin, frames) - box-filter downsample of s16le PCM to `frames` signed window means (see graft.expressions.AudioResample)",
      2, c => AudioResample(c(0), intLit("audio_resample", "frames", c(1)))),
    ("audio_phash", "audio_phash(bin, cells) - gain-invariant energy-envelope hash of s16le PCM packed into one BIGINT (see graft.expressions.AudioPhash)",
      2, c => AudioPhash(c(0), intLit("audio_phash", "cells", c(1)))),
    ("luma_resize", "luma_resize(bin, cells) - box-filter resample to `cells` integer means (see graft.expressions.LumaResize)",
      2, c => LumaResize(c(0), intLit("luma_resize", "cells", c(1)))),
    ("rep_coverage", "rep_coverage(arr) - repetition covered-char counts struct<top2_chars,top3_chars,dup5_chars> over a words array (see graft.expressions.RepCoverage)",
      1, c => RepCoverage(c(0))),
    ("hash_fraction", "hash_fraction(str) - deterministic sha256-derived uniform in [0,1) (see graft.expressions.HashFraction)",
      1, c => HashFraction(c(0))))
}
