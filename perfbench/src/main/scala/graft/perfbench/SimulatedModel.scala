package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.util.hashing.MurmurHash3

import graft.expressions.TokenCount
import graft.pipeline.ModelClient

/** Latency of one simulated model call: a pure function of (seed, chunk
  * text). A hash of both picks a point of a log-normal distribution with
  * the given median and shape, capped at `capMs`, so the latencies are
  * long-tailed, repeatable, and independent of scheduling.
  */
final case class LatencyModel(medianMs: Double, sigma: Double, capMs: Double) {
  def millis(seed: Long, text: String): Double = {
    val u1 = LatencyModel.unit(seed, text, 0x9e3779b9)
    val u2 = LatencyModel.unit(seed, text, 0x7f4a7c15)
    val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    math.min(capMs, medianMs * math.exp(sigma * z))
  }
}

object LatencyModel {
  /** A uniform draw in (0, 1) from (seed, text, salt). */
  private def unit(seed: Long, text: String, salt: Int): Double = {
    val hs = MurmurHash3.stringHash(text, salt ^ seed.toInt ^ (seed >>> 32).toInt)
    val hl = MurmurHash3.stringHash(text, hs ^ salt)
    val bits = ((hs.toLong << 32) | (hl.toLong & 0xffffffffL)) >>> 11
    (bits.toDouble + 0.5) / (1L << 53).toDouble
  }
}

/** One model call as seen from the client: monotonic start and end, and
  * the call's token counts.
  */
final case class Call(startNs: Long, endNs: Long, tokensIn: Long, tokensOut: Long)

/** Process-wide record of the calls the simulated model served. The
  * benchmark runs Spark in local mode, so executor threads share this
  * JVM and these counters. Call spans are kept only while tracing.
  */
object CallLog {
  @volatile var tracing: Boolean = false
  val calls = new AtomicLong
  val failures = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  val spans = new ConcurrentLinkedQueue[Call]()

  def reset(): Unit = {
    calls.set(0); failures.set(0); inflight.set(0); inflightMax.set(0); spans.clear()
  }

  private[perfbench] def enter(): Unit = {
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    ()
  }

  private[perfbench] def exit(): Unit = { inflight.decrementAndGet(); () }
}

/** Deterministic stand-in for a remote chat model: it waits the latency
  * the [[LatencyModel]] gives for (seed, chunk) and then applies the
  * keyword line filter, like `graft.pipeline.KeywordFilterClient`.
  */
final case class SimulatedModel(keyword: String, seed: Long, latency: LatencyModel)
  extends ModelClient {

  override def complete(systemPrompt: String, userText: String): String = {
    CallLog.calls.incrementAndGet()
    CallLog.enter()
    val start = System.nanoTime()
    try {
      val deadline = start + (latency.millis(seed, userText) * 1e6).toLong
      var left = deadline - System.nanoTime()
      while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
      val out = Corpus.filter(userText, keyword)
      if (CallLog.tracing)
        CallLog.spans.add(Call(start, System.nanoTime(),
          TokenCount.count(userText), TokenCount.count(out)))
      out
    } catch {
      case e: Throwable => CallLog.failures.incrementAndGet(); throw e
    } finally CallLog.exit()
  }
}
