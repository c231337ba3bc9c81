package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, FutureTask, Semaphore, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{StringType, StructField}

/** The reference's map stage: every chunk goes to a chat model with the
  * user prompt as the system message and the chunk text as the user
  * message (`/root/reference/internal/cli/mapreduce.go:151-197`). The
  * client is an interface so tests can inject a mock — the direct analog
  * of `ChatGenerator` (`internal/openai/chat.go:13-16`).
  *
  * This engine is zero-egress by contract, so the production
  * implementation is pluggable and the shipped clients are deterministic
  * stand-ins. The Spark-side plumbing (distribution, ordering, caching,
  * fail-fast) is identical whichever client is plugged in.
  *
  * `complete` must be thread-safe: [[LlmMap.mapChunks]] calls it from
  * several threads at once, and those threads run outside any
  * `TaskContext`.
  */
trait ModelClient extends Serializable {
  def complete(systemPrompt: String, userText: String): String
}

/** Deterministic stand-in for the reference's flagship semantics: the
  * engine appends "Return the lines that you want to keep"
  * (`mapreduce.go:91`), i.e. the canonical query is a line-level filter.
  * This client keeps the lines containing `keyword` — a local,
  * reproducible model of the semantic filter in
  * `examples/product-ratings/prompt.txt`.
  */
final case class KeywordFilterClient(keyword: String) extends ModelClient {
  override def complete(systemPrompt: String, userText: String): String =
    userText.split("\n", -1).iterator.filter(_.contains(keyword)).mkString("\n")
}

object LlmMap {
  /** Suffix the reference injects into every prompt (mapreduce.go:91). */
  val FilterSuffix = "\nReturn the lines that you want to keep."

  /** Model calls a map task keeps running at once. */
  private val InFlight = 16

  /** Rows a map task holds at once: running calls plus finished ones
    * waiting for an earlier row. Bounds the memory a slow head call
    * can pin while the calls behind it go on.
    */
  private val MaxHeld = 4 * InFlight

  /** One JVM-wide pool for every task's model calls. Its threads are
    * daemons, so an idle pool never keeps a finished driver or executor
    * JVM alive; it is never shut down.
    */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-llm-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Map stage: chunks(chunk_id, text, ...) -> + `result` column.
    * Runs as a distributed map over however many partitions the chunk
    * table has. Each task keeps up to 16 model calls running on a shared
    * pool and starts the next one as soon as any call finishes, so one
    * slow call does not stall the others; it holds at most 64 rows
    * (running or finished) and emits them in input order. This bounds
    * the reference's one-goroutine-per-chunk errgroup
    * (mapreduce.go:93-122) per task, with the same fail-fast job-abort
    * semantics on error: the first failing call fails the task with
    * `model call failed for chunk_id=<id>` (the client's exception as
    * its cause) and cancels the task's other calls.
    */
  def mapChunks(chunks: DataFrame, client: ModelClient, prompt: String): DataFrame = {
    val sys = prompt + FilterSuffix
    val in = chunks.schema
    val textIdx = in.fieldIndex("text")
    val idIdx = in.fieldIndex("chunk_id")
    chunks.mapPartitions { rows: Iterator[Row] =>
      new InOrder(rows, (r: Row) => client.complete(sys, r.getString(textIdx)),
        (r: Row) => s"chunk_id=${r.get(idIdx)}")
        .map { case (r, result) => Row.fromSeq(r.toSeq :+ result) }
    }(Encoders.row(in.add(StructField("result", StringType))))
  }

  /** The call window of one task: `(row, call(row))` in input order.
    * Up to [[InFlight]] calls run on [[pool]] at once and at most
    * [[MaxHeld]] rows are held; every finished call wakes the task
    * thread, which then starts the next call or emits the head row.
    * Outstanding calls are cancelled when the task completes, fails or
    * is killed.
    */
  private final class InOrder(rows: Iterator[Row], complete: Row => String, label: Row => String)
    extends Iterator[(Row, String)] {

    private final class Call(val row: Row) extends FutureTask[String](new Callable[String] {
      def call(): String = complete(row)
    }) {
      override protected def done(): Unit = {
        if (!isCancelled) {
          try get()
          catch { case e: ExecutionException => failed.compareAndSet(null, (row, e.getCause)) }
        }
        running.decrementAndGet()
        finished.release()
      }
    }

    private val window = new java.util.ArrayDeque[Call]()
    private val running = new AtomicInteger
    private val finished = new Semaphore(0)
    private val failed = new AtomicReference[(Row, Throwable)]()
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => cancelAll()))

    private def cancelAll(): Unit = window.synchronized {
      window.forEach(_.cancel(true))
      window.clear()
    }

    private def fill(): Unit = window.synchronized {
      while (window.size < MaxHeld && running.get < InFlight && rows.hasNext) {
        val c = new Call(rows.next())
        running.incrementAndGet()
        window.add(c)
        pool.execute(c)
      }
    }

    override def hasNext: Boolean = { fill(); window.synchronized(!window.isEmpty) }

    override def next(): (Row, String) = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted model-call window")
      val head = window.synchronized(window.peek())
      // a failure anywhere in the window fails the task at once
      while (!head.isDone && failed.get() == null) {
        finished.acquire()
        fill()
      }
      val err = failed.get()
      if (err != null) fail(err._1, err._2)
      window.synchronized(window.poll())
      try head.row -> head.get()
      catch { case e: ExecutionException => fail(head.row, e.getCause) }
    }

    private def fail(r: Row, cause: Throwable): Nothing = {
      cancelAll()
      throw new RuntimeException(s"model call failed for ${label(r)}", cause)
    }
  }
}
