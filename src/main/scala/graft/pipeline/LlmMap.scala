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

  /** Rows a map task holds at once, each with its result known or its
    * model call running or finished, waiting for an earlier row: the
    * task's one bound on concurrent calls, and on the memory a slow head
    * call can pin while the calls behind it go on.
    */
  private val MaxHeld = 64

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

  /** What a map task does with its finished calls: `done` once for
    * each call that returned, `end` once when the task succeeds, fails
    * or is killed, after its unfinished calls are cancelled. Both run on
    * the task's thread.
    */
  private[pipeline] trait CallSink {
    def done(row: Row, result: String): Unit
    def end(): Unit
  }

  private object NoSink extends CallSink {
    def done(row: Row, result: String): Unit = ()
    def end(): Unit = ()
  }

  /** Map stage: chunks(chunk_id, text, ...) -> + `result` column.
    * Runs as a distributed map over however many partitions the chunk
    * table has. Each task holds up to 64 rows, every one with its model
    * call running or finished on a shared pool, and emits them in input
    * order; each row it emits starts the next row's call. One slow call
    * thus stalls its task only once the 63 rows behind it are done.
    * This bounds the reference's one-goroutine-per-chunk errgroup
    * (mapreduce.go:93-122) per task, with the same fail-fast job-abort
    * semantics on error: the first failing call fails the task with
    * `model call failed for chunk_id=<id>` (the client's exception as
    * its cause) and cancels the task's other calls.
    */
  def mapChunks(chunks: DataFrame, client: ModelClient, prompt: String): DataFrame =
    mapChunks(chunks, client, prompt, _ => None, () => NoSink)

  /** [[mapChunks]], where a row for which `known` gives a result is a
    * hit: it is emitted with that result (which may be null), with no
    * model call, and is not handed to the sink. Each task's finished
    * calls go to the sink that `sink` makes on the task's thread.
    */
  private[pipeline] def mapChunks(chunks: DataFrame, client: ModelClient, prompt: String,
                                  known: Row => Option[String],
                                  sink: () => CallSink): DataFrame = {
    val sys = prompt + FilterSuffix
    val in = chunks.schema
    val textIdx = in.fieldIndex("text")
    val idIdx = in.fieldIndex("chunk_id")
    chunks.mapPartitions { rows: Iterator[Row] =>
      new InOrder(rows, (r: Row) => client.complete(sys, r.getString(textIdx)), known,
        (r: Row) => s"chunk_id=${r.get(idIdx)}", sink())
        .map { case (r, result) => Row.fromSeq(r.toSeq :+ result) }
    }(Encoders.row(in.add(StructField("result", StringType))))
  }

  /** The call window of one task: `(row, known(row) or call(row))` in
    * input order. A known row is done as it enters the window; every
    * other held row's call runs on [[pool]]. At most [[MaxHeld]] rows are
    * held, and every finished call wakes the task thread, which emits the
    * head row once its call is done and then starts the next call (a
    * failed call anywhere in the window fails the task at once). Each
    * emitted called row goes to `sink`. When the task completes, fails or
    * is killed, the calls still running are cancelled, the held calls
    * that had finished go to `sink`, and `sink` ends.
    */
  private final class InOrder(rows: Iterator[Row], complete: Row => String,
                              known: Row => Option[String], label: Row => String,
                              sink: CallSink)
    extends Iterator[(Row, String)] {

    private final class Call(val row: Row, cached: Option[String])
      extends FutureTask[String](new Callable[String] {
        def call(): String = cached.getOrElse(complete(row))
      }) {
      /** Whether the row's result came from `known`, not from a call. */
      val hit: Boolean = cached.isDefined

      override protected def done(): Unit = {
        if (!isCancelled) {
          try get()
          catch { case e: ExecutionException => failed.compareAndSet(null, (row, e.getCause)) }
        }
        finished.release()
      }

      /** The call's answer, if it has returned one. */
      def answer: Option[String] =
        if (!isDone || isCancelled) None
        else try Some(get()) catch { case _: ExecutionException => None }
    }

    private val window = new java.util.ArrayDeque[Call]()
    private val finished = new Semaphore(0)
    private val failed = new AtomicReference[(Row, Throwable)]()
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => end()))

    private def end(): Unit = {
      window.synchronized {
        window.forEach { c => c.cancel(true); if (!c.hit) c.answer.foreach(sink.done(c.row, _)) }
        window.clear()
      }
      sink.end()
    }

    private def fill(): Unit = window.synchronized {
      while (window.size < MaxHeld && rows.hasNext) {
        val row = rows.next()
        val c = new Call(row, known(row))
        window.add(c)
        if (c.hit) c.run() else pool.execute(c)
      }
    }

    override def hasNext: Boolean = { fill(); window.synchronized(!window.isEmpty) }

    override def next(): (Row, String) = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted model-call window")
      val head = window.synchronized(window.peek())
      while (!head.isDone && failed.get() == null) finished.acquire()
      val err = failed.get()
      if (err != null) fail(err._1, err._2)
      window.synchronized(window.poll())
      val result = try head.get() catch { case e: ExecutionException => fail(head.row, e.getCause) }
      if (!head.hit) sink.done(head.row, result)
      head.row -> result
    }

    private def fail(r: Row, cause: Throwable): Nothing =
      throw new RuntimeException(s"model call failed for ${label(r)}", cause)
  }
}
