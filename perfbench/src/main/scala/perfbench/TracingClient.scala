package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.JobConfig
import graft.llm.{LlmClient, Msg}

/** Timing wrapper around the program's client: one span per attempt,
  * keyed by record id, thread and wall-clock start. The engine calls
  * the client from its own per-task pool threads, where Spark's task
  * context is not visible, so the harness assigns each span its Spark
  * stage afterwards from the ledger's task time windows. Spans go to a
  * JVM-wide buffer, which the harness reads because it runs Spark in
  * local mode (executors share its JVM).
  */
final class TracingClient(inner: LlmClient) extends LlmClient {
  override def chat(messages: Seq[Msg], cfg: JobConfig): String = {
    val user = messages.reverseIterator.find(_.role == "user").map(_.text).getOrElse("")
    val id = Inputs.IdTag.findFirstMatchIn(user).map(_.group(1)).getOrElse("")
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def span(ok: Boolean) = TracingClient.Span(
      id, Thread.currentThread().getId, wall, t0, System.nanoTime(), ok)
    try {
      val r = inner.chat(messages, cfg)
      TracingClient.spans.add(span(ok = true))
      r
    } catch { case e: Throwable =>
      TracingClient.spans.add(span(ok = false))
      throw e
    }
  }
}

object TracingClient {
  final case class Span(
      id: String, thread: Long, startMs: Long, startNs: Long, endNs: Long, ok: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()

  /** every span recorded since the last call */
  def take(): Seq[Span] = {
    val out = spans.asScala.toVector
    spans.clear()
    out
  }
}
