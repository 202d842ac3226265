package graft.llm

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer

/** An OpenAI-compatible chat endpoint on a loopback port, for specs
  * that drive the real [[OpenAiClient]]. `reply` maps the last
  * message's text to (status, body, headers); the default answers
  * `ok:<prompt>` inside a chat completion. Every request is counted
  * under its prompt.
  */
final class LoopbackBackend(
    reply: String => (Int, String, Seq[(String, String)]) = LoopbackBackend.ok)
    extends AutoCloseable {
  private val mapper = new ObjectMapper()
  private val perPrompt = new ConcurrentHashMap[String, AtomicInteger]()
  private val pool = Executors.newFixedThreadPool(8)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/v1/chat/completions", ex => {
    val req = mapper.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
    val msgs = req.path("messages")
    val prompt = msgs.path(msgs.size() - 1).path("content").asText()
    perPrompt.computeIfAbsent(prompt, _ => new AtomicInteger()).incrementAndGet()
    val (status, body, headers) = reply(prompt)
    val bytes = body.getBytes(UTF_8)
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** requests received, in total and for one prompt */
  def calls: Int = perPrompt.values.asScala.map(_.get).sum
  def calls(prompt: String): Int = Option(perPrompt.get(prompt)).fold(0)(_.get)
  def reset(): Unit = perPrompt.clear()

  override def close(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

object LoopbackBackend {
  private val mapper = new ObjectMapper()

  def completion(content: String): String = {
    val root = mapper.createObjectNode()
    root.putArray("choices").addObject().putObject("message").put("content", content)
    mapper.writeValueAsString(root)
  }

  val ok: String => (Int, String, Seq[(String, String)]) =
    p => (200, completion(s"<think>x</think>ok:$p"), Nil)
}
