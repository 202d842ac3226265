package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledThreadPoolExecutor, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.llm.OpenAiClient

/** Loopback OpenAI-compatible chat backend for the enrich workloads.
  *
  *   Stub --seed <n> --workload <enrich_*> --threads <n> --port <p> --log <file>
  *
  * Listens on 127.0.0.1 after warming up its response function. Each chat request
  * is parsed on a handler thread and its response is completed by a
  * scheduler thread after the seeded delay: no thread sleeps, so the
  * engine's own in-flight window sets backend concurrency. Handler and
  * scheduler threads together number `--threads`.
  *
  * Control endpoints: `POST /perfbench/reset` starts a new epoch
  * (ordinals restart at 1, the epoch log is cleared), `GET
  * /perfbench/stats` returns the epoch's per-request log, `POST
  * /perfbench/shutdown` writes the whole run's log to `--log` and stops.
  * The stub also stops when its stdin closes, so it never outlives the
  * benchmark.
  */
object Stub {

  /** one request as the stub saw it */
  final case class Entry(
      id: String, ordinal: Int, status: Int,
      arrivalNs: Long, completeNs: Long)

  /** a running stub; [[stop]] returns every request it served */
  final class Server private[Stub] (server: HttpServer, scheduler: ScheduledThreadPoolExecutor,
      handlers: java.util.concurrent.ExecutorService, all: ConcurrentLinkedQueue[Entry],
      val stopped: java.util.concurrent.CountDownLatch) {
    def port: Int = server.getAddress.getPort
    def stop(): Seq[Entry] = {
      server.stop(0)
      scheduler.shutdown(); scheduler.awaitTermination(5, TimeUnit.SECONDS)
      handlers.shutdownNow()
      all.asScala.toVector.sortBy(_.arrivalNs)
    }
  }

  /** what the stub answers to one chat request */
  final case class Reply(id: String, ordinal: Int, status: Int, delayMs: Double,
      body: String, headers: Seq[(String, String)])

  /** The response function: parse the request, find the record id on the
    * user prompt's first line, look up the schedule for its next
    * ordinal, and answer with the echoed id and the content digest. */
  private def reply(mapper: ObjectMapper, schedule: Schedule, profile: Profile,
      request: Array[Byte], nextOrdinal: String => Int): Reply = {
    val root = mapper.readTree(request)
    val user = root.path("messages").elements().asScala
      .filter(_.path("role").asText() == "user").toSeq.last.path("content")
    val (text, images) =
      if (user.isTextual) (user.asText(), Nil)
      else {
        val parts = user.elements().asScala.toSeq
        val txt = parts.find(_.path("type").asText() == "text").map(_.path("text").asText()).getOrElse("")
        val imgs = parts.filter(_.path("type").asText() == "image_url")
          .map(_.path("image_url").path("url").asText().stripPrefix("data:image/jpeg;base64,"))
        (txt, imgs)
      }
    val id = Inputs.IdTag.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
    val i = Schedule.index(id)
    val ordinal = nextOrdinal(id)
    val status = schedule.status(i, ordinal)
    val (body, headers) = status match {
      case 200 =>
        val resp = mapper.createObjectNode()
        resp.put("id", s"chatcmpl-$id-$ordinal")
        resp.put("object", "chat.completion")
        resp.put("model", root.path("model").asText())
        val choice = resp.putArray("choices").addObject()
        choice.put("index", 0)
        choice.putObject("message").put("role", "assistant")
          .put("content", Schedule.content(id, Schedule.digest(text, images), profile.thinkChars))
        choice.put("finish_reason", "stop")
        (mapper.writeValueAsString(resp), Nil)
      case 429 => ("""{"error":{"message":"rate limited","type":"rate_limit"}}""", Seq("Retry-After" -> "1"))
      case 503 => ("""{"error":{"message":"overloaded","type":"server_error"}}""", Nil)
      case _ => ("""{"error":{"message":"scheduled terminal error","type":"invalid_request_error"}}""", Nil)
    }
    Reply(id, ordinal, status, schedule.delayMs(i, ordinal), body, headers)
  }

  /** Run the response function over the workload's own kind of request
    * for a few seconds before serving, so the stub's JIT warm-up is not
    * charged to the engine's first passes. */
  private def warmUp(mapper: ObjectMapper, schedule: Schedule, workload: String): Unit = {
    val gen = Inputs.generate(workload, 0)
    val cfg = graft.core.JobConfig(id = "warm-up", erbTemplate = "", backendEndpoint = "",
      model = "stub-model", outputLabel = Inputs.Label, systemErbTemplate = None,
      params = Map.empty, useImages = true, responseFormat = None)
    val requests = gen.records.take(1000).map(r => OpenAiClient.requestBody(
      Seq(graft.llm.Msg("user", Inputs.expectedPrompt(r), r.images)), cfg).getBytes(UTF_8))
    val deadline = System.nanoTime() + 3000000000L
    var k = 0
    while (k < 20000 && System.nanoTime() < deadline) {
      reply(mapper, schedule, schedule.profile, requests(k % requests.size), _ => 1)
      k += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val stub = start(opts("seed").toLong, opts("workload"), opts.getOrElse("threads", "2").toInt,
      opts.getOrElse("port", "0").toInt)
    val stdinWatch = new Thread(() => {
      while (System.in.read() >= 0) {}
      stub.stopped.countDown()
    })
    stdinWatch.setDaemon(true)
    stdinWatch.start()
    stub.stopped.await()
    val all = stub.stop()
    opts.get("log").foreach { p =>
      val t0 = if (all.isEmpty) 0L else all.head.arrivalNs
      val lines = all.map(e =>
        f"${e.id}\t${e.ordinal}\t${e.status}\t${(e.arrivalNs - t0) / 1e6}%.3f\t${(e.completeNs - e.arrivalNs) / 1e6}%.3f")
      Files.write(Paths.get(p),
        ("id\tordinal\tstatus\tarrival_ms\tservice_ms" +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  def start(seed: Long, workload: String, threadCount: Int, port: Int = 0): Server = {
    val profile = Profile.byWorkload(workload)
    val schedule = new Schedule(seed, profile)
    val threads = math.max(2, threadCount)
    val mapper = new ObjectMapper()
    warmUp(mapper, schedule, workload)
    val ordinals = new ConcurrentHashMap[String, AtomicInteger]()
    @volatile var epoch = new ConcurrentLinkedQueue[Entry]()
    val all = new ConcurrentLinkedQueue[Entry]()
    val scheduler = new ScheduledThreadPoolExecutor(1)
    val handlers = Executors.newFixedThreadPool(threads - 1)
    val stopped = new java.util.concurrent.CountDownLatch(1)
    // without TCP_NODELAY, Nagle's algorithm holds the body behind the
    // headers until the client's delayed ACK: ~40 ms added per response
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 1024)
    server.setExecutor(handlers)

    def send(ex: HttpExchange, status: Int, body: String,
        headers: Seq[(String, String)] = Nil): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      os.write(bytes); os.close()
    }

    def chat(ex: HttpExchange): Unit = {
      val arrival = System.nanoTime()
      val body = ex.getRequestBody.readAllBytes()
      ex.getRequestBody.close()
      val Reply(id, ordinal, status, delayMs, text, headers) = reply(mapper, schedule, profile, body,
        id => ordinals.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet())
      val due = arrival + (delayMs * 1e6).toLong
      scheduler.schedule(new Runnable {
        def run(): Unit = {
          try send(ex, status, text, headers) finally ex.close()
          val e = Entry(id, ordinal, status, arrival, System.nanoTime())
          epoch.add(e); all.add(e)
        }
      }, math.max(0L, due - System.nanoTime()), TimeUnit.NANOSECONDS)
    }

    server.createContext("/v1/chat/completions", (ex: HttpExchange) =>
      try chat(ex)
      catch { case e: Throwable =>
        try send(ex, 500, s"""{"error":{"message":"stub: ${e.getClass.getSimpleName}"}}""")
        finally ex.close()
      })
    server.createContext("/perfbench/reset", (ex: HttpExchange) => {
      ordinals.clear(); epoch = new ConcurrentLinkedQueue[Entry]()
      send(ex, 200, "{}"); ex.close()
    })
    server.createContext("/perfbench/stats", (ex: HttpExchange) => {
      send(ex, 200, statsJson(epoch.asScala.toSeq)); ex.close()
    })
    server.createContext("/perfbench/shutdown", (ex: HttpExchange) => {
      send(ex, 200, "{}"); ex.close(); stopped.countDown()
    })
    server.start()
    new Server(server, scheduler, handlers, all, stopped)
  }

  /** the epoch's requests: one `[id, ordinal, status, arrival_ms,
    * service_ms]` row each, arrival relative to the epoch's first */
  private def statsJson(es: Seq[Entry]): String = {
    val t0 = if (es.isEmpty) 0L else es.map(_.arrivalNs).min
    es.sortBy(_.arrivalNs).map { e =>
      s"""["${e.id}",${e.ordinal},${e.status},${(e.arrivalNs - t0) / 1e6},${(e.completeNs - e.arrivalNs) / 1e6}]"""
    }.mkString("""{"log":[""", ",", "]}")
  }
}
