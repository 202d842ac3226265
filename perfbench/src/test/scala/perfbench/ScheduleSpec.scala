package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.JobConfig
import graft.llm.{Msg, OpenAiClient}

class ScheduleSpec extends AnyFunSuite {
  private val waitProfile = Profile.byWorkload("enrich_wait")
  private val n = waitProfile.records

  private def table(s: Schedule) =
    for (i <- 0 until n; o <- 1 to 6) yield (s.status(i, o), s.delayMs(i, o))

  test("the schedule is a pure function of (seed, record, ordinal)") {
    assert(table(new Schedule(7, waitProfile)) == table(new Schedule(7, waitProfile)))
    assert(table(new Schedule(7, waitProfile)) != table(new Schedule(8, waitProfile)))
  }

  test("every seed gets the same error counts and the same set of delays") {
    val delays = (1L to 5L).map { seed =>
      val s = new Schedule(seed, waitProfile)
      assert((0 until n).count(s.isTerminal) == n / waitProfile.terminalEvery)
      assert((0 until n).count(s.isTransient) == n / waitProfile.transientEvery)
      val statuses = (0 until n).map(s.status(_, 1)).toSet
      assert(statuses == Set(200, 400, 429, 503))
      // a transient record succeeds on its next attempt
      (0 until n).filter(s.isTransient).foreach(i => assert(s.status(i, 2) == 200))
      (0 until n).map(s.delayMs(_, 1)).sorted
    }
    assert(delays.distinct.size == 1)
    assert(delays.head(n / 2) > 15 && delays.head(n / 2) < 25)
  }

  test("inputs reproduce for a seed") {
    assert(Inputs.generate("enrich_cpu", 3).lines == Inputs.generate("enrich_cpu", 3).lines)
    assert(Inputs.generate("enrich_cpu", 3).lines != Inputs.generate("enrich_cpu", 4).lines)
    val g = Inputs.generate("enrich_cpu", 3)
    assert(g.corruptIds.size == 80 && g.inputIds == 4000)
    assert(g.records.count(_.images.nonEmpty) == 800)
  }

  test("the stub's responses and request log reproduce exactly for a seed") {
    val cfg = JobConfig(id = "t", erbTemplate = "", backendEndpoint = "", model = "m",
      outputLabel = Inputs.Label, systemErbTemplate = None, params = Map.empty,
      useImages = false, responseFormat = None)
    def session(seed: Long): (Seq[(Int, String)], Seq[(String, Int, Int)]) = {
      val schedule = new Schedule(seed, waitProfile)
      val gen = Inputs.generate("enrich_wait", seed)
      val picked = gen.records.filter { r =>
        val i = Schedule.index(r.id); schedule.isTerminal(i) || schedule.isTransient(i)
      } ++ gen.records.take(10)
      val stub = Stub.start(seed, "enrich_wait", 2)
      try {
        val http = HttpClient.newHttpClient()
        val replies = for (r <- picked; _ <- 1 to 2) yield {
          val body = OpenAiClient.requestBody(Seq(Msg("user", Inputs.expectedPrompt(r))), cfg)
          val resp = http.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${stub.port}/v1/chat/completions"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 200)
            assert(resp.body().contains(Schedule.answer(r.id,
              Schedule.digest(Inputs.expectedPrompt(r), Nil)).replace("\"", "\\\"")))
          (resp.statusCode(), resp.body())
        }
        (replies, stub.stop().map(e => (e.id, e.ordinal, e.status)))
      } finally stub.stop()
    }
    val (a, logA) = session(11)
    val (b, logB) = session(11)
    assert(a == b)
    assert(logA == logB)
    assert(a.map(_._1).toSet == Set(200, 400, 429, 503))
    assert(session(12)._1 != a)
  }
}
