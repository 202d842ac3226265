package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The checker behind `correct_share` must notice a deliberately
  * altered output. */
class CheckSpec extends AnyFunSuite {
  import CheckSpec.Fixture

  private val mapper = new ObjectMapper()

  private def fixture(workload: String, seed: Long) =
    Fixture(Inputs.generate(workload, seed), new Schedule(seed, Profile.byWorkload(workload)),
      useImages = workload == "enrich_cpu")

  /** the output a correct job writes: good records and dead letters */
  private def expected(f: Fixture): (Seq[String], Seq[String]) = {
    val (terminal, good) = f.gen.records.partition(r => f.schedule.isTerminal(Schedule.index(r.id)))
    val goodLines = good.map { r =>
      val node = mapper.createObjectNode()
      node.put("id", r.id)
      val t = node.putObject("texts")
      r.texts.foreach { case (k, v) => t.put(k, v) }
      t.put(Inputs.Label, Schedule.answer(r.id,
        Schedule.digest(Inputs.expectedPrompt(r), if (f.useImages) r.images else Nil)))
      val a = node.putArray("images"); r.images.foreach(a.add)
      mapper.writeValueAsString(node)
    }
    val failedLines = terminal.map { r =>
      val node = mapper.createObjectNode()
      node.put("id", r.id)
      node.put("error", "API request failed: HTTP 400: {\"error\":{}}")
      node.put("record", "{}")
      mapper.writeValueAsString(node)
    }
    (goodLines, failedLines)
  }

  private def verdict(f: Fixture, good: Seq[String], failed: Seq[String]): Check.Verdict = {
    val dir = Files.createTempDirectory("perfbench-check")
    def write(d: Path, lines: Seq[String]): Unit = {
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000.json"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    write(dir.resolve("out"), good)
    write(dir.resolve("err").resolve("failed"), failed)
    Check.enrich(f.gen, f.schedule, f.useImages, dir.resolve("out"), Some(dir.resolve("err")))
  }

  private def share(v: Check.Verdict) = v.failed.toDouble / v.attempted

  test("a correct enrich output passes; each alteration raises the failed share") {
    val f = fixture("enrich_wait", 5)
    val (good, failed) = expected(f)
    assert(failed.nonEmpty)
    assert(verdict(f, good, failed).failed == 0)

    val relabelled = good.updated(3, good(3).replace("\"digest\\\":\\\"", "\"digest\\\":\\\"0"))
    assert(relabelled != good)
    assert(share(verdict(f, relabelled, failed)) == 1.0 / f.gen.inputIds)
    assert(verdict(f, good.drop(1), failed).failed == 1)
    assert(verdict(f, good ++ failed.take(1).map(_.replace("\"error\"", "\"texts\":{},\"x\"")), failed.drop(1)).failed == 1)
    assert(verdict(f, good, failed.map(_.replace("HTTP 400", "HTTP 500"))).failed == failed.size)
    assert(verdict(f, good ++ good.take(1), failed).failed == 1)
  }

  test("a corrupt input line that reaches the output is a failure") {
    val f = fixture("enrich_cpu", 6)
    val (good, failed) = expected(f)
    assert(verdict(f, good, failed).failed == 0)
    val leaked = s"""{"id":"${f.gen.corruptIds.head}","texts":{},"images":[]}"""
    assert(verdict(f, good :+ leaked, failed).failed == 1)
  }

  test("the catalog fingerprint ignores row order and float summation noise, not content") {
    val spark = SparkSession.builder().master("local[2]").appName("check-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i, i * 0.1, s"s$i"))
      val df = rows.toDF("k", "x", "s")
      val base = Check.fingerprint(df)
      assert(base._1 == 200)
      assert(Check.fingerprint(rows.reverse.toDF("k", "x", "s").repartition(3)) == base)
      assert(Check.fingerprint(rows.map { case (k, x, s) => (k, x + 1e-12, s) }.toDF("k", "x", "s")) == base)
      assert(Check.fingerprint(rows.updated(7, (8, 0.8, "changed")).toDF("k", "x", "s")) != base)
      assert(Check.fingerprint(df.limit(199)) != base)
    } finally spark.stop()
  }
}

object CheckSpec {
  final case class Fixture(gen: Inputs.Generated, schedule: Schedule, useImages: Boolean)
}
