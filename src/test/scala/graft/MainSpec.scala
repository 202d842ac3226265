package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.{LoopbackBackend, OpenAiClient}
import graft.pipeline.EnrichJob

/** CLI exit-code contract (reference bin/job.rb:6-24,
  * spec/bin_job_spec.rb:42-54): bad usage → 1, missing YAML → 1,
  * init error → 1, happy path (fake backend) → 0 with JSONL output.
  */
class MainSpec extends SparkSpec {

  private def setup(): Path = {
    val d = Files.createTempDirectory("graft-main")
    Files.writeString(d.resolve("prompt.erb"), "sum: <%= texts[:content] %>")
    Files.writeString(d.resolve("job.yml"),
      s""":id: cli-test
         |:erb_filepath: prompt.erb
         |:backend_endpoint: http://localhost:9/v1
         |:model: m
         |:output_label: summary""".stripMargin)
    Files.writeString(d.resolve("in.jsonl"),
      """{"id": "1", "texts": {"content": "alpha"}}
        |bad json line
        |{"id": "2", "texts": {"content": "beta"}}
        |""".stripMargin)
    d
  }

  test("no args → usage, exit 1") { assert(Main.run(Array.empty) == 1) }

  test("reference parity: job.yml alone reads STDIN, writes JSONL to STDOUT") {
    spark // ensure the shared session exists so Main reuses it
    val d = setup()
    val oldIn = System.in
    val oldOut = System.out
    val bout = new java.io.ByteArrayOutputStream()
    val code =
      try {
        System.setIn(new java.io.ByteArrayInputStream(
          Files.readAllBytes(d.resolve("in.jsonl"))))
        System.setOut(new java.io.PrintStream(bout, true, "UTF-8"))
        Main.run(Array(d.resolve("job.yml").toString, "--fake"))
      } finally { System.setIn(oldIn); System.setOut(oldOut) }
    assert(code == 0)
    val lines = bout.toString("UTF-8").split("\n").filter(_.nonEmpty)
    assert(lines.length == 2) // corrupt line dropped, job still exit 0
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    assert(lines.forall(_.contains(""""summary":"FAKE[""")))
  }

  test("missing YAML file → exit 1") {
    assert(Main.run(Array("/nope/job.yml", "--in", "x", "--out", "y")) == 1)
  }

  test("invalid config (missing keys) → exit 1") {
    val d = setup()
    Files.writeString(d.resolve("bad.yml"), ":id: x")
    assert(Main.run(Array(d.resolve("bad.yml").toString,
      "--in", "x", "--out", "y")) == 1)
  }

  test("happy path with --fake: exit 0, corrupt line dead-lettered") {
    spark // ensure the shared session exists so Main reuses it
    val d = setup()
    val out = d.resolve("out").toString
    val err = d.resolve("err").toString
    val code = Main.run(Array(d.resolve("job.yml").toString,
      "--in", d.resolve("in.jsonl").toString,
      "--out", out, "--err", err, "--fake"))
    assert(code == 0)
    import spark.implicits._
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.length == 2)
    assert(lines.forall(_.contains(""""summary":"FAKE[""")))
    assert(spark.read.text(s"$err/corrupt").count() == 1)
  }

  /** a job against `backend` over `n` well-formed records (content
    * `c<i>`, or `BAD<i>` for the ids in `bad`), two corrupt lines and a
    * blank one
    */
  private def backendJob(backend: LoopbackBackend, n: Int, bad: Set[Int] = Set.empty): Path = {
    val d = setup()
    Files.writeString(d.resolve("job.yml"),
      s""":id: cli-backend
         |:erb_filepath: prompt.erb
         |:backend_endpoint: ${backend.endpoint}
         |:model: m
         |:output_label: summary""".stripMargin)
    val records = (1 to n).map { i =>
      val c = if (bad(i)) s"BAD$i" else s"c$i"
      s"""{"id": "$i", "texts": {"content": "$c"}, "images": ["aW1n$i"]}"""
    }
    Files.write(d.resolve("in.jsonl"),
      (records.take(n / 2) ++ Seq("not json", "") ++ records.drop(n / 2) :+ "{broken")
        .asJava)
    d
  }

  private def runMain(d: Path, err: Boolean): Int = Main.run(Array(
    d.resolve("job.yml").toString, "--in", d.resolve("in.jsonl").toString,
    "--out", d.resolve("out").toString) ++
    (if (err) Array("--err", d.resolve("err").toString) else Array.empty[String]))

  /** part-file lines of a directory, sorted */
  private def partLines(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).sorted
    finally ls.close()
  }

  private val badReply: String => (Int, String, Seq[(String, String)]) = p =>
    if (p.contains("BAD")) (400, """{"error":"bad request"}""", Nil) else LoopbackBackend.ok(p)

  test("one backend call per well-formed record, with and without --err") {
    spark
    val backend = new LoopbackBackend()
    try {
      val d = backendJob(backend, 12)
      assert(runMain(d, err = false) == 0)
      assert(backend.calls == 12, "without --err")
      assert(partLines(d.resolve("out")).size == 12)
      backend.reset()
      assert(runMain(d, err = true) == 0)
      assert(backend.calls == 12, "with --err")
      assert(partLines(d.resolve("out")).size == 12)
    } finally backend.close()
  }

  test("HTTP 400 is terminal: called once per record, dead-lettered with its status") {
    spark
    val backend = new LoopbackBackend(badReply)
    try {
      val d = backendJob(backend, 10, bad = Set(2, 7))
      assert(runMain(d, err = true) == 0)
      assert(backend.calls("sum: BAD2") == 1 && backend.calls("sum: BAD7") == 1)
      assert(backend.calls == 10)
      val failed = partLines(d.resolve("err/failed"))
      assert(failed.size == 2)
      assert(failed.forall(_.contains(""""error":"API request failed: HTTP 400: {\"error\":\"bad request\"}"""")),
        failed.mkString("\n"))
    } finally backend.close()
  }

  test("--err writes the same lines as the three-write layout, one _SUCCESS per directory") {
    spark
    val backend = new LoopbackBackend(badReply)
    try {
      val d = backendJob(backend, 10, bad = Set(3))
      // the layout before the single-job write: good, corrupt and
      // dead-letter written by three separate jobs
      val old = d.resolve("old")
      val split = Jsonl.read(spark, d.resolve("in.jsonl").toString)
      val r = EnrichJob.run(split.good, JobConfig.load(d.resolve("job.yml").toString),
        new OpenAiClient())
      Jsonl.write(r.good, old.resolve("out").toString)
      split.corrupt.write.text(old.resolve("err/corrupt").toString)
      r.deadLetter.write.json(old.resolve("err/failed").toString)

      // a stale file in a target must not survive the overwrite
      Files.createDirectories(d.resolve("out"))
      Files.writeString(d.resolve("out/part-stale.txt"), "stale")
      assert(runMain(d, err = true) == 0)
      for (sub <- Seq("out", "err/corrupt", "err/failed")) {
        assert(partLines(d.resolve(sub)) == partLines(old.resolve(sub)), sub)
        assert(Files.exists(d.resolve(sub).resolve("_SUCCESS")), sub)
      }
      assert(partLines(d.resolve("out")).size == 9)
      assert(partLines(d.resolve("err/corrupt")) == Seq("not json", "{broken").sorted)
      assert(partLines(d.resolve("err/failed")).size == 1)
      // the staging directory is gone
      val siblings = Files.list(d)
      try assert(!siblings.iterator().asScala.exists(_.getFileName.toString.contains("staging")))
      finally siblings.close()

      // nothing failed: an empty failed directory, still marked done
      val clean = backendJob(backend, 6)
      assert(runMain(clean, err = true) == 0)
      assert(Files.isDirectory(clean.resolve("err/failed")))
      assert(Files.exists(clean.resolve("err/failed/_SUCCESS")))
      assert(partLines(clean.resolve("err/failed")).isEmpty)
      assert(partLines(clean.resolve("out")).size == 6)
    } finally backend.close()
  }
}
