package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.{Msg, OpenAiClient}
import graft.pipeline.{EnrichJob, EnrichOptions}
import graft.template.Template

import Harness._

/** enrich_wait and enrich_cpu: `graft.Main.run` over seeded JSONL
  * against the stub. */
object EnrichBench {

  private final case class Pass(wallS: Double, stub: Seq[StubRequest], verdict: Check.Verdict)

  def run(o: Opts): Out = {
    val profile = Profile.byWorkload(o.workload)
    val schedule = new Schedule(o.seed, profile)
    val stub = new StubControl(o.port)
    val dir = o.work.resolve(o.workload)
    val withErr = o.workload == "enrich_wait"
    val in = dir.resolve("in.jsonl")
    val out = dir.resolve("out")
    val err = dir.resolve("err")
    var gen: Inputs.Generated = null
    var yml: Path = null

    // set-up ends with a warm-up Main.run over a few records the
    // schedule answers at the first attempt
    val (spark, setupS) = timedSetups(o, if (o.trace) 1 else 3) { _ =>
      stub.awaitReady(60)
      gen = Inputs.generate(o.workload, o.seed)
      yml = Inputs.writeJob(dir, o.workload, o.port, gen)
      val plain = gen.records.filter { r =>
        val i = Schedule.index(r.id)
        !schedule.isTerminal(i) && !schedule.isTransient(i)
      }.take(16).map(_.id).toSet
      val warmIn = dir.resolve("warmup.jsonl")
      Files.write(warmIn, gen.lines.filter(l => plain.exists(id => l.startsWith(s"""{"id":"$id"""")))
        .mkString("", "\n", "\n").getBytes(UTF_8))
      val rc = graft.Main.run(Array(yml.toString, "--in", warmIn.toString,
        "--out", dir.resolve("warmup-out").toString) ++
        (if (withErr) Array("--err", dir.resolve("warmup-err").toString) else Array.empty[String]))
      require(rc == 0, s"warm-up Main.run exited $rc")
      stub.reset()
    }
    val cfg = JobConfig.load(yml.toString)
    val args = Array(yml.toString, "--in", in.toString, "--out", out.toString) ++
      (if (withErr) Array("--err", err.toString) else Array.empty[String])
    val n = gen.inputIds.toDouble

    def check(): Check.Verdict =
      Check.enrich(gen, schedule, cfg.useImages, out, if (withErr) Some(err) else None)

    def mainPass(): Pass = {
      stub.reset()
      val (rc, wall) = time(graft.Main.run(args))
      val v = check()
      Pass(wall, stub.log(), if (rc == 0) v else v.copy(failedIds = Map("graft.Main" -> s"exit $rc")))
    }

    val first = mainPass()
    if (!o.trace) {
      val warm = repeat(o.seconds, profile.warmPasses)(mainPass())
      val all = first +: warm
      System.err.println(f"[perfbench] Main.run ${all.map(p => f"${p.wallS}%.3f").mkString(" ")}")
      val failures = all.flatMap(_.verdict.failedIds).toMap
      val passS = warm.map(_.wallS).sum / warm.size
      Out(gen.inputIds, failures.size, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("records_per_s", n / passS, "rec/s"),
        Metric("pass_s", passS, "s"),
        Metric("first_pass_s", first.wallS, "s"),
        Metric("calls_per_item", median(warm.map(_.stub.size / n)), "calls/item"),
        Metric("correct_share", 1.0 - failures.size / n, "fraction")), failures)
    } else {
      // the untraced baseline for trace.overhead: the last of the passes
      // an untraced run would time
      val untraced = (1 to profile.warmPasses).map(_ => mainPass())
      traced(o, spark, cfg, gen, schedule, stub, in, out, err, withErr, untraced.last.wallS,
        (first +: untraced).flatMap(_.verdict.failedIds).toMap)
    }
  }

  /** The traced run: Main's own sequence of calls with a timing client,
    * a ledger, and each layer timed alone on the same inputs. */
  private def traced(o: Opts, spark: SparkSession, cfg: JobConfig, gen: Inputs.Generated,
      schedule: Schedule, stub: StubControl, in: Path, out: Path, err: Path,
      withErr: Boolean, untracedS: Double, earlierFailures: Map[String, String]): Out = {
    import spark.implicits._
    val n = gen.inputIds.toDouble
    val ledger = new Ledger(spark).start()
    ledger.phase("job")
    stub.reset()
    TracingClient.take()
    val gc0 = Ledger.gcSeconds()
    val (_, tracedS) = time {
      val split = Jsonl.read(spark, in.toString)
      val result = EnrichJob.run(split.good, cfg, new TracingClient(new OpenAiClient()), EnrichOptions())
      Jsonl.write(result.good, out.toString)
      if (withErr) {
        split.corrupt.write.mode("overwrite").text(s"$err/corrupt")
        result.deadLetter.write.mode("overwrite").json(s"$err/failed")
      }
    }
    val gcS = Ledger.gcSeconds() - gc0
    ledger.phase("probes")
    val (cachedRdds, cachedBytes) = Ledger.cached(spark)
    val spans = TracingClient.take()
    val backend = stub.log()
    val verdict = Check.enrich(gen, schedule, cfg.useImages, out, if (withErr) Some(err) else None)
    val job = ledger.get("job")
    val stageOf = spans.map(s => s -> ledger.stageAt(s.startMs).getOrElse(-1)).toMap
    val stageTasks = stageOf.values.toSeq.distinct.flatMap(ledger.tasksOfStage).map(_.toDouble)
    ledger.stop()

    // layers timed alone
    val (split, readS) = time {
      val s = Jsonl.read(spark, in.toString); noop(s.good); s
    }
    val corruptLines = split.corrupt.count()
    val records = split.good.localCheckpoint()
    val (_, writeS) = time(Jsonl.write(records, o.work.resolve("io-write").toString))
    val userTpl = Template.compile(cfg.erbTemplate)
    val (_, renderS) = time(noop(records.select(
      userTpl.column(col("id"), col("texts"), col("images")).as("prompt"))))
    val sysTpl = cfg.systemErbTemplate.map(Template.compile)
    val messages = gen.records.map { r =>
      val sys = sysTpl.map(t => t.render(graft.core.Record.R(r.id, r.texts, r.images)))
        .filter(_.trim.nonEmpty).map(Msg("system", _)).toSeq
      sys :+ Msg("user", Inputs.expectedPrompt(r), if (cfg.useImages) r.images else Nil)
    }
    val (_, serializeS) = time(messages.foreach(m => OpenAiClient.requestBody(m, cfg)))
    stub.reset()
    val (_, pipelineS) = time(noop(
      EnrichJob.run(records, cfg, new TracingClient(new OpenAiClient()), EnrichOptions()).good))
    TracingClient.take()
    val responses = gen.records.map(r => Schedule.content(r.id,
      Schedule.digest(Inputs.expectedPrompt(r), if (cfg.useImages) r.images else Nil),
      schedule.profile.thinkChars)).toDF("response").localCheckpoint()
    val (_, cleanS) = time(noop(responses.select(EnrichJob.cleanContent(col("response")))))

    // derived llm metrics
    val chatMs = spans.map(_.ms)
    val serviceMs = backend.map(_.serviceMs)
    val byCall = spans.groupBy(s => (s.id, stageOf(s))).values.map(_.sortBy(_.startNs))
    val retryWaitS = byCall.flatMap(c => c.zip(c.drop(1)).collect {
      case (a, b) if !a.ok => (b.startNs - a.endNs) / 1e9
    }).sum
    val terminalRetries = byCall.filter(c => schedule.isTerminal(Schedule.index(c.head.id)))
      .map(_.size - 1).sum
    val passes = spans.groupBy(_.id).values.map(_.map(stageOf).distinct.size.toDouble)
    val span = if (backend.isEmpty) 1.0
      else backend.map(r => r.arrivalMs + r.serviceMs).max - backend.map(_.arrivalMs).min
    val failures = earlierFailures ++ verdict.failedIds
    Out(gen.inputIds, failures.size, Seq(
      Metric("io.read_s", readS, "s"),
      Metric("io.write_s", writeS, "s"),
      Metric("io.corrupt_lines", corruptLines.toDouble, "count"),
      Metric("template.render_s", renderS, "s"),
      Metric("llm.serialize_s", serializeS, "s"),
      Metric("llm.overhead_ms",
        (chatMs.sum - serviceMs.sum) / math.max(1, chatMs.size), "ms"),
      Metric("llm.chat_p50_ms", percentile(chatMs, 0.5), "ms"),
      Metric("llm.chat_p99_ms", percentile(chatMs, 0.99), "ms"),
      Metric("llm.inflight_mean", serviceMs.sum / math.max(span, 1e-3), "requests"),
      Metric("llm.stage_tasks", median(stageTasks), "count"),
      Metric("llm.retries_terminal", terminalRetries.toDouble, "count"),
      Metric("llm.retry_wait_s", retryWaitS, "s"),
      Metric("llm.attempts_per_record", spans.size / n, "calls/rec"),
      Metric("llm.passes_per_record", passes.sum / math.max(1, passes.size), "passes"),
      Metric("backend.requests", backend.size.toDouble, "count"),
      Metric("backend.status_429", backend.count(_.status == 429).toDouble, "count"),
      Metric("backend.status_5xx", backend.count(_.status >= 500).toDouble, "count"),
      Metric("backend.status_4xx", backend.count(r => r.status >= 400 && r.status < 500 && r.status != 429).toDouble, "count"),
      Metric("backend.service_s", serviceMs.sum / 1e3, "s"),
      Metric("pipeline.run_s", pipelineS, "s"),
      Metric("pipeline.clean_s", cleanS, "s"),
      Metric("spark.jobs", job.jobs.toDouble, "count"),
      Metric("spark.stages", job.stages.toDouble, "count"),
      Metric("spark.tasks", job.tasks.toDouble, "count"),
      Metric("spark.single_task_stages", job.singleTaskStages.toDouble, "count"),
      Metric("spark.task_slot_ratio", job.taskSeconds / (tracedS * cpus), "ratio"),
      Metric("spark.plan_s", job.planSeconds, "s"),
      Metric("spark.exec_s", job.execSeconds, "s"),
      Metric("spark.shuffle_read_bytes", job.shuffleReadBytes.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", job.shuffleWriteBytes.toDouble, "bytes"),
      Metric("spark.spill_bytes", job.spillBytes.toDouble, "bytes"),
      Metric("spark.gc_s", gcS, "s"),
      Metric("spark.cached_rdds_after", cachedRdds.toDouble, "count"),
      Metric("spark.cached_bytes_after", cachedBytes.toDouble, "bytes"),
      Metric("ledger.coverage_min", (job.planSeconds + job.execSeconds) / tracedS, "ratio"),
      Metric("ledger.coverage_max", (job.planSeconds + job.execSeconds) / tracedS, "ratio"),
      Metric("trace.overhead", tracedS / untracedS, "ratio")), failures)
  }
}
