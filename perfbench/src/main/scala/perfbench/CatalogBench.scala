package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

import Harness._

/** catalog_mix: registered catalog queries through the noop sink, Bench
  * methodology (the builder call is inside the timed region). */
object CatalogBench {

  val Workload = "catalog_mix"

  val queries: Seq[String] = Seq(
    // session-memoised BPE builders: cheap warm, a first call that runs
    // dozens of eager jobs in the builder
    "q134_bpe_learn_merges", "q136_bpe_corpus_tokens",
    // spread-sensitive dedup
    "q26_dedup_ngram_jaccard", "q27_dedup_minhash_lsh",
    // fake-client LLM enrich
    "q44_llm_enrich_fake",
    // relational anchor
    "q01_agg_pricing_summary")

  /** timed warm passes after the first calls */
  private val Passes = 4

  private final case class Golden(rows: Long, hash: String)

  private def readGoldens(p: Path): Map[String, Golden] =
    Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, rows, hash) = l.split('\t')
      q -> Golden(rows.toLong, hash)
    }.toMap

  def run(o: Opts): Out = {
    val order = new scala.util.Random(o.seed).shuffle(queries)
    val (spark, setupS) = timedSetups(o, if (o.trace || o.recordGoldens.isDefined) 1 else 3) { s =>
      // touch every table the corpus has, so a missing corpus fails set-up
      graft.core.Tables.all.foreach(t => graft.core.Tables.load(s, o.sf, t).schema)
    }
    val fns = SparkEntry.queries
    def frame(q: String): DataFrame = fns(q)(spark, o.sf)
    lazy val goldens = readGoldens(o.goldens)
    // Spark jobs per query come from the status tracker, through a job
    // group per call: no listener in the timed passes
    val sc = spark.sparkContext
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    var calls = 0
    def runQuery(q: String): Double = {
      calls += 1
      val group = s"perfbench-$calls"
      sc.setJobGroup(group, q)
      try time(noop(frame(q)))._2
      finally {
        sc.clearJobGroup()
        jobs(q) = sc.statusTracker.getJobIdsForGroup(group).length
      }
    }
    def pass(): Map[String, Double] = order.map(q => q -> runQuery(q)).toMap
    // the output check: row count and content hash against the goldens
    def checkQuery(q: String): Option[(String, String)] = {
      val (n, h) = Check.fingerprint(frame(q))
      goldens.get(q) match {
        case Some(g) if g.rows == n && g.hash == h => None
        case Some(g) => Some(q -> s"rows $n hash $h, golden rows ${g.rows} hash ${g.hash}")
        case None => Some(q -> "no golden")
      }
    }

    if (o.recordGoldens.isDefined) {
      val lines = queries.sorted.map { q => val (n, h) = Check.fingerprint(frame(q)); s"$q\t$n\t$h" }
      Files.write(o.recordGoldens.get, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      return Out(queries.size, 0, Nil, Map.empty)
    }

    // each query's first call in the session materialises into the
    // checker's fingerprint, so the output is checked without running
    // every query once more
    val firstCalls = order.map { q =>
      val (failure, t) = time(checkQuery(q))
      (q, t, failure)
    }
    val first = firstCalls.map(c => c._1 -> c._2).toMap
    val failures = firstCalls.flatMap(_._3).toMap
    val (warm, ledgerMetrics) =
      if (!o.trace) (repeat(o.seconds, Passes)(pass()), Nil)
      else {
        // the untraced baseline for trace.overhead: the last of the passes
        // an untraced run would time
        val untraced = (1 to Passes).map(_ => pass()).last
        val (traced, metrics) = tracedPass(o, spark, order, frame)
        (Seq(untraced), metrics :+
          Metric("trace.overhead", traced.values.sum / untraced.values.sum, "ratio"))
      }
    // warm calls keep getting faster for several passes while the JIT
    // compiles (q26 goes from 1.8 s to 1.0 s over four), so the mean over
    // a fixed count of passes is steadier than the fastest one
    val perQuery = order.map(q => q -> warm.map(_(q)).sum / warm.size).toMap
    val passS = perQuery.values.sum
    System.err.println("[perfbench] warm " + order.map(q => s"$q=" + warm.map(w => f"${w(q)}%.3f").mkString("/")).mkString(" "))
    System.err.println("[perfbench] first " + order.map(q => f"$q%s=${first(q)}%.3f").mkString(" "))
    val rows = order.flatMap(goldens.get).map(_.rows).sum.toDouble
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("records_per_s", rows / passS, "rec/s"),
      Metric("pass_s", passS, "s"),
      Metric("first_pass_s", first.values.sum, "s"),
      Metric("calls_per_item", jobs.values.sum.toDouble / order.size, "calls/item"),
      Metric("correct_share", 1.0 - failures.size.toDouble / order.size, "fraction"))
    Out(order.size, failures.size, e2e ++ ledgerMetrics, failures)
  }

  /** One pass with the ledger on: each query's builder call and noop
    * write timed apart, Spark's counters attributed to each, written to
    * `ledger-<workload>-<seed>.tsv` in the work dir. */
  private def tracedPass(o: Opts, spark: SparkSession, order: Seq[String],
      frame: String => DataFrame): (Map[String, Double], Seq[Metric]) = {
    val ledger = new Ledger(spark).start()
    val rows = order.map { q =>
      ledger.phase(s"$q/builder")
      val gc0 = Ledger.gcSeconds()
      val (df, builderS) = time(frame(q))
      ledger.phase(s"$q/write")
      val (_, writeS) = time(noop(df))
      val gcS = Ledger.gcSeconds() - gc0
      ledger.phase("")
      val (rdds, bytes) = Ledger.cached(spark)
      (q, builderS, writeS, gcS, rdds, bytes, ledger.get(s"$q/builder"), ledger.get(s"$q/write"))
    }
    ledger.stop()
    val header = "query\tbuilder_s\twrite_s\tplan_s\texec_s\tcoverage\tbuilder_jobs\tjobs\tstages\t" +
      "tasks\tsingle_task_stages\ttask_s\tshuffle_read\tshuffle_write\tspill\tgc_s\tcached_rdds\tcached_bytes"
    val coverage = rows.map { case (_, b, w, _, _, _, _, wr) => (b + wr.planSeconds + wr.execSeconds) / (b + w) }
    val lines = rows.zip(coverage).map { case ((q, b, w, gc, rdds, bytes, bl, wr), cov) =>
      Seq(q, b, w, wr.planSeconds, wr.execSeconds, cov, bl.jobs, bl.jobs + wr.jobs, bl.stages + wr.stages,
        bl.tasks + wr.tasks, bl.singleTaskStages + wr.singleTaskStages, bl.taskSeconds + wr.taskSeconds,
        bl.shuffleReadBytes + wr.shuffleReadBytes, bl.shuffleWriteBytes + wr.shuffleWriteBytes,
        bl.spillBytes + wr.spillBytes, gc, rdds, bytes).mkString("\t")
    }
    Files.write(o.work.resolve(s"ledger-${o.workload}-${o.seed}.tsv"),
      (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))

    def total(f: Ledger.Counters => Double) = rows.map { r => f(r._7) + f(r._8) }.sum
    val wall = rows.map(r => r._2 + r._3).sum
    val times = rows.map(r => r._1 -> (r._2 + r._3)).toMap
    (times, Seq(
      Metric("queries.builder_s", rows.map(_._2).sum, "s"),
      Metric("queries.builder_jobs", rows.map(_._7.jobs.toDouble).sum, "count"),
      Metric("spark.plan_s", rows.map(_._8.planSeconds).sum, "s"),
      Metric("spark.exec_s", rows.map(_._8.execSeconds).sum, "s"),
      Metric("spark.jobs", total(_.jobs.toDouble), "count"),
      Metric("spark.stages", total(_.stages.toDouble), "count"),
      Metric("spark.tasks", total(_.tasks.toDouble), "count"),
      Metric("spark.single_task_stages", total(_.singleTaskStages.toDouble), "count"),
      Metric("spark.task_slot_ratio", total(_.taskSeconds) / (wall * cpus), "ratio"),
      Metric("spark.shuffle_read_bytes", total(_.shuffleReadBytes.toDouble), "bytes"),
      Metric("spark.shuffle_write_bytes", total(_.shuffleWriteBytes.toDouble), "bytes"),
      Metric("spark.spill_bytes", total(_.spillBytes.toDouble), "bytes"),
      Metric("spark.gc_s", rows.map(_._4).sum, "s"),
      Metric("spark.cached_rdds_after", rows.map(_._5.toDouble).max, "count"),
      Metric("spark.cached_bytes_after", rows.map(_._6.toDouble).max, "bytes"),
      Metric("ledger.coverage_min", coverage.min, "ratio"),
      Metric("ledger.coverage_max", coverage.max, "ratio")))
  }
}
