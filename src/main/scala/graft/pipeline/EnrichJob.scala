package graft.pipeline

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors,
  ThreadLocalRandom, TimeUnit, Future => JFuture}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.JobConfig
import graft.io.Jsonl
import graft.llm.{HttpStatusException, LlmClient, MalformedResponseException, Msg}
import graft.template.Template

/** Tuning for the effectful LLM stage. Defaults follow the reference's
  * contract (240 s timeout lives in JobConfig) plus the scale features
  * the reference lacks: per-partition async concurrency and
  * retry-with-backoff (SURVEY.md E18).
  */
final case class EnrichOptions(
    /** in-flight requests per partition; total cluster concurrency =
      * partitions × this */
    concurrency: Int = 8,
    maxRetries: Int = 2,
    retryBackoffMs: Long = 500,
    /** request-rate cap per partition (0 = unlimited); cluster-wide
      * rate = partitions × this — size it to the backend's quota */
    maxReqPerSec: Double = 0.0)

/** The reference's whole job — `process_item` mapped over a corpus
  * (SURVEY.md R3-R11) — as one declarative DataFrame transform.
  *
  * Plan shape (everything except the HTTP POST stays in whole-stage
  * codegen):
  *
  *   prompt render     — Catalyst concat/element_at (Template.column)
  *   LLM invoke        — mapPartitions, pooled client per partition,
  *                       async window of `concurrency` requests
  *   <think> strip     — regexp_replace + trim (codegen)
  *   label append      — map_filter + map_concat (codegen; overwrite
  *                       semantics without relying on mapKeyDedupPolicy)
  *   fail-soft fork    — error rows to dead-letter, job never fails
  *                       (reference lib/job_processor.rb:27-29)
  */
/** internal row shapes for the typed mapPartitions stage — must be
  * top-level (non-private) so Catalyst's generated encoder code can
  * construct them
  */
final case class Prompted(
    id: String, texts: Map[String, String], images: Seq[String],
    prompt: String, sys: Option[String], cacheKey: String)
final case class Called(
    id: String, texts: Map[String, String], images: Seq[String],
    response: Option[String], error: Option[String], cacheKey: String)

object EnrichJob {

  /** @param lines every called record once, as the line a sink writes
    *   for it: `kind` is "good" or "failed", and `value` is the good
    *   record's JSONL line ([[Jsonl.line]]) or the dead-letter row as
    *   JSON. One action over it runs the LLM stage once and feeds both
    *   outputs; without `materialize`, `good` and `deadLetter` each
    *   re-run the stage.
    */
  final case class Result(good: DataFrame, deadLetter: DataFrame, lines: DataFrame)

  /** Completed calls a partition may hold unemitted, per slot of
    * `concurrency`. Output keeps input order, so a slow head record
    * holds back everything behind it; the window keeps calling past it
    * until this many answers wait behind the head. It bounds the
    * records held in memory, not the calls in flight.
    */
  private val BufferedPerSlot = 16

  /** Largest random share added to every back-off, so partitions that
    * failed together do not retry together.
    */
  private val JitterFraction = 0.2

  /** `<think>…</think>` removal + trim (reference clean_content,
    * lib/job_processor.rb:207-210; Ruby /m ≡ Java (?s)). Ruby strip
    * removes ALL whitespace incl. newlines — Spark's `trim` only strips
    * spaces, so the trim is a regex too. Codegen'd.
    */
  def cleanContent(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?s)<think>.*?</think>", ""),
      "(?s)\\A[\\s\\u0000]+|[\\s\\u0000]+\\z", "")

  /** @param materialize localCheckpoint the called frame BEFORE the
    *   good/dead-letter fork, so a caller consuming BOTH forks runs the
    *   LLM stage exactly once. Its callers are [[ValidateRepair]]
    *   (q224/q227), which must account for call failures, and q262's
    *   dead-letter replay. `graft.Main` does not use it: it writes
    *   [[Result.lines]] in one job. The default keeps the stage lazy
    *   for the common good-only consumers. Two deliberate trade-offs
    *   when true (ADVICE r14): the checkpoint is EAGER, so every
    *   first-pass LLM call fires AT run() time even if the returned
    *   frames are never acted on — callers opting in are buying
    *   exactly-once calls, not laziness; and localCheckpoint blocks
    *   are UNREPLICATED executor-local state, so losing an executor
    *   fails the job instead of recomputing (acceptable here because
    *   recomputing IS the failure being priced: a recompute would
    *   re-fire paid API calls — restart-durability is what
    *   [[runCached]]'s on-disk idempotency cache is for)
    */
  def run(
      records: DataFrame,
      cfg: JobConfig,
      client: LlmClient,
      opts: EnrichOptions = EnrichOptions(),
      materialize: Boolean = false): Result = {
    import records.sparkSession.implicits._
    val prompted = promptedFrame(records, cfg).as[Prompted]
    val useImages = cfg.useImages
    val called = prompted.mapPartitions { it =>
      callPartition(it, cfg, client, opts, useImages)
    }.toDF()
    assemble(if (materialize) called.localCheckpoint() else called, cfg)
  }

  /** Cached variant for at-least-once environments (SURVEY.md §7.4):
    * responses are keyed by an idempotency hash of the full request
    * content and persisted under `cacheDir`. Re-running the same job
    * (task retry, failed-run restart, incremental corpus growth) calls
    * the backend only for prompts never answered before. The cache is
    * append-only parquet — safe to share across concurrent jobs at the
    * granularity of duplicate work, never wrong results (duplicate
    * keys resolve deterministically to one response).
    */
  def runCached(
      records: DataFrame,
      cfg: JobConfig,
      client: LlmClient,
      cacheDir: String,
      opts: EnrichOptions = EnrichOptions()): Result = {
    val spark = records.sparkSession
    import spark.implicits._

    // idempotency key: request content, not record id — the same
    // record re-templated differently must re-call.
    // KEY FORMAT v2: the NUL delimiter replaced the original space
    // (which could collide two different prompt/sys splits and serve
    // the WRONG cached response); caches written by the space-keyed
    // version miss entirely after upgrade — one full re-call of the
    // corpus, then compactCache reclaims the orphaned rows.
    // VISION jobs (r16): when use_images is on, the images ARE
    // request content — the content-parts branch ships them — so the
    // key folds an image-payload digest; without it, two records
    // with the same prompt but different images collided and the
    // second was served the first's caption. Text jobs keep the v2
    // key byte-for-byte (their caches stay warm); vision caches
    // written by the collision-prone key miss entirely after
    // upgrade, which is the safe direction (a miss re-calls; a
    // false hit is wrong).
    val textKey = concat_ws("\u0000",
      col("prompt"), coalesce(col("sys"), lit("")),
      lit(cfg.model), lit(cfg.outputLabel))
    // the digest must be INJECTIVE over image lists (r16 review fix:
    // concat_ws alone collides [] with [""] and skips nulls, exactly
    // the false-hit class this key exists to kill) — fold in the
    // element count and length-prefix every payload so boundaries
    // can't shift
    val keyCol =
      if (cfg.useImages)
        md5(concat_ws("\u0000", textKey,
          md5(concat_ws("\u0001",
            size(col("images")).cast("string"),
            concat_ws("\u0001", transform(col("images"), x =>
              concat_ws(":",
                coalesce(length(x).cast("string"), lit("-")),
                coalesce(x, lit("")))))))))
      else md5(textKey)
    val prompted = promptedFrame(records, cfg).withColumn("cacheKey", keyCol)

    val cacheDeduped = readCache(spark, cacheDir).groupBy("cacheKey")
      .agg(min("response").as("cached_response"))

    val joined = prompted.join(cacheDeduped, Seq("cacheKey"), "left")
    val hits = joined.filter(col("cached_response").isNotNull)
    val misses = joined.filter(col("cached_response").isNull)
      .drop("cached_response")

    val useImages = cfg.useImages
    // localCheckpoint = run the LLM stage exactly once, then reuse the
    // materialized rows for both the cache append and the output union
    val missCalled = misses.as[Prompted].mapPartitions { it =>
      callPartition(it, cfg, client, opts, useImages)
    }.toDF().localCheckpoint()

    missCalled.filter(col("error").isNull)
      .select(col("cacheKey"), col("response"))
      .withColumn("written_at", current_timestamp())
      .write.mode("append").parquet(cacheDir)

    val hitCalled = hits.select(col("id"), col("texts"), col("images"),
      col("cached_response").as("response"), lit(null).cast("string").as("error"))
    assemble(
      missCalled.select(col("id"), col("texts"), col("images"),
        col("response"), col("error"))
        .unionByName(hitCalled),
      cfg)
  }

  /** Cache read tolerant of both schemas: pre-TTL files have no
    * `written_at` column (mergeSchema unions them; a wholly-legacy
    * cache gets a null column added).
    */
  private def readCache(
      spark: org.apache.spark.sql.SparkSession, cacheDir: String): DataFrame = {
    val raw =
      try spark.read.option("mergeSchema", "true").parquet(cacheDir)
      catch { case _: Throwable =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "cacheKey STRING, response STRING, written_at TIMESTAMP"))
      }
    val withTs =
      if (raw.columns.contains("written_at")) raw
      else raw.withColumn("written_at", lit(null).cast("timestamp"))
    withTs.select(col("cacheKey"), col("response"), col("written_at"))
  }

  /** Offline cache maintenance: collapse duplicate keys (concurrent
    * jobs append independently) and drop entries older than
    * `maxAgeMs` (0 keeps all ages). Deleting from a response cache is
    * always SAFE — a dropped entry only costs a re-call — but legacy
    * rows with no timestamp are kept conservatively. The rewrite goes
    * through a sibling temp dir + rename, so a reader sees either the
    * old or the new cache; do not run concurrently with a writing job
    * (the append-only contract covers jobs, not compaction).
    */
  def compactCache(
      spark: org.apache.spark.sql.SparkSession,
      cacheDir: String,
      maxAgeMs: Long = 0L): Unit = {
    val cache = readCache(spark, cacheDir)
    val pruned =
      if (maxAgeMs <= 0) cache
      else cache.filter(col("written_at").isNull ||
        col("written_at") >= timestamp_millis(
          lit(System.currentTimeMillis() - maxAgeMs)))
    // newest response per key; (timestamp, response) ordering makes the
    // pick deterministic when timestamps tie or are absent
    val compacted = pruned
      .groupBy("cacheKey")
      .agg(max_by(struct(col("response"), col("written_at")),
        struct(coalesce(col("written_at"), lit("1970-01-01").cast("timestamp")),
          col("response"))).as("m"))
      .select(col("cacheKey"), col("m.response"), col("m.written_at"))
    // swap via rename-aside (DirSwap), not delete-then-rename: a crash
    // leaves the full cache at _compact_old, never destroyed.
    DirSwap.rewriteInPlace(spark, cacheDir) { tmp =>
      compacted.write.mode("overwrite").parquet(tmp)
    }
  }

  /** prompt/sys render — Catalyst columns, shared by run/runCached */
  private def promptedFrame(records: DataFrame, cfg: JobConfig): DataFrame = {
    val userTpl = Template.compile(cfg.erbTemplate)
    val sysTpl = cfg.systemErbTemplate.map(Template.compile)
    val id = col("id").cast("string")
    val texts = coalesce(col("texts"), map().cast("map<string,string>"))
    val images = coalesce(col("images"), array().cast("array<string>"))
    records.select(
      id.as("id"), texts.as("texts"), images.as("images"),
      userTpl.column(id, texts, images).as("prompt"),
      sysTpl.map(_.column(id, texts, images))
        .getOrElse(lit(null).cast("string")).as("sys"),
      lit("").as("cacheKey"))
  }

  /** clean + label-append + good/dead-letter fork over a called frame */
  private def assemble(called: DataFrame, cfg: JobConfig): Result = {
    val withLabel = map_concat(
      // drop any pre-existing entry under the label first, so overwrite
      // semantics (Ruby hash assignment, rb:50) never depend on
      // spark.sql.mapKeyDedupPolicy
      map_filter(col("texts"), (k, _) => k =!= cfg.outputLabel),
      map(lit(cfg.outputLabel), cleanContent(col("response"))))
    val ok = col("error").isNull
    val deadLetter = Seq(col("id"), col("error"),
      to_json(struct(col("id"), col("texts"), col("images"))).as("record"))
    Result(
      good = called.filter(ok)
        .select(col("id"), withLabel.as("texts"), col("images")),
      deadLetter = called.filter(!ok).select(deadLetter: _*),
      lines = called.select(
        when(ok, lit("good")).otherwise(lit("failed")).as("kind"),
        when(ok, Jsonl.line(col("id"), withLabel, col("images")))
          .otherwise(to_json(struct(deadLetter: _*))).as("value")))
  }

  /** One partition's work, in input order, with up to `concurrency`
    * calls running on a dedicated pool.
    *
    * The window counts RUNNING calls, not unemitted records: when a
    * call finishes, the next record is submitted even while the head
    * record is still pending, so one slow response or retry back-off
    * does not idle the other slots. Answers that finish before the
    * head wait in input order, at most [[BufferedPerSlot]] ×
    * `concurrency` of them.
    *
    * No wait is unbounded: each record has a deadline of
    * [[recordDeadlineMs]] from its submission. A record past it is
    * dead-lettered as `API request failed: …` and its call is
    * cancelled (the thread is interrupted).
    *
    * The pool dies with the task — no cross-task leakage.
    */
  private def callPartition(
      it: Iterator[Prompted],
      cfg: JobConfig,
      client: LlmClient,
      opts: EnrichOptions,
      useImages: Boolean): Iterator[Called] = {
    val width = math.max(1, opts.concurrency)
    val pool = Executors.newFixedThreadPool(width)
    // the pool must die with the TASK, not with iterator exhaustion:
    // partial consumption (downstream limit, task failure, write error)
    // would otherwise leak non-daemon threads + in-flight requests in a
    // long-lived executor JVM. Null TaskContext = driver-side test.
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
    // every submitted call, finished or cancelled, arrives here once
    val finished = new ExecutorCompletionService[Called](pool)
    val deadlineMs = recordDeadlineMs(opts, cfg.requestTimeoutSec)

    def callOne(r: Prompted): Called = {
      val messages = buildMessages(r, useImages)
      try Called(r.id, r.texts, r.images,
        Some(withRetry(opts, cfg.requestTimeoutSec)(client.chat(messages, cfg))),
        None, r.cacheKey)
      catch { case NonFatal(e) =>
        // reference error contract: "API request failed: …" to stderr,
        // record dropped, job continues (rb:178, spec/bin_job_spec.rb:117-137)
        callFailed(r, e.getMessage)
      }
    }

    // simple per-partition pacing: submissions spaced >= 1/maxReqPerSec
    val minIntervalNs =
      if (opts.maxReqPerSec > 0) (1e9 / opts.maxReqPerSec).toLong else 0L
    var nextSlotNs = System.nanoTime()
    def throttle(): Unit = if (minIntervalNs > 0) {
      val wait = nextSlotNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      nextSlotNs = math.max(nextSlotNs + minIntervalNs, System.nanoTime())
    }

    final case class Pending(r: Prompted, call: JFuture[Called], deadlineNs: Long)
    val window = mutable.Queue.empty[Pending]
    var running = 0
    new Iterator[Called] {
      private def fill(): Unit = {
        while (finished.poll() != null) running -= 1
        while (running < width && window.size - running < BufferedPerSlot * width &&
            it.hasNext) {
          val r = it.next()
          throttle()
          window.enqueue(Pending(r, finished.submit(() => callOne(r)),
            System.nanoTime() + deadlineMs * 1000000L))
          running += 1
        }
      }
      override def hasNext: Boolean = {
        fill()
        val more = window.nonEmpty
        if (!more) pool.shutdown()
        more
      }
      override def next(): Called = {
        fill()
        val head = window.head
        var left = head.deadlineNs - System.nanoTime()
        while (!head.call.isDone && left > 0) {
          // any finished call frees a slot for the next record
          if (finished.poll(left, TimeUnit.NANOSECONDS) != null) { running -= 1; fill() }
          left = head.deadlineNs - System.nanoTime()
        }
        window.dequeue()
        if (head.call.isDone)
          try head.call.get() catch { case e: ExecutionException => throw e.getCause }
        else {
          head.call.cancel(true)
          callFailed(head.r, s"no response within ${deadlineMs / 1000.0} s")
        }
      }
    }
  }

  private def callFailed(r: Prompted, why: String): Called =
    Called(r.id, r.texts, r.images, None, Some(s"API request failed: $why"), r.cacheKey)

  /** Longest a record may take before it is dead-lettered: every
    * attempt running to the request timeout, plus the longest possible
    * back-off before each retry.
    */
  private[pipeline] def recordDeadlineMs(opts: EnrichOptions, timeoutSec: Int): Long = {
    val timeoutMs = timeoutSec * 1000L
    val longestBackoff = math.max(timeoutMs,
      opts.retryBackoffMs * (1L << math.max(0, opts.maxRetries - 1)))
    timeoutMs * (opts.maxRetries + 1) +
      opts.maxRetries * (longestBackoff * (1 + JitterFraction)).toLong
  }

  /** 4xx other than 408/429, and a 2xx body that does not parse, give
    * the same answer on every attempt. Any other non-fatal error may not.
    */
  private[pipeline] def isTerminal(e: Throwable): Boolean = e match {
    case h: HttpStatusException =>
      h.status / 100 == 4 && h.status != 408 && h.status != 429
    case _: MalformedResponseException => true
    case _ => false
  }

  /** Wait before retry number `attempt` (from 0): the backend's
    * `Retry-After` when it is whole seconds, capped at the request
    * timeout; otherwise (an HTTP-date, or no header) exponential
    * back-off. Both get up to [[JitterFraction]] more at random.
    */
  private[pipeline] def backoffMs(
      e: Throwable, attempt: Int, opts: EnrichOptions, timeoutSec: Int): Long = {
    val retryAfterS = e match {
      case h: HttpStatusException => h.retryAfter.flatMap(_.trim.toLongOption).filter(_ >= 0)
      case _ => None
    }
    val base = retryAfterS.map(s => math.min(s, timeoutSec.toLong) * 1000L)
      .getOrElse(opts.retryBackoffMs * (1L << attempt))
    base + (base * JitterFraction * ThreadLocalRandom.current().nextDouble()).toLong
  }

  /** Retries only what another attempt can change. Catches non-fatal
    * errors only, so an interrupted call stops instead of sleeping and
    * retrying.
    */
  private[pipeline] def withRetry[A](opts: EnrichOptions, timeoutSec: Int)(f: => A): A = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case NonFatal(e) if attempt < opts.maxRetries && !isTerminal(e) =>
          Thread.sleep(backoffMs(e, attempt, opts, timeoutSec))
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** system message only when the rendered prompt is non-blank
    * (rb:142); images only when use_images AND the record has any
    * (rb:213).
    */
  private def buildMessages(r: Prompted, useImages: Boolean): Seq[Msg] = {
    val sys = r.sys.filter(_.trim.nonEmpty).map(Msg("system", _)).toSeq
    val imgs = if (useImages && r.images.nonEmpty) r.images else Nil
    sys :+ Msg("user", r.prompt, imgs)
  }
}
