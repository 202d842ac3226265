package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** How the stub backend behaves on one enrich workload. */
final case class Profile(
    /** records generated per run */
    records: Int,
    /** median service delay; 0 answers at once */
    medianMs: Double,
    /** log-normal shape of the delay distribution (heavier tail when larger) */
    sigma: Double,
    /** one record in this many gets a 429 or 503 on each call's first attempt (0: none) */
    transientEvery: Int,
    /** one record in this many gets a 400 on every attempt (0: none) */
    terminalEvery: Int,
    /** characters of `<think>` filler wrapped around each answer */
    thinkChars: Int,
    /** timed `Main.run` passes after the first. Where the engine's CPU
      * sets the pace, pass times keep falling for twenty seconds and
      * more while the JIT compiles the per-record path, so the fastest
      * pass depends on how far that got; the mean over a fixed count of
      * passes does not. */
    warmPasses: Int)

object Profile {
  val byWorkload: Map[String, Profile] = Map(
    "enrich_wait" -> Profile(records = 160, medianMs = 20, sigma = 0.8,
      transientEvery = 80, terminalEvery = 160, thinkChars = 120, warmPasses = 1),
    "enrich_cpu" -> Profile(records = 4000, medianMs = 0, sigma = 0,
      transientEvery = 0, terminalEvery = 0, thinkChars = 3000, warmPasses = 6))
}

/** The stub's seeded latency and error schedule, and its response
  * function. Everything here is a pure function of (seed, record id,
  * the record's request ordinal at the stub), so the stub and the
  * output checker agree without talking to each other.
  *
  * Counts are exact rather than sampled. Error records sit at a fixed
  * spacing in input order (a transient one half a spacing away from any
  * terminal one, so no two share the engine's in-flight window), and on
  * every ordinal the delays over all records are one fixed set of
  * log-normal quantiles. The seed rotates error positions and delays
  * together along the input. That keeps the backend's total work
  * the same across seeds, so the spread between seeds measures the
  * engine, not the dice.
  */
final class Schedule(seed: Long, val profile: Profile) {
  private val n = profile.records

  /** the seed rotates the whole schedule along the input */
  private val offset = new java.util.SplittableRandom(seed).nextInt(n)
  /** Delay ranks step through the quantiles by about n/φ (golden-ratio
    * stepping, coprime with n so it is a permutation): any few
    * consecutive records draw from all over the distribution. With the
    * error records on the same rotation, which delays share the
    * engine's in-flight window with a retry does not depend on the seed. */
  private val step: Int = {
    def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
    val target = math.round(n / 1.6180339887).toInt.max(1)
    (0 until n).flatMap(d => Seq(target + d, target - d)).find(s => s > 0 && gcd(s, n) == 1).getOrElse(1)
  }

  def isTerminal(i: Int): Boolean =
    profile.terminalEvery > 0 && (i + offset) % profile.terminalEvery == 0
  def isTransient(i: Int): Boolean = {
    val e = profile.transientEvery
    e > 0 && !isTerminal(i) && (i + offset + e / 2) % e == 0
  }

  private val quantilesMs: Array[Double] =
    Array.tabulate(n) { k =>
      if (profile.medianMs <= 0) 0.0
      else profile.medianMs *
        math.exp(profile.sigma * Schedule.probit((k + 0.5) / n))
    }

  /** HTTP status for the `ordinal`-th request (1-based) for record `i`:
    * terminal records always get 400; transient records fail every
    * odd ordinal (so each retried call succeeds on its next attempt),
    * alternately with 429 and 503. */
  def status(i: Int, ordinal: Int): Int =
    if (isTerminal(i)) 400
    else if (isTransient(i) && ordinal % 2 == 1)
      (if ((i + offset) / profile.transientEvery % 2 == 0) 429 else 503)
    else 200

  def delayMs(i: Int, ordinal: Int): Double =
    quantilesMs(Math.floorMod((i + offset + (ordinal - 1) * 7919L) * step, n.toLong).toInt)
}

object Schedule {

  /** record ids are `r` + zero-padded index */
  def id(i: Int): String = f"r$i%06d"
  def index(id: String): Int = id.substring(1).toInt

  /** The stub echoes the record id and a digest of the user content:
    * the text, then each image payload, NUL-separated. */
  def digest(userText: String, images: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(userText.getBytes(UTF_8))
    images.foreach { b => md.update(0: Byte); md.update(b.getBytes(UTF_8)) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** what the job should store after `<think>` cleaning */
  def answer(id: String, digest: String): String =
    s"""{"id":"$id","digest":"$digest"}"""

  /** the raw chat content the stub returns */
  def content(id: String, digest: String, thinkChars: Int): String = {
    val filler = new StringBuilder(thinkChars + 32)
    while (filler.length < thinkChars) filler.append(digest).append(' ')
    s"<think>\n${filler.toString}\n</think>\n\n${answer(id, digest)}\n"
  }

  /** Acklam's rational approximation of the standard normal quantile */
  def probit(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val lo = 0.02425
    if (p < lo) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p > 1 - lo) -probit(1 - p)
    else {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }
}
