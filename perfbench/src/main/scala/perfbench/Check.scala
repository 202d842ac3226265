package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Output checkers behind `failed_share`. */
object Check {

  /** @param failedIds input ids whose output is missing or wrong, with why */
  final case class Verdict(attempted: Int, failedIds: Map[String, String]) {
    def failed: Int = failedIds.size
  }

  private val mapper = new ObjectMapper()

  private def lines(dir: Path, prefix: String): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.toVector
        .filter(p => p.getFileName.toString.startsWith(prefix))
        .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
        .filter(_.trim.nonEmpty)
      finally ls.close()
    }

  /** Enrich contract: every input id ends in exactly one of good output,
    * dead-letter or corrupt. A good record carries its input texts and
    * images plus the cleaned expected answer under the label. A record
    * the schedule makes terminal must be dead-lettered with the
    * reference message. A corrupt line must be absent from the output.
    */
  def enrich(gen: Inputs.Generated, schedule: Schedule, useImages: Boolean,
      outDir: Path, errDir: Option[Path]): Verdict = {
    val good = lines(outDir, "part-").map(mapper.readTree)
    val failed = errDir.toSeq.flatMap(d => lines(d.resolve("failed"), "part-")).map(mapper.readTree)
    val goodById = good.groupBy(_.path("id").asText())
    val failedById = failed.groupBy(_.path("id").asText())
    val bad = Map.newBuilder[String, String]

    gen.corruptIds.foreach { id =>
      if (goodById.contains(id) || failedById.contains(id)) bad += id -> "corrupt line in output"
    }
    gen.records.foreach { r =>
      val g = goodById.getOrElse(r.id, Nil)
      val f = failedById.getOrElse(r.id, Nil)
      if (schedule.isTerminal(Schedule.index(r.id))) {
        if (g.nonEmpty || f.size != 1) bad += r.id -> s"terminal record: ${g.size} good, ${f.size} dead-lettered"
        else if (!f.head.path("error").asText().startsWith("API request failed: HTTP 400"))
          bad += r.id -> s"wrong dead-letter message: ${f.head.path("error").asText().take(80)}"
      } else if (g.size != 1 || f.nonEmpty) {
        bad += r.id -> s"${g.size} good, ${f.size} dead-lettered"
      } else {
        val node = g.head
        val texts = node.path("texts").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        val images = node.path("images").elements().asScala.map(_.asText()).toVector
        val sent = if (useImages) r.images else Nil
        val want = r.texts + (Inputs.Label ->
          Schedule.answer(r.id, Schedule.digest(Inputs.expectedPrompt(r), sent)))
        if (texts != want) bad += r.id -> "texts differ from the expected enriched record"
        else if (images != r.images.toVector) bad += r.id -> "images differ"
      }
    }
    val known = (gen.records.map(_.id) ++ gen.corruptIds).toSet
    (goodById.keySet ++ failedById.keySet).filterNot(known).foreach(id => bad += id -> "unknown id in output")
    Verdict(gen.inputIds, bad.result())
  }

  /** Order-insensitive content fingerprint of a query result: row count
    * and the sum of per-row hashes, with floating-point columns rounded
    * to six significant digits so summation order cannot flip them. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val canon = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6g", col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    val projected = df.select(canon: _*)
    val row = projected
      .select(xxhash64(projected.columns.map(n => col(s"`$n`")).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
      .head()
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }
}
