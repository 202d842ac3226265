package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** Seeded enrich inputs and the job definition that processes them.
  *
  * enrich_wait: short records, plain user prompt, dead-letter dir on.
  * enrich_cpu: multi-KB texts, a system prompt, a JSON-schema
  * response_format, base64 images on a share of records with
  * `use_images` on, and a share of corrupt and blank input lines.
  */
object Inputs {

  /** the user template's first line carries the id to the stub */
  val IdTag: scala.util.matching.Regex = raw"\A\[id:([^\]]+)\]".r
  val Label = "enriched"

  final case class Rec(id: String, texts: Map[String, String], images: Seq[String])

  /** @param records the well-formed records
    * @param corruptIds ids whose input line is corrupt JSON
    * @param lines the input file, blank lines included */
  final case class Generated(records: Seq[Rec], corruptIds: Seq[String], lines: Seq[String]) {
    def inputIds: Int = records.size + corruptIds.size
  }

  private val userErb =
    "[id:<%= id %>]\nTitle: <%= texts[:title] %>\n<%= texts[:content] %>\n" +
      "Fields: <%= texts.keys.length %>, images: <%= images.length %>\n"

  /** the benchmark's own rendering of [[userErb]], for the checker */
  def expectedPrompt(r: Rec): String =
    s"[id:${r.id}]\nTitle: ${r.texts.getOrElse("title", "")}\n${r.texts.getOrElse("content", "")}\n" +
      s"Fields: ${r.texts.size}, images: ${r.images.size}\n"

  def generate(workload: String, seed: Long): Generated = {
    val cpu = workload == "enrich_cpu"
    val n = Profile.byWorkload(workload).records
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    // exact shares, assigned by a seeded permutation of ranks
    val rank = {
      val p = Array.tabulate(n)(identity)
      (n - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    val corruptCount = if (cpu) n / 50 else 0
    val imageCount = if (cpu) n / 5 else 0
    val blankCount = if (cpu) n / 100 else 0
    val mapper = new ObjectMapper()

    def words(chars: Int): String = {
      val sb = new StringBuilder(chars + 16)
      while (sb.length < chars) {
        val len = 2 + rnd.nextInt(9)
        (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
        sb.append(if (rnd.nextInt(40) == 0) "é, " else " ")
      }
      sb.toString.trim
    }
    def image(bytes: Int): String = {
      val b = new Array[Byte](bytes)
      (0 until bytes).foreach(k => b(k) = rnd.nextInt(256).toByte)
      java.util.Base64.getEncoder.encodeToString(b)
    }

    val recs = (0 until n).map { i =>
      val r = rank(i)
      // sizes spread evenly over a fixed range, so every seed carries
      // the same total text
      val chars = if (cpu) 2000 + (r * 4000L / n).toInt else 80 + (r * 160L / n).toInt
      val texts = Map("title" -> words(24), "content" -> words(chars)) ++
        (if (cpu) Map("source" -> s"feed-${r % 7}") else Map.empty)
      val imgs =
        if (r >= corruptCount && r < corruptCount + imageCount)
          (0 to (r % 2)).map(k => image(3000 + 1000 * ((r + k) % 4)))
        else Nil
      (Rec(Schedule.id(i), texts, imgs), r < corruptCount)
    }
    val blanks = rank.take(blankCount).toSet
    val lines = recs.zipWithIndex.flatMap { case ((rec, corrupt), i) =>
      val node = mapper.createObjectNode()
      node.put("id", rec.id)
      val t = node.putObject("texts")
      rec.texts.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
      if (rec.images.nonEmpty) {
        val a = node.putArray("images"); rec.images.foreach(a.add)
      }
      val json = mapper.writeValueAsString(node)
      // a corrupt line is a record cut off mid-string
      val line = if (corrupt) json.take(json.length / 2) else json
      if (blanks(i)) Seq(line, "   ") else Seq(line)
    }
    Generated(
      records = recs.collect { case (r, false) => r },
      corruptIds = recs.collect { case (r, true) => r.id },
      lines = lines)
  }

  /** Write the input file and the job YAML (+ templates) into `dir`;
    * returns the YAML path. */
  def writeJob(dir: Path, workload: String, port: Int, gen: Generated): Path = {
    val cpu = workload == "enrich_cpu"
    Files.createDirectories(dir)
    Files.write(dir.resolve("in.jsonl"), gen.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(dir.resolve("user.erb"), userErb.getBytes(UTF_8))
    val extra =
      if (!cpu) ""
      else {
        Files.write(dir.resolve("system.erb"),
          ("You are a careful annotator. Record <%= id %> carries " +
            "<%= texts.keys.length %> fields and <%= images.length %> images.\n").getBytes(UTF_8))
        Files.write(dir.resolve("schema.yml"),
          ("type: object\nproperties:\n  id: {type: string}\n  digest: {type: string}\n" +
            "  topics: {type: array, items: {type: string}}\nrequired: [id, digest]\n").getBytes(UTF_8))
        ":system_erb_filepath: system.erb\n:use_images: true\n:json_schema_filepath: schema.yml\n"
      }
    val yml = dir.resolve("job.yml")
    Files.write(yml,
      (s":id: perfbench-$workload\n:erb_filepath: user.erb\n" +
        s":backend_endpoint: http://127.0.0.1:$port/v1\n:model: stub-model\n" +
        ":params:\n  :temperature: 0.0\n  :max_tokens: 512\n" +
        s":output_label: $Label\n" + extra).getBytes(UTF_8))
    yml
  }
}
