package graft.llm

import graft.core.JobConfig

/** One chat message. `images` carries base64 JPEG payloads; when
  * non-empty the client renders the OpenAI multimodal content-parts
  * array (reference build_message_content, lib/job_processor.rb:212-236),
  * otherwise plain string content.
  */
final case class Msg(role: String, text: String, images: Seq[String] = Nil)
    extends Serializable

/** The engine's one effectful operator (SURVEY.md R7/E18): an
  * OpenAI-compatible chat completion. Implementations MUST be
  * Serializable (shipped to executors inside mapPartitions closures)
  * and keep any network state @transient.
  *
  * Contract (reference call_llm_api, lib/job_processor.rb:137-179):
  *  - returns `choices[0].message.content`, defaulting to "" when the
  *    path is missing;
  *  - any transport/API error surfaces as an exception whose message
  *    the pipeline wraps as "API request failed: …" and routes to the
  *    dead-letter channel (record dropped, job continues).
  */
trait LlmClient extends Serializable {
  def chat(messages: Seq[Msg], cfg: JobConfig): String
}

/** The backend answered with a non-2xx status. The message keeps the
  * wire form `HTTP <code>: <body>`, so a dead-letter reads
  * `API request failed: HTTP 400: …`. `retryAfter` is the raw
  * `Retry-After` header, when the backend sent one.
  */
final class HttpStatusException(
    val status: Int, body: String, val retryAfter: Option[String] = None)
    extends RuntimeException(s"HTTP $status: ${body.take(500)}")

/** A 2xx answer whose body is not a chat completion. Asking again gets
  * the same body, so the pipeline does not retry it. The message is
  * the parser's own.
  */
final class MalformedResponseException(cause: Throwable)
    extends RuntimeException(cause.getMessage, cause)

/** Deterministic fake backend for tests and benchmarks — response is a
  * pure function of the request (mirrors the reference's mocked
  * OpenAI::Client, spec/job_processor_spec.rb:78-94). Isolates engine
  * overhead from network in BENCH numbers.
  */
final class FakeLlmClient(
    /** optional canned transform applied to the user prompt */
    transform: String => String = FakeLlmClient.default)
    extends LlmClient {
  override def chat(messages: Seq[Msg], cfg: JobConfig): String = {
    val user = messages.reverseIterator.find(_.role == "user").map(_.text).getOrElse("")
    transform(user)
  }
}

/** Deterministic fake VISION backend (q251). Unlike [[FakeLlmClient]]
  * it derives its answer from the SERIALIZED request —
  * [[OpenAiClient.requestBody]]'s exact JSON — so the multimodal
  * content-parts assembly (reference build_message_content,
  * lib/job_processor.rb:212-236) sits INSIDE the oracle gate: the
  * text part, every image part's `{type: image_url, image_url: {url:
  * data:image/jpeg;base64,…}}` shape (spec/image_processing_spec.rb:
  * 73-89), and the plain-string branch when a record has no images
  * all perturb the response. A wrong prefix or a dropped image is an
  * exception → dead-letter → the driver's hash mismatches.
  *
  * The response is a pure function of (prompt text, image count,
  * decoded image bytes): `caption[<text>]: imgs=<n>;px=<total decoded
  * bytes>;h=<md5 of the length-prefixed decoded payloads>` — every
  * term SQL-derivable when the payloads are constructed strings
  * (q251's fixture), so the verdict column oracles like q241's, not
  * q44's rows-only fingerprint; the <len>: framing keeps the digest
  * injective over the payload LIST, not just its concatenation.
  */
final class FakeVisionClient extends LlmClient {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def chat(messages: Seq[Msg], cfg: JobConfig): String = {
    val root = mapper.readTree(OpenAiClient.requestBody(messages, cfg))
    val msgs = root.path("messages")
    var userText = ""
    var imgs = Vector.empty[Array[Byte]]
    (0 until msgs.size()).foreach { i =>
      val m = msgs.get(i)
      if (m.path("role").asText() == "user") {
        val c = m.path("content")
        if (c.isTextual) { userText = c.asText(); imgs = Vector.empty }
        else {
          // content-parts branch: exactly one text part first, then
          // one image_url part per image (rb:214-233)
          require(c.isArray && c.size() >= 1 &&
            c.get(0).path("type").asText() == "text",
            s"content parts must lead with the text part: ${c.toString.take(120)}")
          userText = c.get(0).path("text").asText()
          imgs = Vector.empty
          (1 until c.size()).foreach { k =>
            val part = c.get(k)
            require(part.path("type").asText() == "image_url",
              s"trailing parts must be image_url: ${part.toString.take(120)}")
            val url = part.path("image_url").path("url").asText()
            val Prefix = "data:image/jpeg;base64,"
            require(url.startsWith(Prefix),
              s"image part must be a jpeg data URI: ${url.take(48)}")
            imgs = imgs :+ java.util.Base64.getDecoder
              .decode(url.substring(Prefix.length))
          }
        }
      }
    }
    // length-prefix every payload before hashing (r16 review fix):
    // md5 of the bare concatenation is invariant under shifting bytes
    // across image-part boundaries, so a misallocation bug that
    // preserves count and total bytes would slip the gate — the
    // "<len>:<payload>" framing makes the digest injective over the
    // payload LIST
    val md = java.security.MessageDigest.getInstance("MD5")
    imgs.foreach { b =>
      md.update(s"${b.length}:".getBytes("UTF-8")); md.update(b)
    }
    val h = md.digest().map("%02x".format(_)).mkString
    s"caption[$userText]: imgs=${imgs.size};px=${
      imgs.map(_.length.toLong).sum};h=$h"
  }
}

/** Deterministic fake backend that gates the SCHEMA side of the
  * request (q259) the way [[FakeVisionClient]] gates the image side:
  * it re-parses [[OpenAiClient.requestBody]]'s exact serialized JSON
  * and REQUIRES the `response_format` patch to carry the job's JSON
  * schema — `{type: json_object, schema: <the loaded schema>}`,
  * reference lib/job_processor.rb:190-198 — comparing the schema node
  * STRUCTURALLY against the config's own loaded object. A dropped
  * response_format, a bare json_object with no schema, or any drift
  * between the YAML the job loaded and the JSON the wire carries is
  * an exception → dead-letter → the driver's hash mismatches. Only
  * then does it answer `transform(user text)`.
  */
final class FakeSchemaClient(transform: String => String)
    extends LlmClient {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def chat(messages: Seq[Msg], cfg: JobConfig): String = {
    val root = mapper.readTree(OpenAiClient.requestBody(messages, cfg))
    val rf = root.path("response_format")
    require(rf.isObject,
      "request must carry a response_format patch (R8)")
    require(rf.path("type").asText() == "json_object",
      s"response_format.type must be json_object: ${rf.toString.take(120)}")
    val schemaOnWire = rf.path("schema")
    require(schemaOnWire.isObject,
      "response_format must embed the JSON schema (json_schema_filepath mode)")
    val expected = cfg.responseFormat match {
      case Some(graft.core.ResponseFormat.JsonSchema(sc)) =>
        mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](sc)
      case other => throw new IllegalArgumentException(
        s"job config did not load a schema: $other")
    }
    // JsonNode.equals is structural (order-insensitive for object
    // fields, order-sensitive for arrays) — exactly the fidelity the
    // wire format owes the loaded YAML
    require(schemaOnWire == expected,
      s"schema on the wire diverged from the loaded schema: ${
        schemaOnWire.toString.take(120)} vs ${expected.toString.take(120)}")
    val user = messages.reverseIterator.find(_.role == "user")
    require(user.exists(_.images.isEmpty),
      "schema jobs are text-only: no image parts expected")
    transform(user.map(_.text).getOrElse(""))
  }
}

object FakeLlmClient {
  /** echo-with-fingerprint: deterministic, prompt-dependent, cheap */
  val default: String => String = p =>
    s"FAKE[${Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(p))}]: $p"

  /** a backend that always fails — for dead-letter-path tests */
  def failing(msg: String): LlmClient = new LlmClient {
    override def chat(messages: Seq[Msg], cfg: JobConfig): String =
      throw new RuntimeException(msg)
  }
}
