package graft.llm

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{JobConfig, ResponseFormat}

/** Request-body shape tests — the reference asserts these through a
  * mocked client (spec/json_mode_spec.rb:58-274,350-370,
  * spec/image_processing_spec.rb:73-89); we assert on the built JSON
  * directly, no server needed.
  */
class OpenAiClientSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def cfg(
      params: Map[String, Any] = Map.empty,
      rf: Option[ResponseFormat] = None,
      useImages: Boolean = false) =
    JobConfig("t", "tpl", "http://h", "model-x", "out",
      None, params, useImages, rf)

  test("minimal request: model + messages only") {
    val j = mapper.readTree(
      OpenAiClient.requestBody(Seq(Msg("user", "hi")), cfg()))
    assert(j.get("model").asText() == "model-x")
    assert(j.get("messages").get(0).get("role").asText() == "user")
    assert(j.get("messages").get(0).get("content").asText() == "hi")
    assert(!j.has("response_format"))
    assert(!j.has("temperature"))
  }

  test("params merged verbatim at top level") {
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("user", "hi")),
      cfg(params = Map("temperature" -> 0.3, "max_tokens" -> 200))))
    assert(j.get("temperature").asDouble() == 0.3)
    assert(j.get("max_tokens").asInt() == 200)
  }

  test("system message precedes user message") {
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("system", "sys"), Msg("user", "u")), cfg()))
    assert(j.get("messages").size() == 2)
    assert(j.get("messages").get(0).get("role").asText() == "system")
    assert(j.get("messages").get(1).get("role").asText() == "user")
  }

  test("simple json_mode → response_format {type: json_object}") {
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("user", "u")), cfg(rf = Some(ResponseFormat.JsonMode))))
    assert(j.get("response_format").get("type").asText() == "json_object")
    assert(!j.get("response_format").has("schema"))
  }

  test("json schema → response_format {type, schema}") {
    val schema = new java.util.LinkedHashMap[String, Any]()
    schema.put("type", "object")
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("user", "u")), cfg(rf = Some(ResponseFormat.JsonSchema(schema)))))
    val rf = j.get("response_format")
    assert(rf.get("type").asText() == "json_object")
    assert(rf.get("schema").get("type").asText() == "object")
  }

  test("multimodal: content becomes [text, image_url…] parts with data URIs") {
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("user", "describe", Seq("AAA", "BBB"))), cfg(useImages = true)))
    val content = j.get("messages").get(0).get("content")
    assert(content.isArray && content.size() == 3)
    assert(content.get(0).get("type").asText() == "text")
    assert(content.get(0).get("text").asText() == "describe")
    assert(content.get(1).get("type").asText() == "image_url")
    assert(content.get(1).get("image_url").get("url").asText()
      == "data:image/jpeg;base64,AAA")
    assert(content.get(2).get("image_url").get("url").asText()
      == "data:image/jpeg;base64,BBB")
  }

  test("no images → plain string content even when use_images is on") {
    val j = mapper.readTree(OpenAiClient.requestBody(
      Seq(Msg("user", "plain", Nil)), cfg(useImages = true)))
    assert(j.get("messages").get(0).get("content").isTextual)
  }

  // ---- FakeSchemaClient: the q259 request-side gate ------------------
  // It re-parses the EXACT serialized request and compares the wire's
  // response_format.schema structurally against the config's loaded
  // object (lib/job_processor.rb:190-198) — these pin its failure
  // modes so the q259 oracle's green really means "the schema rode
  // the wire".

  private def nestedSchema: java.util.LinkedHashMap[String, Any] = {
    val props = new java.util.LinkedHashMap[String, Any]()
    val conf = new java.util.LinkedHashMap[String, Any]()
    conf.put("type", "number"); conf.put("minimum", 0.0); conf.put("maximum", 1.0)
    props.put("confidence", conf)
    val schema = new java.util.LinkedHashMap[String, Any]()
    schema.put("type", "object"); schema.put("properties", props)
    schema
  }

  test("FakeSchemaClient: answers when the wire carries the loaded schema " +
    "structurally (nested objects and numerics included)") {
    val c = new FakeSchemaClient(t => s"GOT:$t")
    val out = c.chat(Seq(Msg("user", "42")),
      cfg(rf = Some(ResponseFormat.JsonSchema(nestedSchema))))
    assert(out == "GOT:42")
  }

  test("FakeSchemaClient: throws when the job loaded no schema at all") {
    val c = new FakeSchemaClient(identity)
    intercept[IllegalArgumentException] {
      c.chat(Seq(Msg("user", "x")), cfg(rf = None))
    }
  }

  test("FakeSchemaClient: bare json_object without an embedded schema " +
    "is rejected (JsonMode is not the json_schema_filepath contract)") {
    val c = new FakeSchemaClient(identity)
    intercept[IllegalArgumentException] {
      c.chat(Seq(Msg("user", "x")), cfg(rf = Some(ResponseFormat.JsonMode)))
    }
  }

  test("FakeSchemaClient: schema jobs are text-only — image parts throw") {
    val c = new FakeSchemaClient(identity)
    intercept[IllegalArgumentException] {
      c.chat(Seq(Msg("user", "x", Seq("AAA"))),
        cfg(rf = Some(ResponseFormat.JsonSchema(nestedSchema)), useImages = true))
    }
  }

  test("non-2xx answer: typed status, wire-form message, raw Retry-After") {
    val backend = new LoopbackBackend(_ =>
      (429, """{"error":"slow down"}""", Seq("Retry-After" -> "3")))
    try {
      val e = intercept[HttpStatusException] {
        new OpenAiClient().chat(Seq(Msg("user", "x")), cfg().copy(backendEndpoint = backend.endpoint))
      }
      assert(e.status == 429)
      assert(e.getMessage == """HTTP 429: {"error":"slow down"}""")
      assert(e.retryAfter.contains("3"))
    } finally backend.close()
  }

  test("2xx answer that is not JSON: MalformedResponseException") {
    val backend = new LoopbackBackend(_ => (200, "<html>proxy error</html>", Nil))
    try intercept[MalformedResponseException] {
      new OpenAiClient().chat(Seq(Msg("user", "x")), cfg().copy(backendEndpoint = backend.endpoint))
    } finally backend.close()
  }
}
