package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.model.MonitorSpec

/** Readers for the JSON inputs `gen.py` writes. */
object Inputs {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def parse(json: String): JsonNode = mapper.readTree(json)

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** The monitor JSON shape `MonitorApi.parseSpec` accepts. */
  def spec(n: JsonNode): MonitorSpec = MonitorSpec(
    id = n.get("id").asLong,
    name = n.get("name").asText,
    targets = strings(n.get("targets")),
    minutes = n.get("minutes").asInt,
    toDate = None,
    cronExpr = n.get("cronExpr").asText,
    monitorExpr = n.get("monitorExpr").asText,
    alertKeys = strings(n.get("alertKeys")),
    errorTimeoutMinutes = n.get("errorTimeoutMinutes").asInt)

  final case class Loop(start: Instant, specs: Seq[MonitorSpec])

  def loop(path: String): Loop = {
    val n = read(path)
    Loop(Instant.parse(n.get("start").asText), n.get("monitors").elements().asScala.map(spec).toSeq)
  }

  /** One API call: method, path with query string, body. */
  final case class Request(method: String, path: String, body: String) {
    def route: String = path.takeWhile(_ != '?')
  }

  final case class Api(pool: Seq[Request], sequence: Seq[Int])

  def api(path: String): Api = {
    val n = read(path)
    Api(
      n.get("pool").elements().asScala.map { r =>
        Request(r.get(0).asText, r.get(1).asText, r.get(2).asText)
      }.toSeq,
      n.get("sequence").elements().asScala.map(_.asInt).toSeq)
  }

  def queries(path: String): Seq[String] = strings(read(path).get("queries"))
}
