package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The parts of workloads.json the runs read: the frozen registry row
  * list and each row's pinned (row count, hash). */
final case class WorkloadConfig(
    registryRows: Seq[String],
    pins: Map[String, (Long, String)])

object WorkloadConfig {
  def load(path: String): WorkloadConfig = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def node(n: JsonNode, field: String): JsonNode = {
      val v = n.get(field)
      require(v != null, s"$path: missing field '$field'")
      v
    }
    val registry = node(root, "registry_batch")
    val rows = node(registry, "rows").elements().asScala.map(_.asText()).toSeq
    val pins = node(registry, "pins").fields().asScala.map { e =>
      e.getKey -> (node(e.getValue, "rows").asLong(), node(e.getValue, "hash").asText())
    }.toMap
    WorkloadConfig(rows, pins)
  }
}
