package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The files a run leaves for run.py: the report, the oracle SQL of the
  * checked queries and, in a traced run, the spans. */
object Json {

  // a NaN stays a number (Python's json reads the bare token)
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def writeReport(path: String, r: Main.Report): Unit =
    mapper.writeValue(new File(path), Map(
      "metrics" -> r.metrics, "per_layer" -> r.perLayer, "controls" -> r.controls,
      "samples" -> r.samples, "latency" -> r.latency, "attempted" -> r.attempted,
      "failed" -> r.failed, "errors" -> r.errors, "oracle_output" -> r.oracleOutput,
      "oracle_queries" -> r.oracleQueries))

  def writeOracle(path: String, sql: Seq[(String, String)]): Unit =
    mapper.writeValue(new File(path), sql.toMap)

  /** One span a line, with its self time. */
  def writeSpans(path: String, t: Tracer): Unit =
    Files.writeString(Paths.get(path), t.spans.sortBy(_.id).map { s =>
      mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end, "cpu_s" -> s.cpuSeconds,
        "self_s" -> t.selfSeconds(s)))
    }.mkString("", "\n", "\n"))
}
