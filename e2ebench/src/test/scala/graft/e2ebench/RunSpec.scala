package graft.e2ebench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Smoke runs of every workload on a tiny input: the output checks pass
  * and the printed result matches BENCHMARK.json's metric schema. */
class RunSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val benchmark: JsonNode = {
    val p = Seq("../BENCHMARK.json", "BENCHMARK.json").map(Paths.get(_)).find(Files.exists(_))
      .getOrElse(fail("BENCHMARK.json not found"))
    mapper.readTree(Files.readString(p))
  }

  private def schema(section: String): Map[String, String] =
    benchmark.get(section).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private val results = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target").toAbsolutePath, "smoke-results-")
  }

  private def runOnce(workload: String, trace: Boolean): (Vector[String], JsonNode) = {
    val lines = mutable.ArrayBuffer.empty[String]
    val o = Main.Opts(workload, 11L, 0.0, trace, 0.02,
      Paths.get(s"target/smoke-$workload").toAbsolutePath,
      results)
    assert(Main.execute(o, lines += _) == 0)
    (lines.toVector, mapper.readTree(lines.last))
  }

  private def checkSchema(result: JsonNode, want: Map[String, String]): Unit = {
    assert(result.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    val got = result.get("metrics").fields().asScala
      .map(e => e.getKey -> e.getValue.get("unit").asText()).toMap
    assert(got == want)
    result.get("metrics").elements().asScala.foreach(m => assert(m.get("value").isNumber))
  }

  test("BENCHMARK.json lists the metrics the runner prints") {
    assert(schema("end_to_end") == Main.EndToEnd.toMap)
    assert(schema("per_layer") == Main.PerLayer.toMap)
    assert(benchmark.get("workloads").elements().asScala.map(_.get("name").asText())
      .forall(Main.MinOps.contains))
  }

  for (w <- Seq("build", "search", "upload")) test(s"$w smoke run: error_rate 0, schema") {
    val (lines, result) = runOnce(w, trace = false)
    checkSchema(result, schema("end_to_end"))
    assert(result.get("correct").asBoolean() && result.get("failed").asInt() == 0)
    assert(result.get("attempted").asInt() >= Main.MinOps(w))
    assert(lines.exists(_.contains("metric error_rate = 0")))
    assert(lines.exists(_.startsWith("[e2ebench] run jvm=")))
  }

  test("traced run prints every per-layer metric") {
    val (lines, result) = runOnce("search", trace = true)
    checkSchema(result, schema("per_layer"))
    // the traced build's own composition matched Pipeline.build's plans
    assert(result.get("correct").asBoolean() && result.get("failed").asInt() == 0)
    val m = result.get("metrics")
    assert(m.get("search.busy_s").get("value").asDouble() > 0)
    assert(m.get("serving.memo_jobs").get("value").asDouble() > 0)
    assert(m.get("spark.jobs_per_op").get("value").asDouble() > 0)
    assert(lines.exists(_.startsWith("[e2ebench] trace spans=")))
  }

  test("the plan check tells the program's build from another composition") {
    val dir = Paths.get("target/plan-check").toAbsolutePath
    Workloads.deleteTree(dir)
    val in = Gen.generate(dir.resolve("inputs").toString, 13L, 0.02, nUploads = 0)
    val spark = Main.session(2, dir.resolve("spark-local"))
    try {
      val o = new Opened(spark, in, new Trace(spark, enabled = false))
      def built(threshold: Double) = graft.core.Pipeline.build(o.raw, threshold, o.annotations)
      assert(Opened.planMismatches(built(Gen.Threshold), built(Gen.Threshold)).isEmpty)
      val other = Opened.planMismatches(built(Gen.Threshold + 1.0), built(Gen.Threshold))
      assert(other.exists(_.contains("edges")))
    } finally { spark.stop(); Workloads.deleteTree(dir) }
  }

  test("call sites map to the engine's layers") {
    val details = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.core.GraphOps$.componentStatsSym(GraphOps.scala:10)\n" +
      "graft.core.Pipeline$.$anonfun$writeDatasetTree$5(Pipeline.scala:262)"
    assert(Trace.layerOfCallSite(details).contains("graphops"))
    assert(Trace.layerOfCallSite("graft.io.CytoscapeJson$.writeChromosomeDocuments(CytoscapeJson.scala:3)")
      .contains("cytoscapejson"))
    assert(Trace.criticalLane(Map("nodesCache" -> 1.0, "symmetrize" -> 2.0,
      "diameter" -> 3.0, "featuresMetadata" -> 4.0)) == ("diameter", 6.0))
  }
}
