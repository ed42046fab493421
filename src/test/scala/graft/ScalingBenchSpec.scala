package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The job-scaling report: runs-file lines in, BENCH/job_scaling.json
  * out. Spark-free — the report is a pure function of the lines.
  */
class ScalingBenchSpec extends AnyFunSuite {

  private def run(cores: Int, sec: String, turns: Long,
      protocol: String = ""): String = {
    val p = if (protocol.isEmpty) ScalingBench.jobProtocol(turns) else protocol
    s"""{"cores":$cores,"sec":$sec,"turns":$turns,"triples":7,"buckets":32,"protocol":"$p"}"""
  }

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  private def corpus(json: String, turns: Long): JsonNode = {
    val corpora = parse(json).get("corpora")
    (0 until corpora.size).map(corpora.get).find(_.get("turns").asLong == turns)
      .getOrElse(fail(s"no corpus with $turns turns in $json"))
  }

  test("runs under a different protocol string are not pooled") {
    val json = ScalingBench.jobReport(Seq(
      run(8, "30.000", 1000),
      run(8, "10.000", 1000, protocol = "an older timed region on 1000 turns")))
    val local8 = corpus(json, 1000).get("local8")
    assert(local8.get("wall_min").asDouble == 30.0, json)
    assert(local8.get("runs").asInt == 1, json)
  }

  test("min wall per level and run counts per level and per pair") {
    val json = ScalingBench.jobReport(Seq(
      run(2, "44.749", 1000), run(8, "30.518", 1000), run(2, "50.100", 1000),
      run(8, "28.960", 1000), run(32, "28.237", 1000), "",
      run(2, "9.000", 50)))
    val c = corpus(json, 1000)
    assert(c.get("local2").get("wall_min").asDouble == 44.749)
    assert(c.get("local2").get("runs").asInt == 2)
    assert(c.get("local8").get("wall_min").asDouble == 28.96)
    assert(c.get("local8").get("runs").asInt == 2)
    assert(c.get("local32").get("runs").asInt == 1)
    val pair = c.get("local2_to_8")
    assert(pair.get("speedup").asDouble == 1.545)
    assert(pair.get("efficiency").asDouble == 0.386)
    assert(pair.get("runs_n").asInt == 2 && pair.get("runs_n4").asInt == 2)
    assert(c.get("local8_to_32").get("runs_n4").asInt == 1)
    assert(c.has("fixed_cost_sec") && c.has("parallel_work_core_sec"))
    assert(corpus(json, 50).get("local2").get("runs").asInt == 1)
    assert(parse(json).get("corpora").get(0).get("turns").asLong == 50,
      "corpora are ordered by size")
  }

  test("a corpus measured only at local[8] and local[32] yields valid JSON without the (2, 8) fields") {
    val json = ScalingBench.jobReport(Seq(run(8, "29.000", 1000), run(32, "28.000", 1000)))
    val c = corpus(json, 1000)
    assert(c.has("local8_to_32"))
    for (absent <- Seq("local2", "local2_to_8", "fixed_cost_sec", "parallel_work_core_sec"))
      assert(!c.has(absent), s"$absent in $json")
    assert(!json.contains(",,") && !json.contains(",}") && !json.contains(",]"), json)
  }

  test("the committed job_scaling.json is the report of the committed runs") {
    val runs = Files.readString(Paths.get("BENCH/job_scaling_runs.jsonl")).split('\n').toSeq
    assert(ScalingBench.jobReport(runs) + "\n" == Files.readString(Paths.get("BENCH/job_scaling.json")))
  }
}
