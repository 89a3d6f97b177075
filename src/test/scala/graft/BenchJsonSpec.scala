package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The Bench driver-contract JSON line must stay machine-parseable —
  * the regression class that nulled BENCH_r01 (`parsed:null`).
  */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("jsonLine parses with a strict JSON parser, incl. escapes and failures") {
    val scaling = """{"docs":10,"tps_1":1.0,"efficiency":0.9}"""
    val line = Bench.jsonLine(
      Map("q1_agg" -> 1.25, "weird\"name\n" -> -1.0),
      Map("weird\"name\n" -> "boom: \"quoted\"\tmessage"),
      "/root/testdata/sf0.1", scaling)
    assert(!line.contains("\n"), "must be ONE line")
    val root = mapper.readTree(line) // throws on malformed JSON
    assert(root.get("metric").asText() == "total")
    assert(math.abs(root.get("value").asDouble() - 1.25) < 1e-12,
      "failed queries (-1) must not shrink the total")
    assert(root.get("queries").get("q1_agg").asDouble() == 1.25)
    assert(root.get("failed").size() == 1)
    assert(root.get("scaling").get("efficiency").asDouble() == 0.9)
  }

  test("jsonLine with no scaling phase emits a JSON null") {
    val line = Bench.jsonLine(Map("a" -> 0.5), Map.empty, "/x", "null")
    val root = mapper.readTree(line)
    assert(root.get("scaling").isNull)
    assert(root.get("query_samples").isNull && root.get("self_knn").isNull)
  }

  test("noise-floor adjudication: tainted / needsThird / bestOf") {
    import Bench.{QSample, tainted, needsThird, bestOf}
    val clean = QSample(1.0, 2.5, 0)
    assert(!tainted(clean))
    assert(tainted(QSample(1.0, 4.0, 0)), "load >= 4 taints")
    assert(tainted(QSample(10.0, 1.0, 3100)), "GC > 30% of wall taints")
    assert(!tainted(QSample(10.0, 1.0, 2900)))
    assert(tainted(QSample(0.4, 1.0, 600)), "GC > 500ms floor taints")
    // expected JIT ordering (run2 faster) on a quiet host: no third
    assert(!needsThird(QSample(2.0, 2.0, 0), QSample(1.0, 2.0, 0)))
    // burst during run 2 (slower than the warm-up by >1.5x): third
    assert(needsThird(QSample(1.0, 2.0, 0), QSample(1.6, 2.0, 0)))
    // best-of-two tainted: third
    assert(needsThird(QSample(2.0, 4.5, 0), QSample(2.5, 4.5, 0)))
    // one failed run alone never forces a third on a clean floor
    assert(!needsThird(QSample(-1.0, 2.0, 0), QSample(1.0, 2.0, 0)))
    // bestOf ignores failures; None when everything failed
    assert(bestOf(Seq(QSample(-1.0, 1.0, 0), clean)).contains(clean))
    assert(bestOf(Seq(QSample(-1.0, 1.0, 0))).isEmpty)
  }

  test("jsonLine carries the floor_suspect self-flag") {
    val fs = """{"suspect":true,"suspect_queries":["q1_agg","doc_langid"]}"""
    val line = Bench.jsonLine(Map("a" -> 0.5), Map.empty, "/x", "null",
      "null", "null", "null", fs)
    val root = mapper.readTree(line)
    assert(root.get("floor_suspect").get("suspect").asBoolean())
    assert(root.get("floor_suspect").get("suspect_queries").size() == 2)
    val def0 = Bench.jsonLine(Map("a" -> 0.5), Map.empty, "/x", "null")
    assert(mapper.readTree(def0).get("floor_suspect").isNull)
  }

  test("jsonLine carries per-query samples and self-kNN skew telemetry") {
    val samples = """{"a":[{"sec":0.500,"load":1.25,"gc_ms":10},""" +
      """{"sec":0.480,"load":1.10,"gc_ms":0}]}"""
    val knn = """{"candidate_pairs":12345,"result_rows":2500,"sec":1.100}"""
    val line = Bench.jsonLine(Map("a" -> 0.48), Map.empty, "/x", "null",
      "null", samples, knn)
    val root = mapper.readTree(line)
    assert(root.get("query_samples").get("a").size() == 2)
    assert(root.get("query_samples").get("a").get(1).get("load").asDouble() == 1.10)
    assert(root.get("self_knn").get("candidate_pairs").asLong() == 12345L)
  }

  test("scalingJson: best sample per level, sec_1 / (4 * sec_4), stages of the best runs") {
    def sample(cores: Int, sec: Double, stageMs: (String, Long)*) =
      Bench.Sample(cores, sec, stageMs.toMap, 1.5, 0.9, 7L, "/x")
    val samples = Seq(
      sample(4, 4.0, "a" -> 1000L, "b" -> 900L),
      sample(1, 10.0, "a" -> 4000L, "b" -> 2000L),
      sample(4, 2.5, "a" -> 500L, "b" -> 1000L),
      sample(1, 8.0, "a" -> 3000L, "b" -> 1000L),
      // a slower run with faster stages: its stage times must not mix in
      sample(4, 3.0, "a" -> 100L, "b" -> 100L))
    val scaling = mapper.readTree(Bench.scalingJson(120L, samples))
    assert(scaling.get("docs").asLong() == 120L)
    assert(scaling.get("n_low").asInt() == 1 && scaling.get("n_high").asInt() == 4)
    assert(scaling.get("sec_1").asDouble() == 8.0 && scaling.get("sec_4").asDouble() == 2.5)
    assert(scaling.get("efficiency").asDouble() == 0.8)
    assert(scaling.get("interleaved").asBoolean())
    val a = scaling.get("stages").get("a")
    assert(a.get("ms_1").asLong() == 3000L && a.get("ms_4").asLong() == 500L)
    assert(a.get("efficiency").asDouble() == 1.5)
    assert(scaling.get("stages").get("b").get("efficiency").asDouble() == 0.25)
    val perLevel = scaling.get("samples")
    assert(perLevel.get("1").size() == 2 && perLevel.get("4").size() == 3)
    for (f <- Seq("sec", "load", "cpu_util", "gc_ms"))
      assert(perLevel.get("4").get(0).has(f), f)
    val line = Bench.jsonLine(Map.empty, Map.empty, "", Bench.scalingJson(120L, samples))
    assert(mapper.readTree(line).get("scaling").get("efficiency").asDouble() == 0.8)
  }

  test("runSample: one whole kg.Main run per call, in a fresh dir deleted after") {
    val spark = TestSpark.spark
    val runs = Seq.fill(2)(Bench.runSample(spark, 20L))
    for (s <- runs) {
      assert(s.stageMs.keySet == Set("sentences", "mentions", "triples",
        "relations", "links", "nodes", "edges", "entity_rank"))
      assert(s.cores == spark.sparkContext.defaultParallelism && s.sec > 0)
      assert(!new java.io.File(s.out).exists, s"${s.out} was left behind")
    }
    assert(runs(0).out != runs(1).out, "a reused dir resumes and skips every stage")
  }
}
