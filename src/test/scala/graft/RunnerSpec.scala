package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The runner core and Bench's failure accounting, on the suite's session
  * with an injected query map: a failure records -1 (never its
  * time-to-failure), any failed rep fails its query, unknown names are
  * rejected, and the record's key order is the contract tooling reads. */
class RunnerSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def ok: Runner.Query = (s, _) => s.range(10).toDF()
  private def lambdaThrows: Runner.Query = (_, _) => throw new RuntimeException("lambda boom")
  private def actionThrows: Runner.Query = { (s, _) =>
    val boom: java.lang.Long => Boolean = _ => throw new RuntimeException("action boom")
    s.range(3).filter(boom).toDF()
  }

  private def sweep(queries: Map[String, Runner.Query], reps: Int): (JsonNode, JsonNode) = {
    val (full, summary) =
      Bench.run(spark, sf, Runner.resolve(Nil, queries), reps, 0.0, 0.0, 0.0)
    val json = new ObjectMapper()
    (json.readTree(full), json.readTree(summary))
  }

  test("a throwing lambda and a throwing action each record wall -1 and cpu -1") {
    val (full, summary) = sweep(
      Map("ok" -> ok, "lambda_throws" -> lambdaThrows, "action_throws" -> actionThrows), reps = 1)
    for (n <- Seq("lambda_throws", "action_throws")) {
      assert(full.get("queries").get(n).asDouble == -1.0, s"$n wall")
      assert(full.get("cpu_queries").get(n).asDouble == -1.0, s"$n cpu")
    }
    assert(full.get("queries").get("ok").asDouble >= 0.0)
    assert(full.get("failed").asInt == 2)
    assert(full.get("value").asDouble == -1.0)
    assert(summary.get("failed").asInt == 2 && summary.get("value").asDouble == -1.0)
  }

  test("with reps = 2, one failing rep fails the query") {
    var calls = 0
    val secondFails: Runner.Query = { (s, d) =>
      calls += 1
      if (calls == 2) throw new RuntimeException("second rep boom") else ok(s, d)
    }
    val (full, _) = sweep(Map("ok" -> ok, "second_fails" -> secondFails), reps = 2)
    assert(calls == 2)
    assert(full.get("reps").asInt == 2)
    assert(full.get("queries").get("second_fails").asDouble == -1.0)
    assert(full.get("cpu_queries").get("second_fails").asDouble == -1.0)
    assert(full.get("queries").get("ok").asDouble >= 0.0)
    assert(full.get("failed").asInt == 1 && full.get("value").asDouble == -1.0)
  }

  test("resolve keeps the given order, sorts the whole map for no names, and rejects unknown names") {
    val queries = Map("b" -> ok, "a" -> ok, "c" -> ok)
    assert(Runner.resolve(Seq("c", "a"), queries).map(_._1) == Seq("c", "a"))
    assert(Runner.resolve(Nil, queries).map(_._1) == Seq("a", "b", "c"))
    assert(Runner.resolve(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      Runner.resolve(Seq("a", "nope_1", "b", "nope_2"), queries))
    assert(e.getMessage.contains("nope_1") && e.getMessage.contains("nope_2"), e.getMessage)
  }

  test("the idle reference is read from the working tree the run starts in") {
    val root = java.nio.file.Files.createTempDirectory("graft_idle_ref_").toFile
    val tools = new java.io.File(root, "tools")
    assert(Bench.idleRef(1, root, None) == -1.0, "no reference file reads -1")
    tools.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(tools, "bench_idle_ref.txt").toPath, "2.5\n")
    assert(Bench.idleRef(1, root, None) == 2.5)
    assert(Bench.idleRef(3, root, None) == 2.5, "reps3 falls back to the default ref")
    java.nio.file.Files.writeString(new java.io.File(tools, "bench_idle_ref_reps3.txt").toPath, "3.5")
    assert(Bench.idleRef(1, root, None) == 2.5 && Bench.idleRef(3, root, None) == 3.5)
    assert(Bench.idleRef(3, root, Some(new java.io.File(tools, "bench_idle_ref.txt").getPath)) == 2.5,
      "an explicit reference file wins")
    // the default root is the working directory, i.e. this checkout
    val here = scala.io.Source.fromFile("tools/bench_idle_ref.txt")
    try assert(Bench.idleRef(1, refFile = None) == here.mkString.trim.toDouble) finally here.close()
  }

  test("the full record keeps its key order with steal_s last; the summary line's keys are unchanged") {
    val (full, summary) = sweep(Map("q16_route_count" -> SparkEntry.queries("q16_route_count")), reps = 1)
    assert(full.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "failed",
      "load_avg", "load_avg_5", "load_avg_15", "reps", "cpu_wall_ratio", "ratio_vs_idle",
      "queries", "cpu_queries", "sf", "steal_s"))
    assert(summary.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "failed",
      "load_avg", "load_avg_15", "reps", "cpu_wall_ratio", "ratio_vs_idle", "tainted", "sf"))
    assert(full.get("failed").asInt == 0 && full.get("value").asDouble >= 0.0)
    assert(full.get("queries").fieldNames.asScala.toSeq == Seq("q16_route_count"))
  }
}
