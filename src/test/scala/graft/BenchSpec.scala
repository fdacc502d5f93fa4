package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench must report failures as failures: a crashing query records an
  * `errors` entry and bumps `n_errors` — it can never masquerade as a
  * fast success (the r2 bench lost its join-query signal exactly this
  * way).
  */
class BenchSpec extends AnyFunSuite {
  import TestSession._

  test("a deliberately broken query surfaces as an error, not a fast time") {
    val broken: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.read.parquet("/nonexistent/graft/bench/path")
    val ok: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(10).toDF("id")

    val results = Bench.runAll(spark, sf, Map("q_broken" -> broken, "q_ok" -> ok))
    val byName = results.map(r => r.name -> r).toMap
    assert(byName("q_broken").error.isDefined, "broken query must record an error")
    assert(byName("q_ok").error.isEmpty)

    val json = Bench.toJson(results, sf)
    assert(json.contains("\"n_errors\":1"), json)
    assert(json.contains("\"q_broken\":\""), s"errors object must name the broken query: $json")
    // the time is still recorded (for wall-clock accounting) but flagged
    assert(json.contains("\"queries\":{"))
  }

  test("min-of-N reps reports the minimum and still surfaces failures") {
    var calls = 0
    val counting: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => { calls += 1; s.range(3).toDF("id") }
    val r = Bench.runOne(spark, sf, "q", counting, reps = 3)
    assert(calls == 3 && r.error.isEmpty)
    val broken: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.read.parquet("/nonexistent")
    assert(Bench.runOne(spark, sf, "q", broken, reps = 2).error.isDefined)
  }

  test("a fast-failing rep never sets the reported time when another rep succeeds") {
    var calls = 0
    // rep 1 crashes instantly; rep 2 succeeds after a measurable sleep —
    // the reported time must be the slow SUCCESSFUL rep's, not the crash's
    val flaky: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        calls += 1
        if (calls == 1) throw new RuntimeException("boom")
        Thread.sleep(300)
        s.range(3).toDF("id")
      }
    val r = Bench.runOne(spark, sf, "q_flaky", flaky, reps = 2)
    assert(r.error.isDefined, "the failing rep must still be surfaced")
    assert(r.seconds >= 0.3, s"time must come from the successful rep, got ${r.seconds}")
  }

  test("all-green run reports n_errors 0 and an empty errors object") {
    val results = Bench.runAll(spark, sf,
      Map("a" -> ((s, _) => s.range(5).toDF("id"))))
    val json = Bench.toJson(results, sf)
    assert(json.contains("\"n_errors\":0") && json.contains("\"errors\":{}"), json)
  }

  // -- self-normalizing canary (r13 verdict #5) ------------------------------

  private def qr(name: String, t: Double, err: Option[String] = None) =
    Bench.QueryResult(name, Seq(t), err, Seq(t))

  test("canary median is the median of canary mins and ignores failed canaries") {
    // 9 live canaries at known times + a failed one that must not count
    val times = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    val canaries = Bench.CanaryQueries.take(9).zip(times).map { case (n, t) => qr(n, t) }
    val failed = qr(Bench.CanaryQueries(9), 0.001, Some("boom"))
    val other = qr("q_expensive", 5.0)
    val results = canaries :+ failed :+ other
    assert(Bench.canaryMedian(results) == 0.5)
    val json = Bench.toJson(results, sf)
    assert(json.contains(""""canary":{"median_min":0.5,"n_present":9"""), json)
    // q_expensive: 5.0 / 0.5 = 10× the canary — the box-drift-free signal
    assert(json.contains(""""q_expensive":{"min":5.0,"median":5.0,"cpu":5.0,"n":1,"norm":10.0"""),
      json)
  }

  test("canary median degrades to -1 on subset runs with <5 canaries present") {
    val results = Seq(qr("q1_agg", 0.1), qr("q_topk", 0.2), qr("q_only", 1.0))
    assert(Bench.canaryMedian(results) == -1.0)
    assert(Bench.toJson(results, sf).contains(""""norm":-1.0"""))
  }

  test("the canary contract: 10 pinned members, all registered driver queries") {
    assert(Bench.CanaryQueries.size == 10)
    assert(Bench.CanaryQueries.distinct.size == 10)
    val missing = Bench.CanaryQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"canary names not in the driver contract: $missing")
  }

  test("the JSON quoter round-trips quotes, backslashes, control chars and non-ASCII") {
    val raw = "say \"hi\"\\path\tcol\r\n\u0001 naïve 東京 ✓"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"k": ${Json.quote(raw)}}""").get("k").asText()
    assert(back == raw)
  }
}
