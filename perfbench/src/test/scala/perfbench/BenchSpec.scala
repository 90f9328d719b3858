package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import perfbench.Gen.Req

class BenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  test("the same seed gives the same inputs and requests; another seed differs") {
    def inputs(seed: Long) = {
      val pool = Gen.interactivePool(seed, 60, 30)
      val order = Gen.sequence(pool, Gen.InteractiveMix, 500)
      (Gen.fingerprint(Gen.events(spark, seed, 2000, 30)),
        Gen.sequenceFingerprint(order.map(pool)),
        Gen.fingerprint(Gen.trackBatches(spark, seed, 2, 100, 2000, 30)),
        Gen.sequenceFingerprint(Gen.searchPool(seed, 40, 100)))
    }
    val a = inputs(7)
    assert(a == inputs(7))
    val b = inputs(8)
    assert(a.productIterator.zip(b.productIterator).forall { case (x, y) => x != y })
  }

  test("every block of the sequence holds the mix's class proportions") {
    val pool = Gen.interactivePool(3, 120, 30)
    val order = Gen.sequence(pool, Gen.InteractiveMix, 200)
    order.grouped(20).foreach { block =>
      val counts = block.groupBy(pool(_).cls).map { case (c, xs) => c -> xs.size }
      assert(counts == Map("es" -> 9, "funnel" -> 4, "records" -> 3, "values" -> 2,
        "groups" -> 1, "report" -> 1))
    }
  }

  test("percentiles interpolate between the closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 0.5) == 3.0)
    assert(Stats.percentile(xs, 0.9) == 4.6)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(Seq(10.0, 20.0), 0.25) == 12.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("self time subtracts the union of child intervals") {
    // request 0..100 with parse 0..10, build 10..40 and exec 30..90;
    // build and exec overlap on 30..40, which must count once
    val spans = Seq(
      Span(1, -1, "D:0:1", "es", 0, 100),
      Span(2, 1, "D:0:1", "model.parse", 0, 10),
      Span(3, 1, "D:0:1", "engine.build", 10, 40),
      Span(4, 1, "D:0:1", "engine.exec", 30, 90),
      Span(5, 4, "D:0:1", "plans.plan", 35, 45))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 10)
    assert(self(2) == 10 && self(3) == 30 && self(5) == 10)
    assert(self(4) == 50)
    val byName = Spans.selfByName(spans :+ Span(6, -1, "D:0:2", "es", 200, 250))
    assert(byName("es") == (60L, 2))
  }

  test("the tracer nests spans per thread and stamps the request id") {
    val t = new Tracer(enabled = true)
    t.request("D:0:1", "es") { t.span("model.parse")(()); t.span("engine.exec")(t.span("plans.plan")(())) }
    val ss = t.spans
    assert(ss.size == 4 && ss.forall(_.req == "D:0:1"))
    val exec = ss.find(_.name == "engine.exec").get
    assert(ss.find(_.name == "plans.plan").get.parent == exec.id)
    assert(new Tracer(enabled = false).request("x", "y")(42) == 42)
  }

  test("a muted thread records no spans; overhead is the median paired difference") {
    val t = new Tracer(enabled = true)
    assert(t.untraced(t.request("C:0:1", "es")(t.span("engine.exec")(7))) == 7)
    assert(t.spans.isEmpty && t.active)
    t.request("D:0:1", "es")(())
    assert(t.spans.size == 1)
    // traced minus untraced per request: 5, -1, 3 → median 3
    assert(Stats.pairedDifference(Seq(100.0, 200.0, 50.0), Seq(105.0, 199.0, 53.0)) == 3.0)
    assert(Stats.pairedDifference(Nil, Nil) == 0.0)
  }

  test("an injected wrong response is counted as a failure") {
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 1000001L, "view", 5.0, "{\"k\": 1}", 1L),
        (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 1000002L, "view", 7.0, "{\"k\": 2}", 1L),
        (3L, java.sql.Timestamp.valueOf("2024-01-03 11:00:00"), 1000002L, "click", 9.0, "{\"k\": 2}", 1L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "project_id")
      .createOrReplaceTempView("ev")
    val body = """{"time": {"type": "between", "from": "2024-01-01T00:00:00Z", "to": "2024-01-05T23:59:59Z"}, """ +
      """"events": [{"eventType": "regular", "eventName": "view"}], "filters": [], "limit": 100, "projectId": 1}"""
    val r = Req(0, "records", 1, "event-records/search", body)
    val check = Checks.analytics(spark, r, _ => "")
    def answer(ids: String*) =
      s"""{"columns":[{"name":"event_id","kind":"Metric","values":[${ids.map("\"" + _ + "\"").mkString(",")}]}]}"""
    assert(check(answer("2", "1")).isEmpty)
    assert(check(answer("2", "3")).nonEmpty)
    assert(check("not json").nonEmpty)

    val kept = new Workloads.Kept(Set(0))
    kept.keep(r, answer("2", "1"))
    kept.keep(r, answer("1"))
    val samples = Seq(
      Sample(0, 0, "records", 0L, 5L, 200, None),
      Sample(0, 0, "records", 5L, 5L, 200, None),
      Sample(1, 0, "records", 9L, 5L, 500, None))
    val causes = Workloads.failures(samples, kept, Map(0 -> check), _ => "records")
    assert(causes.size == 2)
    assert(causes.exists(_.contains("http 500")) && causes.exists(_.contains("wrong record ids")))

    // on a growing store, property values must keep every base value once, in order
    val values = Req(1, "values", 1, "properties/values",
      """{"propertyType": "event", "propertyName": "props", "eventType": "regular", "eventName": "view", "limit": 1000, "projectId": 1}""")
    val grown = Checks.analytics(spark, values, _ => "", growing = true)
    def props(vs: String*) =
      s"""{"columns":[{"name":"props","kind":"Dimension","values":[${vs.map(v => "\"" + v.replace("\"", "\\\"") + "\"").mkString(",")}]}]}"""
    assert(grown(props("{\"k\": 1}", "{\"k\": 2}", "{\"props\": 3}")).isEmpty)
    assert(grown(props("{\"k\": 1}")).exists(_.contains("missing")))
    assert(grown(props("{\"k\": 2}", "{\"k\": 1}")).exists(_.contains("order")))
  }
}
