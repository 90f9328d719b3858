package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import perfbench.Gen.Req

/** Output checks. Expected answers are computed at set-up, outside any
  * timed window, with Spark SQL text written here from the request
  * body — not through the program's request model or engine — over the
  * same files the program reads (registered as the view `ev`). A check
  * maps a response body to `None` (correct) or the failure's cause. */
object Checks {
  type Check = String => Option[String]

  private val mapper = new ObjectMapper()

  def json(s: String): JsonNode = mapper.readTree(s)

  /** Columnar response → (column name, kind, values). */
  def columns(body: String): Seq[(String, String, Seq[String])] =
    json(body).get("columns").elements().asScala.map { c =>
      (c.get("name").asText(), c.get("kind").asText(),
        c.get("values").elements().asScala.map(v => if (v.isNull) null else v.asText()).toSeq)
    }.toSeq

  def column(body: String, name: String): Seq[String] =
    columns(body).find(_._1 == name).map(_._3)
      .getOrElse(throw new NoSuchElementException(s"response has no column $name"))

  private def ts(s: String): String = s.replace("T", " ").stripSuffix("Z")

  private def timeSql(t: JsonNode): String =
    s"ts >= timestamp'${ts(t.get("from").asText())}' AND ts <= timestamp'${ts(t.get("to").asText())}'"

  private def filterSql(f: JsonNode): String = {
    val c = f.get("propertyName").asText()
    val v = f.get("value").get(0)
    val lit = if (v.isNumber) v.asText() else "'" + v.asText().replace("'", "''") + "'"
    f.get("operation").asText() match {
      case "gt" => s"$c > $lit"
      case "lt" => s"$c < $lit"
      case "eq" => s"$c = $lit"
      case op   => throw new IllegalArgumentException(s"unchecked operation $op")
    }
  }

  private def where(parts: Seq[String]): String = parts.filter(_.nonEmpty).mkString(" AND ")

  /** Sorted numbers of two answers agree to the response's 3-digit
    * presentation rounding. */
  def sameNumbers(got: Seq[Double], want: Seq[Double]): Option[String] = {
    val (g, w) = (got.sorted, want.sorted)
    if (g.size != w.size)
      Some(s"wrong row count: got ${g.size} (${g.take(8).mkString(" ")}), want ${w.size} (${w.take(8).mkString(" ")})")
    else g.zip(w).find { case (x, y) => math.abs(x - y) > 0.0015 + 1e-9 * math.abs(y) }
      .map { case (x, y) => s"wrong value: got $x, want $y" }
  }

  def sameList(got: Seq[String], want: Seq[String], what: String): Option[String] =
    if (got == want) None
    else Some(s"wrong $what: got ${got.size} values, want ${want.size}" +
      got.zip(want).find(p => p._1 != p._2).fold("")(p => s", first difference ${p._1} vs ${p._2}"))

  private def guarded(check: Check): Check = body =>
    try check(body)
    catch { case scala.util.control.NonFatal(e) => Some(s"unparseable response: ${e.getMessage}") }

  /** The check for one analytics request; `reportQuery` is the saved
    * query a `report` request runs. When the store is `growing` (rows
    * appended while requests run), a property-values answer must hold
    * every value the store holds now, each once, in order. */
  def analytics(spark: SparkSession, r: Req, reportQuery: Long => String,
                growing: Boolean = false): Check = {
    def longs(sql: String): Seq[String] = spark.sql(sql).collect().map(_.get(0).toString).toSeq
    val j = json(if (r.cls == "report") reportQuery(r.pid) else r.body)
    val pid = s"project_id = ${r.pid}"
    guarded(r.cls match {
      case "es" | "report" =>
        val e = j.get("events").get(0)
        val metric = e.get("queries").get(0)
        val agg = metric.get("type").asText() match {
          case "countEvents"       => "count(*)"
          case "countUniqueGroups" => "count(DISTINCT user_id)"
          case _                   => "sum(value)"
        }
        val bds = Option(j.get("breakdowns")).toSeq.flatMap(_.elements().asScala)
          .map(_.get("propertyName").asText())
        val conds = Seq(pid, timeSql(j.get("time")), s"event_type = '${e.get("eventName").asText()}'") ++
          Option(e.get("filters")).toSeq.flatMap(_.elements().asScala).map(filterSql)
        val want = spark.sql(s"SELECT ${(Seq("date_trunc('DAY', ts)") ++ bds).mkString(", ")}, " +
          s"CAST($agg AS DOUBLE) FROM ev WHERE ${where(conds)} GROUP BY ALL")
          .collect().map(row => row.getDouble(row.size - 1)).toSeq
        if (r.cls == "es") {
          val name = metric.get("name").asText()
          body => sameNumbers(column(body, name).map(_.toDouble), want)
        } else {
          // the report presentation pivots buckets into metric columns
          // (a day with no events has no cell to compare) and adds their
          // mean over the range's days as `average`
          body => {
            val (avg, days) = columns(body).filter(_._2 == "Metric").partition(_._1 == "average")
            val mean = want.sum / math.max(1, days.size)
            sameNumbers(days.flatMap(_._3).filter(v => v != null && v.toDouble != 0.0).map(_.toDouble),
              want.filter(_ != 0.0))
              .orElse(avg.flatMap(_._3).find(v => v != null).flatMap(a => sameNumbers(Seq(a.toDouble), Seq(mean)))
                .map("average: " + _))
          }
        }
      case "funnel" =>
        // the funnel counts ATTEMPTS under the reference's state machine
        // (a window overflow restarts the attempt), so step totals are
        // checked against bounds any correct answer meets: every user
        // with a first-step event starts at least one attempt, no more
        // attempts than first-step events, totals never rise, and a
        // unique-count funnel converts each user at most once
        val steps = j.get("steps").elements().asScala.toSeq
          .map(_.get("events").get(0).get("eventName").asText())
        val scope = where(Seq(pid, timeSql(j.get("time")), s"event_type = '${steps.head}'"))
        val Seq(users, events) = spark.sql(
          s"SELECT count(DISTINCT user_id), count(*) FROM ev WHERE $scope").collect().head.toSeq
          .map(_.toString.toLong)
        body => {
          val totals = json(body).get("steps").elements().asScala.toSeq
            .map(_.get("data").elements().asScala.map(_.get("total").asLong()).sum)
          if (totals.size != steps.size) Some(s"wrong step count: got ${totals.size}, want ${steps.size}")
          else if (totals.zip(totals.drop(1)).exists { case (a, b) => b > a })
            Some(s"step totals increase: ${totals.mkString(",")}")
          else if (totals.head < users || totals.head > events)
            Some(s"first-step total ${totals.head} outside [$users, $events]")
          else if (totals.last > users)
            Some(s"last-step total ${totals.last} above $users first-step users")
          else None
        }
      case "records" =>
        val e = j.get("events").get(0).get("eventName").asText()
        val conds = Seq(pid, timeSql(j.get("time")), s"event_type = '$e'") ++
          j.get("filters").elements().asScala.map(filterSql)
        val want = longs(s"SELECT event_id FROM ev WHERE ${where(conds)} ORDER BY event_id DESC LIMIT 100")
        body => sameList(column(body, "event_id"), want, "record ids")
      case "values" =>
        val e = j.get("eventName").asText()
        val want = longs(s"SELECT DISTINCT props FROM ev WHERE $pid AND event_type = '$e' " +
          "AND props IS NOT NULL ORDER BY props LIMIT 1000")
        if (!growing) body => sameList(column(body, "props"), want, "property values")
        else body => {
          val got = column(body, "props")
          if (got.distinct.size != got.size) Some("repeated property values")
          else if (got != got.sorted) Some("property values out of order")
          else want.find(v => !got.contains(v)).map(v => s"missing property value $v")
        }
      case "groups" =>
        val rows = spark.sql(s"SELECT user_id, max_by(event_type, event_id) FROM ev WHERE " +
          s"${where(Seq(pid, timeSql(j.get("time"))))} GROUP BY user_id ORDER BY user_id LIMIT 100")
          .collect().toSeq
        val (ids, types) = (rows.map(_.get(0).toString), rows.map(_.getString(1)))
        body => sameList(column(body, "user_id"), ids, "group ids")
          .orElse(sameList(column(body, "event_type"), types, "group profiles"))
    })
  }

  /** Ranked result ids of a search response. */
  def rankedIds(body: String): Seq[String] = {
    val cols = columns(body)
    cols.find(c => c._1 == "doc_id" || c._1 == "id").map(_._3)
      .getOrElse(throw new NoSuchElementException("search response has no id column"))
  }

  /** Share of the exact top-10 the approximate answer returned. */
  def recallAt10(got: Seq[String], exact: Seq[String]): Double = {
    val want = exact.take(10).toSet
    if (want.isEmpty) 1.0 else got.take(10).count(want.contains).toDouble / want.size
  }
}
