package perfbench

import graft.engine.{EventSegmentation, Funnel, JsonApi, Records, Response}
import graft.model.{JsonDsl, Registry, Reports}
import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.Gen.Req

/** The direct path: a request served by calling the program's modules
  * in-process, in the order its HTTP handler calls them — parse
  * (`model`), plan build (`engine`, or `pipeline` for search), physical
  * planning (`plans`), execution and collection, serialization. Each
  * step is one span when the tracer is on; the answer is the same bytes
  * the HTTP route returns. */
final class Exec(spark: SparkSession, tracer: Tracer) {
  import Exec._

  private def planned(df: DataFrame): DataFrame = {
    tracer.span(Plan)(df.queryExecution.executedPlan)
    df
  }

  /** (files, bytes, rows) the scans of the last plan executed on this
    * thread read, and the rows its answer returned. */
  private val lastScan = new ThreadLocal[(Long, Long, Long, Long)] {
    override def initialValue(): (Long, Long, Long, Long) = (0L, 0L, 0L, 0L)
  }
  def scanOfLast: (Long, Long, Long, Long) = lastScan.get

  private def recordScan(df: DataFrame, rowsReturned: Long): Unit =
    if (tracer.active) {
      val (f, b, r) = SparkCounters.scanMetrics(df.queryExecution.executedPlan)
      lastScan.set((f, b, r, rowsReturned))
    }

  private def table(df: DataFrame, exec: String): Response.ColumnarTable = {
    val t = tracer.span(exec)(Response.collect(planned(df)))
    recordScan(df, t.rowCount)
    t
  }

  /** Serve one analytics request against `events`. */
  def analytics(r: Req, events: DataFrame, reports: Reports,
                reg: Registry = Registry.open): String = r.cls match {
    case "es" =>
      val req = tracer.span(Parse)(JsonDsl.eventSegmentation(r.body, reg.customEvents, reg))
      val df = tracer.span(Build)(EventSegmentation.run(events, req))
      val t = table(df, ExecSpan)
      tracer.span(Serialize)(t.toJson)
    case "funnel" =>
      val model = tracer.span(Parse)(JsonDsl.funnel(r.body, reg))
      val df = tracer.span(Build)(Funnel.fromModel(spark, events, model))
      val stepNames = model.steps.zipWithIndex.map { case (s, i) =>
        s.events.headOption.flatMap(_.eventName).getOrElse(s"step ${i + 1}")
      }
      val resp = tracer.span(ExecSpan)(
        Response.funnelResponse(planned(df), stepNames, model.breakdowns))
      recordScan(df, resp.steps.map(_.data.size.toLong).sum)
      tracer.span(Serialize)(resp.toJson)
    case "records" =>
      val req = tracer.span(Parse)(JsonDsl.eventRecordsSearch(r.body, reg))
      val t = table(tracer.span(Build)(Records.search(events, req)), ExecSpan)
      tracer.span(Serialize)(t.toJson)
    case "values" =>
      val req = tracer.span(Parse)(JsonDsl.propertyValues(r.body, reg))
      val t = table(tracer.span(Build)(Records.propertyValues(events, req)), ExecSpan)
      tracer.span(Serialize)(t.toJson)
    case "groups" =>
      val req = tracer.span(Parse)(JsonDsl.groupRecordsSearch(r.body, reg))
      val t = table(tracer.span(Build)(Records.searchGroups(events, req)), ExecSpan)
      tracer.span(Serialize)(t.toJson)
    case "report" =>
      // the report route: look the saved query up, then replay it
      // through the event-segmentation presentation path (JsonApi
      // .runReport → eventSegmentationFormatted, Regular format)
      val rep = reports.get(r.pid, r.pid).getOrElse(sys.error(s"report ${r.pid} not found"))
      val req = tracer.span(Parse)(JsonDsl.eventSegmentation(rep.queryJson, reg.customEvents, reg))
      val t = table(tracer.span(Build)(EventSegmentation.runPivoted(events, req)), ExecSpan)
      tracer.span(Serialize)(t.toJson)
  }

  /** Serve one search request: the retrieval route's body. */
  def search(r: Req, docs: DataFrame, emb: DataFrame, indexes: Map[String, String]): String = {
    tracer.span(Parse)(JsonDsl.search(r.body))
    val df = tracer.span(SearchBuild)(JsonApi.search(docs, r.body, embeddings = Some(emb),
      resolveIndex = Some((id: String) => indexes(id))))
    val t = table(df, SearchExec)
    tracer.span(Serialize)(t.toJson)
  }
}

object Exec {
  val Parse = "model.parse"
  val Build = "engine.build"
  val Plan = "plans.plan"
  val ExecSpan = "engine.exec"
  val Serialize = "engine.serialize"
  val SearchBuild = "pipeline.build"
  val SearchExec = "pipeline.exec"
}
