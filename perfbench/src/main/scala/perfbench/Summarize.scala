package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Trace summariser: per-layer self time and call counts from a traced
  * run's span file, the per-layer ratios with their bases, and the
  * tracing overhead.
  *
  * {{{
  *   perfbench.Summarize .bench_build/last/<workload>-traced
  * }}}
  *
  * The directory holds the run's `spans.jsonl` and `result.json`; the
  * untraced run of the same workload, when its directory
  * (`<workload>-untraced`) sits beside it, is compared too. */
object Summarize {

  def main(args: Array[String]): Unit = println(report(new File(args(0))))

  def readSpans(f: File): Seq[Span] =
    Files.readAllLines(f.toPath).asScala.filter(_.trim.nonEmpty).map { l =>
      val j = Checks.json(l)
      Span(j.get("id").asLong(), j.get("parent").asLong(), j.get("req").asText(),
        j.get("name").asText(), j.get("start").asLong(), j.get("end").asLong())
    }.toSeq

  private def metrics(f: File): Map[String, Double] =
    if (!f.exists()) Map.empty
    else Checks.json(new String(Files.readAllBytes(f.toPath), "UTF-8")).get("metrics")
      .fields().asScala.map(e => e.getKey -> e.getValue.get("value").asDouble()).toMap

  /** The summary of one traced run directory. */
  def report(dir: File): String = {
    val spans = readSpans(new File(dir, "spans.jsonl"))
    val m = metrics(new File(dir, "result.json"))
    val sb = new StringBuilder
    def line(s: String): Unit = sb.append(s).append('\n')
    line(s"trace summary: ${dir.getName} (${spans.size} spans)")
    // requests are grouped by the phase prefix of their id
    val phases = Map("D" -> "traced direct replay", "R" -> "ingest readers",
      "O" -> "traced replay of the tracing-overhead pairs",
      "W" -> "ingest writer batches", "-" -> "set-up and check pass, outside any request")
    spans.groupBy(_.req.takeWhile(_ != ':')).toSeq.sortBy(_._1).foreach { case (phase, ss) =>
      val roots = ss.filter(_.parent == -1)
      val wall = roots.map(_.dur).sum
      line(f"phase $phase (${phases.getOrElse(phase, "?")}): ${roots.size}%d root spans, " +
        f"${wall / 1e6}%.1f ms in them")
      line(f"  ${"span"}%-26s ${"calls"}%7s ${"self ms"}%11s ${"ms/request"}%11s ${"share"}%7s")
      Spans.selfByName(ss).toSeq.sortBy(-_._2._1).foreach { case (name, (self, calls)) =>
        line(f"  $name%-26s $calls%7d ${self / 1e6}%11.1f ${self / 1e6 / math.max(1, roots.size)}%11.2f " +
          f"${if (wall == 0) 0.0 else 100.0 * self / wall}%6.1f%%")
      }
    }
    val d = spans.count(s => s.parent == -1 && s.req.startsWith("D:"))
    val r = spans.count(s => s.parent == -1 && s.req.startsWith("R:"))
    val w = spans.count(s => s.parent == -1 && s.req.startsWith("W:"))
    val base = if (d > 0) s"$d traced direct requests" else s"$r reader requests"
    line("per-layer metrics, with their bases:")
    PerLayer.all.foreach { case (name, unit) =>
      val per =
        if (name.startsWith("ingest.resolve") || name.startsWith("sources.append")) s"$w batches"
        else if (name == "serve.wait_ms") "client latency at full load minus handler time from /metrics"
        else if (name == "serve.overhead_ms") "one-client HTTP p50 minus one-client direct p50"
        else if (name == "trace.overhead_ms") "request, median over the same requests timed untraced and traced"
        else if (name == "scan.rows_read_per_row_returned") "rows the scans output per answer row"
        else if (name.startsWith("ingest.") || name.startsWith("sources.")) "the writer's run"
        else if (name.startsWith("pipeline.exec_ms.")) "traced requests of that route"
        else if (name == "search.recall_at_10") "checked approximate requests"
        else base
      line(f"  $name%-38s ${m.getOrElse(name, 0.0)}%14.3f $unit%-6s per $per")
    }
    val untraced = metrics(new File(dir.getParentFile, dir.getName.replace("-traced", "-untraced") + "/result.json"))
    val how = if (d > 0) "one-client direct replays: phase D traced, phase C untraced"
      else "the first requests replayed after the window, untraced and traced in turn"
    line(f"tracing overhead: ${m.getOrElse("trace.overhead_ms", 0.0)}%.2f ms per request " +
      s"(median over the same requests of traced minus untraced latency, same run: $how)")
    untraced.get("latency_p50_ms").foreach(p50 =>
      line(f"untraced run of this workload: latency_p50_ms = $p50%.2f"))
    sb.result()
  }
}
