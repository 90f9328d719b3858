package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark: one JVM runs one workload against the program.
  *
  * {{{
  *   perfbench.Main --workload interactive|ingest|search --seed N
  *                  --seconds S --trace 0|1 --out DIR --work DIR --cache DIR
  * }}}
  *
  * Generated inputs are kept per seed under the cache directory; the
  * work directory holds what a run writes and is removed after it.
  *
  * `--trace 0` measures the end-to-end metrics; `--trace 1` replays the
  * same seeded requests in phases that yield the per-layer metrics and
  * writes every span to `DIR/spans.jsonl`. The result goes to
  * `DIR/result.json`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, work: String, cache: String)

  final case class Metric(name: String, value: Double, unit: String)

  /** A run's outcome: `failures` lists each failed attempt's cause. */
  final case class Result(attempted: Long, failures: Seq[String], metrics: Seq[Metric],
                          info: Seq[(String, String)])

  val SetupReps = 3
  val Clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("out"), kv("work"), kv("cache"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, a, sessionS, counters)
    try {
      val res = a.workload match {
        case "interactive" => Workloads.interactive(ctx)
        case "ingest"      => Workloads.ingest(ctx)
        case "search"      => Workloads.search(ctx)
        case other         => throw new IllegalArgumentException(s"unknown workload $other")
      }
      write(a, res, ctx)
    } finally spark.stop()
  }

  /** The session the repository's own bench uses (local, one shuffle
    * partition per core, AQE on), plus the graft planner rules. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def write(a: Args, r: Result, ctx: Ctx): Unit = {
    val metrics = r.metrics.map(m =>
      s"${jstr(m.name)}: {${jstr("value")}: ${jnum(m.value)}, ${jstr("unit")}: ${jstr(m.unit)}}")
    val causes = r.failures.groupBy(identity).toSeq.sortBy(-_._2.size)
      .map { case (c, xs) => s"${jstr(c)}: ${xs.size}" }
    val info = (r.info ++ ctx.hostInfo).map { case (k, v) => s"${jstr(k)}: $v" }
    val json = s"""{"correct": ${r.failures.isEmpty}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failures.size}, "metrics": {${metrics.mkString(", ")}}, """ +
      s""""failures": {${causes.mkString(", ")}}, "info": {${info.mkString(", ")}}}"""
    new File(a.out).mkdirs()
    Files.write(new File(a.out, "result.json").toPath, json.getBytes(UTF_8))
    if (a.trace) {
      val lines = ctx.tracer.spans.sortBy(_.start).map(Spans.toJsonLine)
      Files.write(new File(a.out, "spans.jsonl").toPath,
        (lines.mkString("\n") + "\n").getBytes(UTF_8))
      print(Summarize.report(new File(a.out)))
    }
  }
}

/** State shared by a run's phases. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sessionS: Double,
                val counters: SparkCounters) {
  val tracer = new Tracer(args.trace)
  val exec = new Exec(spark, tracer)
  private var windows = Vector.empty[(Double, Double)]

  /** Stamp the host around a measured window. */
  def window[A](body: => A): A = {
    val p0 = HostLoad.probe(); val l0 = HostLoad.loadAvg()
    try body
    finally {
      val p1 = HostLoad.probe(); val l1 = HostLoad.loadAvg()
      windows :+= (math.max(l0, l1), HostLoad.externalShare(p0, p1))
    }
  }

  private var notes = Vector.empty[(String, String)]

  /** Record a timing for the run's report. */
  def note(key: String, values: Double*): Unit =
    notes :+= key -> (if (values.size == 1) Main.jnum(values.head)
                      else values.map(Main.jnum).mkString("[", ", ", "]"))

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Record how far into the process a run has come, seconds. */
  def mark(key: String): Unit = note(key, (System.currentTimeMillis() - jvmStart) / 1000.0)

  def hostInfo: Seq[(String, String)] = notes ++ {
    val load = windows.map(_._1).maxOption.getOrElse(HostLoad.loadAvg())
    val ext = windows.map(_._2).maxOption.getOrElse(0.0)
    val cpus = Runtime.getRuntime.availableProcessors()
    Seq("nproc" -> cpus.toString, "clients" -> Main.Clients.toString,
      "spark_threads" -> cpus.toString, "loadavg_1m" -> Main.jnum(load),
      "external_cpu_share" -> Main.jnum(ext),
      "busy_host" -> HostLoad.busy(load, ext, cpus).toString)
  }


  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def work(name: String): String = new File(args.work, name).getAbsolutePath
}
