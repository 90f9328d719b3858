package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.ingest.Ingest
import graft.model.Reports
import graft.serve.GraftHttpServer
import graft.sources.{Compact, Store}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import perfbench.Gen.Req
import perfbench.Main.{Metric, Result}

/** The workloads. Each generates its inputs from the seed (untimed),
  * sets up (`setup_s`: session start plus the median of `SetupReps`
  * repeats of the rest, index builds included), computes its expected
  * answers and sends each checked request once (untimed), then either
  * measures the end-to-end metrics or, traced, the per-layer ones. */
object Workloads {

  val PoolSize = 120
  val ChecksPerClass = 1
  /** Days of the interactive store that the ingest writer appends to. */
  val IngestDays = 2
  val BatchEvents = 2000L
  val CompactEvery = 2
  /** Raw batches generated per ingest run: an 18 s run commits about 4. */
  val Batches = 12
  /** Requests replayed untraced and traced to measure tracing overhead on `ingest`. */
  val OverheadPairs = 3

  // ---------------- shared pieces ----------------

  private def url(r: Req) = s"/api/v1/projects/${r.pid}/${r.path}"

  /** One HTTP client per closed-loop thread, so one connection each. */
  private def http(port: Int): Int => (Req => (Int, String), () => Unit) = _ => {
    val c = new HttpClient1(port)
    (r => c.post(url(r), r.body), () => ())
  }

  /** Direct calls, each client's Spark jobs tagged `<phase>:<client>:<n>`
    * and each request one root span named by its class. */
  private def direct(ctx: Ctx, phase: String)(call: Req => String)
      : Int => (Req => (Int, String), () => Unit) = c => {
    var n = 0
    (r => {
      n += 1
      val tag = s"$phase:$c:$n"
      SparkCounters.tagged(ctx.spark, tag)(ctx.tracer.request(tag, r.cls)((200, call(r))))
    }, () => ())
  }

  /** `open`, with the tracer muted on each client's thread. */
  private def untraced(ctx: Ctx, open: Int => (Req => (Int, String), () => Unit))
      : Int => (Req => (Int, String), () => Unit) = c => {
    val (call, close) = open(c)
    (r => ctx.tracer.untraced(call(r)), close)
  }

  /** A seeded input, generated once per checkout: `write` fills a
    * fresh directory that becomes `<cache>/<key>` when complete. */
  private def cached(ctx: Ctx, key: String)(write: String => Unit): String = {
    val dir = new java.io.File(ctx.args.cache, key)
    if (!new java.io.File(dir, "_COMPLETE").exists()) {
      val tmp = new java.io.File(ctx.args.cache, s"$key.tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      write(tmp.getAbsolutePath)
      new java.io.File(tmp, "_COMPLETE").createNewFile()
      java.nio.file.Files.move(tmp.toPath, dir.toPath)
    }
    dir.getAbsolutePath
  }

  /** The interactive events store of a seed. */
  private def eventsStore(ctx: Ctx): String =
    cached(ctx, s"events-v2-${ctx.args.seed}")(dir => Store.writeEvents(
      Gen.events(ctx.spark, ctx.args.seed, Gen.Interactive.events, Gen.Interactive.days), s"$dir/store")) +
      "/store"

  /** Median of `SetupReps` set-ups plus the session start. */
  private def setupSeconds(ctx: Ctx)(rep: Int => Unit): Double = {
    val reps = (0 until Main.SetupReps).map(i => ctx.timed(rep(i))._2)
    ctx.note("session_s", ctx.sessionS)
    ctx.note("setup_reps_s", reps: _*)
    ctx.mark("t_setup_done_s")
    ctx.sessionS + Stats.median(reps)
  }

  /** `f` over `xs`, `threads` at a time, results in order. */
  private def parallel[A, B](xs: Seq[A], threads: Int = Main.Clients)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** Sends each checked request once before the window, `Main.Clients`
    * at a time — so every class has paid its first-use cost — and
    * verifies the answers. Timed apart from `setup_s` (`check_pass_s`).
    * Returns one cause per wrong answer. */
  private def checkPass(ctx: Ctx, sample: Seq[Req], checks: Map[Int, Checks.Check],
                        call: Req => (Int, String)): Seq[String] = {
    val (fails, s) = ctx.timed(parallel(sample) { r =>
      try {
        val (status, body) = call(r)
        if (status != 200) Some(s"${r.cls}: http $status: ${body.take(200)}")
        else checks(r.id)(body).map(c => s"${r.cls}: $c")
      } catch { case scala.util.control.NonFatal(e) =>
        Some(s"${r.cls}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }.flatten)
    ctx.note("check_pass_s", s)
    ctx.mark("t_check_pass_done_s")
    fails
  }

  /** Bodies of checked requests, kept while the clients run. */
  final class Kept(checked: Set[Int]) {
    val bodies = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[String]]()
    def keep(r: Req, body: String): Unit =
      if (checked.contains(r.id))
        bodies.computeIfAbsent(r.id, _ => new ConcurrentLinkedQueue[String]()).add(body)
    def of(id: Int): Seq[String] =
      Option(bodies.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
    def count: Int = bodies.values.asScala.map(_.size).sum
  }

  /** One failure cause per failed request: transport errors and non-200
    * answers, then every kept body its check rejects. */
  private[perfbench] def failures(samples: Seq[Sample], kept: Kept, checks: Map[Int, Checks.Check],
                       classOf: Int => String): Seq[String] = {
    val transport = samples.filter(_.status != 200).map(s =>
      s"${s.cls}: " + s.error.getOrElse(s"http ${s.status}"))
    val wrong = checks.toSeq.flatMap { case (id, check) =>
      kept.of(id).flatMap(b => check(b).map(c => s"${classOf(id)}: $c"))
    }
    transport ++ wrong
  }

  /** The end-to-end metrics. A run completes about 20 requests, so the
    * median is the highest percentile with ten samples beyond it; the
    * 90th percentile is reported beside them (`tailInfo`), not as a
    * metric. */
  private def latency(samples: Seq[Sample], setupS: Double): Seq[Metric] = {
    val ok = samples.filter(_.status == 200)
    Seq(Metric("setup_s", setupS, "s"),
      Metric("throughput_rps", ok.size / Load.elapsedSeconds(samples), "1/s"),
      Metric("latency_p50_ms", Stats.percentile(latencies(samples), 0.5), "ms"),
      Metric("rss_peak_mb", Load.rssPeakMb(), "MiB"))
  }

  private def latencies(samples: Seq[Sample]): Seq[Double] = {
    val ok = samples.filter(_.status == 200)
    (if (ok.nonEmpty) ok else samples).map(_.latNs / 1e6)
  }

  private def tailInfo(samples: Seq[Sample]): (String, String) =
    "latency_p90_ms" -> Main.jnum(Stats.percentile(latencies(samples), 0.9))

  /** Per request class: completed count and median latency (ms). */
  private def classCounts(samples: Seq[Sample]): String =
    samples.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, xs) =>
      s"${Main.jstr(c)}: [${xs.size}, ${Main.jnum(Stats.median(xs.map(_.latNs / 1e6)))}]"
    }.mkString("{", ", ", "}")

  /** Prometheus text → (Σ handler seconds, Σ handled requests). */
  private def handlerTotals(text: String): (Double, Long) = {
    def total(family: String): Double = text.linesIterator
      .filter(_.startsWith(family + "{")).map(_.split(' ').last.toDouble).sum
    (total("graft_query_execution_time_seconds_sum"), total("graft_query_queries_total").toLong)
  }

  /** Per-layer metrics of a traced phase: mean self time per request
    * of each layer span, Spark work per request from the listener, and
    * the scan counters the direct path collected. */
  private def layerMetrics(ctx: Ctx, phase: String, requests: Int, gcMs: Long,
                           scans: Seq[(Long, Long, Long, Long)]): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans.filter(_.req.startsWith(phase + ":"))
    val self = Spans.selfByName(spans)
    val n = math.max(1, requests).toDouble
    def ms(name: String) = self.get(name).map(_._1 / 1e6 / n).getOrElse(0.0)
    val sc = ctx.counters.sum(_.startsWith(phase + ":"))
    val rowsReturned = scans.map(_._4).sum
    Map(
      "model.parse_ms" -> ms(Exec.Parse), "engine.build_ms" -> ms(Exec.Build),
      "plans.plan_ms" -> ms(Exec.Plan), "engine.exec_ms" -> ms(Exec.ExecSpan),
      "engine.serialize_ms" -> ms(Exec.Serialize), "sources.listing_ms" -> ms("sources.listing"),
      "spark.jobs_per_req" -> sc("jobs") / n, "spark.tasks_per_req" -> sc("tasks") / n,
      "spark.sched_delay_ms_per_req" -> sc("schedDelayMs") / n,
      "spark.task_cpu_ms_per_req" -> sc("cpuNs") / 1e6 / n,
      "spark.task_run_ms_per_req" -> sc("runMs") / n,
      "spark.shuffle_bytes_per_req" -> sc("shuffleBytes") / n,
      "spark.spill_bytes_per_req" -> sc("spillBytes") / n,
      "jvm.gc_ms_per_req" -> gcMs / n,
      "scan.files_read_per_req" -> scans.map(_._1).sum / n,
      "scan.bytes_read_per_req" -> scans.map(_._2).sum / n,
      "scan.rows_read_per_row_returned" ->
        (if (rowsReturned == 0) 0.0 else scans.map(_._3).sum.toDouble / rowsReturned))
  }

  /** The traced run of a request/response workload, in four phases
    * over the same seeded sequence: (A) HTTP at full client count with
    * `/metrics` scraped around it, (B) HTTP at one client, (C) direct
    * at one client untraced, (D) direct at one client traced. */
  private def tracedPhases(ctx: Ctx, port: Int, order: Vector[Int], pool: Vector[Req],
                           call: Req => String): (Map[String, Double], Seq[Sample], Seq[Sample]) = {
    val s = ctx.args.seconds
    val scrape = new HttpClient1(port)
    val before = handlerTotals(scrape.get("/metrics")._2)
    val a = ctx.window(Load.closedLoop(Main.Clients, s * 0.3, order, pool, http(port)))
    val after = handlerTotals(scrape.get("/metrics")._2)
    val b = ctx.window(Load.closedLoop(1, s * 0.15, order, pool, http(port)))
    val c = ctx.window(Load.closedLoop(1, s * 0.15, order, pool,
      untraced(ctx, direct(ctx, "C")(call))))
    val scans = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val gc0 = SparkCounters.gcMs()
    val tracedCall: Req => String = r => { val out = call(r); scans.add(ctx.exec.scanOfLast); out }
    val d = ctx.window(Load.closedLoop(1, s * 0.4, order, pool, direct(ctx, "D")(tracedCall)))
    val gc = SparkCounters.gcMs() - gc0
    def p50(xs: Seq[Sample]) = Stats.median(xs.map(_.latNs / 1e6))
    val handlerMs = (after._1 - before._1) * 1e3 / math.max(1L, after._2 - before._2)
    val m = layerMetrics(ctx, "D", d.size, gc, scans.asScala.toSeq) ++ Map(
      "serve.wait_ms" -> (Stats.mean(a.map(_.latNs / 1e6)) - handlerMs),
      "serve.overhead_ms" -> (p50(b) - p50(c)),
      "trace.overhead_ms" -> {
        // C and D replay the sequence from its start: pair them by position
        val pairs = c.sortBy(_.startNs).zip(d.sortBy(_.startNs)).filter(p => p._1.req == p._2.req)
        Stats.pairedDifference(pairs.map(_._1.latNs / 1e6), pairs.map(_._2.latNs / 1e6))
      })
    (m, a ++ b ++ c ++ d, d)
  }

  // ---------------- interactive ----------------

  def interactive(ctx: Ctx): Result = {
    val spark = ctx.spark
    val (seed, days) = (ctx.args.seed, Gen.Interactive.days)
    val (store, genS) = ctx.timed(eventsStore(ctx))
    val pool = Gen.interactivePool(seed, PoolSize, days)
    val order = Gen.sequence(pool, Gen.InteractiveMix, 100000)
    var server: GraftHttpServer = null
    var reports: Reports = null
    var events: DataFrame = null
    val setupS = setupSeconds(ctx) { _ =>
      if (server != null) server.stop()
      events = spark.read.parquet(store)
      reports = new Reports
      (1 to Gen.Projects).foreach(p => reports.create(p, s"daily-$p", "eventSegmentation",
        Gen.reportQuery(seed, p, days), 0L))
      server = new GraftHttpServer(spark, events, reports).start()
      new HttpClient1(server.port).post(url(pool.head), pool.head.body)
    }
    try {
      spark.read.parquet(store).createOrReplaceTempView("ev")
      val fp = Gen.fingerprint(spark.table("ev").drop("event_date"))
      val sample = Gen.checkSample(pool, ChecksPerClass)
      val checks = sample.map(r => r.id -> Checks.analytics(spark, r,
        p => Gen.reportQuery(seed, p, days))).toMap
      val kept = new Kept(checks.keySet)
      ctx.mark("t_checks_done_s")
      val passFails = checkPass(ctx, sample, checks, r =>
        new HttpClient1(server.port).post(url(r), r.body))
      val info = Seq("input_events" -> Gen.Interactive.events.toString,
        "input_days" -> days.toString, "input_fingerprint" -> Main.jstr(fp),
        "request_fingerprint" -> Main.jstr(Gen.sequenceFingerprint(order.take(1000).map(pool))),
        "generate_s" -> Main.jnum(genS), "checked_requests" -> checks.size.toString)
      val call: Req => String = r => ctx.exec.analytics(r, events, reports)
      if (!ctx.args.trace) {
        val samples = ctx.window(Load.closedLoop(Main.Clients, ctx.args.seconds, order, pool,
          http(server.port), kept.keep))
        Result(samples.size + sample.size, passFails ++ failures(samples, kept, checks, id => pool(id).cls),
          latency(samples, setupS),
          info ++ Seq("samples" -> samples.size.toString, "by_class" -> classCounts(samples),
            "checked_responses" -> kept.count.toString, tailInfo(samples)))
      } else {
        val (m, all, _) = tracedPhases(ctx, server.port, order, pool, call)
        Result(all.size + sample.size, passFails ++ all.filter(_.status != 200)
          .map(s => s"${s.cls}: ${s.error.getOrElse(s.status.toString)}"),
          PerLayer.complete(m), info ++ Seq("samples" -> all.size.toString))
      }
    } finally server.stop()
  }

  // ---------------- ingest ----------------

  def ingest(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val (seed, days) = (ctx.args.seed, Gen.Interactive.days)
    val store = ctx.work("store")
    val base = Gen.Interactive.events
    val (_, genS) = ctx.timed(org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(eventsStore(ctx)), new java.io.File(store)))
    // raw batches are generated up front and held in memory, so
    // the timed window sees only the program's own work
    val (rawSchema, batchRows) = {
      val all = Gen.trackBatches(spark, seed, Batches, BatchEvents, base, days)
      val schema = all.drop("batch").schema
      val byBatch = all.collect().groupBy(r => r.getInt(r.fieldIndex("batch")))
      val keep = schema.fieldNames.map(all.schema.fieldIndex)
      (schema, (0 until Batches).map(i => byBatch.getOrElse(i, Array.empty[Row]).map(r =>
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(keep.map(r.get), schema): Row)))
    }
    val rawBytes: Seq[Long] = batchRows.map(_.map(_.json.length.toLong).sum)
    val baseBytes = spark.read.parquet(store).drop("event_date")
      .select(sum(length(to_json(struct(col("*")))))).first().getLong(0)
    val geo = Gen.geoRanges(spark).cache()
    val pool = Gen.interactivePool(seed, PoolSize, days)
    val order = Gen.sequence(pool, Gen.InteractiveMix, 100000)
    var reports: Reports = null
    var identities = Vector.empty[(String, Long)]
    // a fresh listing per request (the HTTP server binds one frame at
    // construction and would never see appended files), through the
    // store's manifest-consistent read: a plain directory listing races
    // compaction's deletes (FILE_NOT_EXIST in 7 of 10 seeds). Retained
    // generations keep a listed snapshot's files on disk while it reads.
    val compactOpts = Compact.Options(retainGenerations = 2)
    def storeFrame() = ctx.tracer.span("sources.listing")(
      Compact.readPartitionedPruned(spark, store, Nil, compactOpts))
    // saved reports cover only days the writer never touches, so their
    // answers can be checked while it appends
    def reportQuery(p: Long) = Gen.reportQuery(seed, p, days - IngestDays)
    val setupS = setupSeconds(ctx) { _ =>
      reports = new Reports
      (1 to Gen.Projects).foreach(p => reports.create(p, s"daily-$p", "eventSegmentation",
        reportQuery(p), 0L))
      identities = storeFrame().select("user_id").distinct().as[Long].collect()
        .map(u => s"u$u" -> u).toVector
      geo.count()
      ctx.exec.analytics(pool.head, storeFrame(), reports)
    }
    spark.read.parquet(store).createOrReplaceTempView("ev")
    val fp = Gen.fingerprint(spark.table("ev").drop("event_date"))
    // readers are checked on days the writer never touches; property
    // values (over all days) must keep every value of the base store
    val lastIngestFree = Gen.StartDay.plusDays((days - IngestDays - 1).toLong).toString
    val toDay = "\"to\": \"(\\d{4}-\\d{2}-\\d{2})T".r
    val checkable = pool.filter(r =>
      toDay.findAllMatchIn(r.body).map(_.group(1)).forall(_ <= lastIngestFree))
    val sample = Gen.checkSample(checkable, ChecksPerClass)
    val checks = sample.map(r => r.id -> Checks.analytics(spark, r, reportQuery, growing = true)).toMap
    val kept = new Kept(checks.keySet)
    ctx.mark("t_checks_done_s")
    // a class with no checkable request still runs once before the window, to warm
    val passed = sample ++ pool.filter(r => !checks.keySet.exists(pool(_).cls == r.cls))
      .groupBy(_.cls).values.map(_.head)
    val passFails = checkPass(ctx, passed, checks.withDefaultValue(_ => None),
      r => (200, ctx.exec.analytics(r, storeFrame(), reports)))

    // the writer: resolve+enrich, append, compact every few batches
    val commits = new ConcurrentLinkedQueue[(Long, Long)]()   // (events, commit ns)
    val compactions = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (start, end, bytes rewritten)
    val writerFailures = new ConcurrentLinkedQueue[String]()
    val resolveNs, appendNs, appendedBytes, userBytes = new java.util.concurrent.atomic.AtomicLong(0)
    def storeBytes(): Long = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      try files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally files.close()
    }
    def liveFiles(): Long = storeFrame().inputFiles.length.toLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var batches = 0
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get() && i < batchRows.size) {
        val t0 = System.nanoTime()
        try SparkCounters.tagged(spark, s"W:$i")(ctx.tracer.request(s"W:$i", "ingest.batch") {
          val raw = spark.createDataFrame(batchRows(i).toSeq.asJava, rawSchema)
          val existing = identities.toDF("user_key", "id")
          val (rows, newIds, enriched, release) = ctx.tracer.span("ingest.resolve_enrich") {
            val (out, release) = Ingest.executeTrackBatchCached(raw, existing, geo)
            val extra = out.columns.filterNot((rawSchema.fieldNames :+ "resolved_user_id").contains)
            val enriched = out.select(col("event_id"), col("ts"), col("resolved_user_id").as("user_id"),
              col("event_type"), col("value"),
              to_json(struct((col("props").as("props") +: extra.map(col)): _*)).as("props"),
              col("project_id"), col("user_key")).persist()
            val rows = enriched.count()
            val newIds = enriched.filter(!col("user_key").startsWith("u"))
              .select(col("user_key"), col("user_id")).distinct().as[(String, Long)].collect()
            (rows, newIds, enriched, release)
          }
          val bytes0 = storeBytes()
          val r0 = System.nanoTime()
          ctx.tracer.span("sources.append")(Store.appendEvents(enriched.drop("user_key"), store))
          appendNs.addAndGet(System.nanoTime() - r0)
          resolveNs.addAndGet(r0 - t0)
          appendedBytes.addAndGet(storeBytes() - bytes0)
          userBytes.addAndGet(rawBytes(i))
          identities ++= newIds
          enriched.unpersist(); release()
          commits.add((rows, System.nanoTime() - t0))
          if ((i + 1) % CompactEvery == 0 && !stop.get()) {
            val c0 = System.nanoTime()
            val rep = ctx.tracer.span("sources.compact")(Compact.runPartitioned(spark, store, compactOpts))
            compactions.add((c0, System.nanoTime(), rep.values.filter(_.merges > 0).map(_.bytesBefore).sum))
          }
        }) catch {
          case scala.util.control.NonFatal(e) =>
            writerFailures.add(s"ingest: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        i += 1
      }
      batches = i
    }, "perfbench-writer")

    val readers = 2
    val readerScans = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val gc0 = SparkCounters.gcMs()
    val (samples, windowS) = ctx.window(ctx.timed {
      writer.start()
      val s = Load.closedLoop(readers, ctx.args.seconds, order, pool,
        direct(ctx, "R") { r =>
          val out = ctx.exec.analytics(r, storeFrame(), reports)
          if (ctx.args.trace) readerScans.add(ctx.exec.scanOfLast)
          out
        }, kept.keep)
      stop.set(true)
      ctx.mark("t_readers_done_s")
      writer.join()
      ctx.mark("t_writer_done_s")
      s
    })

    val gcMs = SparkCounters.gcMs() - gc0
    // end-of-run store checks: every committed event present once
    val committed = commits.asScala.map(_._1).sum
    val finalFrame = storeFrame()
    val (rows, distinctIds) = {
      val r = finalFrame.agg(count(lit(1)), countDistinct(col("event_id"))).first()
      (r.getLong(0), r.getLong(1))
    }
    val storeChecks = Seq(
      if (rows != base + committed) Some(s"ingest: store holds $rows rows, want ${base + committed}") else None,
      if (distinctIds != rows) Some(s"ingest: ${rows - distinctIds} duplicate event_id after compaction") else None
    ).flatten
    val commitMs = commits.asScala.map(_._2 / 1e6).toSeq
    val ingestS = windowS
    val stall = {
      val cs = compactions.asScala.toSeq
      val (during, outside) = samples.partition(s => cs.exists { case (a, b, _) =>
        s.startNs < b && s.startNs + s.latNs > a })
      if (during.isEmpty || outside.isEmpty) 0.0
      else Stats.median(during.map(_.latNs / 1e6)) - Stats.median(outside.map(_.latNs / 1e6))
    }
    val nb = math.max(1, commits.size).toDouble
    val outcome = Map(
      "ingest.events_per_s" -> committed / ingestS,
      "ingest.commit_p50_ms" -> (if (commitMs.isEmpty) 0.0 else Stats.percentile(commitMs, 0.5)),
      "ingest.commit_p90_ms" -> (if (commitMs.isEmpty) 0.0 else Stats.percentile(commitMs, 0.9)),
      "sources.space_amp" -> storeBytes().toDouble / (baseBytes + userBytes.get))
    val fails = passFails ++ failures(samples, kept, checks, id => pool(id).cls) ++
      writerFailures.asScala ++ storeChecks
    val info = Seq("input_events" -> base.toString, "input_days" -> days.toString,
      "input_fingerprint" -> Main.jstr(fp), "generate_s" -> Main.jnum(genS),
      "batches" -> commits.size.toString, "batch_events" -> BatchEvents.toString,
      "compactions" -> compactions.size.toString, "samples" -> samples.size.toString,
      "checked_requests" -> checks.size.toString, "checked_responses" -> kept.count.toString,
      "by_class" -> classCounts(samples), tailInfo(samples)) ++
      outcome.toSeq.sortBy(_._1).map { case (k, v) => k -> Main.jnum(v) }
    if (!ctx.args.trace)
      Result(samples.size + batches + passed.size, fails, latency(samples, setupS), info)
    else {
      // tracing overhead: the sequence's first requests replayed at one
      // client on the now quiescent store, untraced (C) and traced (O)
      val serve: Req => String = r => ctx.exec.analytics(r, storeFrame(), reports)
      val (plain, tracedCall) = (untraced(ctx, direct(ctx, "C")(serve))(0)._1, direct(ctx, "O")(serve)(0)._1)
      def ms(call: Req => (Int, String), r: Req): Double = ctx.timed(call(r))._2 * 1e3
      // each pair runs in alternating order, so neither side always goes first
      val (untracedMs, tracedMs) = order.take(OverheadPairs).map(pool).zipWithIndex.map {
        case (r, i) if i % 2 == 0 => val u = ms(plain, r); (u, ms(tracedCall, r))
        case (r, _)               => val t = ms(tracedCall, r); (ms(plain, r), t)
      }.unzip
      val m = layerMetrics(ctx, "R", samples.size, gcMs, readerScans.asScala.toSeq) ++ outcome ++ Map(
        "trace.overhead_ms" -> Stats.pairedDifference(untracedMs, tracedMs),
        "ingest.resolve_enrich_ms_per_batch" -> resolveNs.get / 1e6 / nb,
        "sources.append_ms_per_batch" -> appendNs.get / 1e6 / nb,
        "sources.bytes_written_per_user_byte" ->
          (if (userBytes.get == 0) 0.0 else appendedBytes.get.toDouble / userBytes.get),
        "sources.compact_ms" -> (if (compactions.isEmpty) 0.0
          else Stats.mean(compactions.asScala.map(c => (c._2 - c._1) / 1e6).toSeq)),
        "sources.compact_bytes_rewritten" -> compactions.asScala.map(_._3).sum.toDouble,
        "sources.compact_stall_ms" -> stall,
        "sources.files_in_store" -> liveFiles().toDouble)
      Result(samples.size + batches + passed.size, fails, PerLayer.complete(m),
        info :+ ("overhead_pairs" -> tracedMs.size.toString))
    }
  }

  // ---------------- search ----------------

  def search(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val spec = Gen.Corpus
    val (corpus, genS) = ctx.timed(cached(ctx, s"corpus-v3-$seed") { dir =>
      Gen.documents(spark, seed, spec.docs).write.parquet(s"$dir/documents")
      Gen.embeddings(spark, seed, spec.vectors, spec.dims).write.parquet(s"$dir/embeddings")
    })
    val pool = Gen.searchPool(seed, PoolSize, spec.vectors)
    val order = Gen.sequence(pool, Gen.SearchMix, 100000)
    var server: GraftHttpServer = null
    val docs = spark.read.parquet(s"$corpus/documents")
    val emb = spark.read.parquet(s"$corpus/embeddings")
    import graft.pipeline.{Similarity, TextAnalysis}
    // every repeat builds its own indexes (BM25 text, IVF, and the
    // maxsim token index over the first documents, as the repository's
    // own sf0.1 maxsim queries build it) and starts a server on them;
    // setup_s takes the median repeat. The builds are independent and
    // run concurrently, so a repeat takes its longest build.
    val maxsimDocs = docs.filter(col("doc_id") < Gen.MaxsimDocs)
    var indexes = Map.empty[String, String]
    val setupS = setupSeconds(ctx) { i =>
      if (server != null) server.stop()
      val root = ctx.work(s"indexes-$i")
      indexes = Map("text" -> s"$root/text", "ivf" -> s"$root/ivf", "maxsim" -> s"$root/maxsim")
      val builds = Seq(
        () => TextAnalysis.buildTextIndex(docs, "doc_id", "text", indexes("text")),
        () => Similarity.buildIndexJoined(emb, "vec_id", "embedding",
          Similarity.syntheticCodebook(spark, nCells = Gen.IvfCells, dims = spec.dims), indexes("ivf")),
        () => Similarity.buildIndexJoined(
          graft.engine.JsonApi.maxsimTokenInstances(maxsimDocs, "doc_id", "text", Gen.MaxsimDims),
          "tok_id", "d_vec", Similarity.syntheticCodebook(spark, nCells = Gen.MaxsimCells, dims = Gen.MaxsimDims),
          indexes("maxsim"), payload = Seq("doc_id")))
      val buildS = parallel(builds, builds.size)(b => ctx.timed(b())._2)
      val (_, serveS) = ctx.timed {
        server = new GraftHttpServer(spark, spark.emptyDataFrame, documents = Some(docs),
          embeddings = Some(emb), indexes = indexes).start()
        new HttpClient1(server.port).post(url(pool.head), pool.head.body)
      }
      // text index, IVF index, maxsim index (concurrent), then server and first request
      ctx.note(s"setup_rep${i}_parts_s", buildS :+ serveS: _*)
    }
    try {
      val fp = Gen.fingerprint(docs) + "/" + Gen.fingerprint(emb.select(col("vec_id"),
        to_json(col("embedding")).as("e"), col("label")))
      // expected answers: the scan route's ranking, called directly.
      // An exact route must return it; an approximate route's first
      // answer gives recall, and every later answer must repeat it
      val sample = Gen.checkSample(pool, ChecksPerClass)
      val approx = Set("semantic_indexed", "maxsim_indexed")
      // (the maxsim index holds the first MaxsimDocs documents, so its
      // exact twin ranks those)
      val want = parallel(sample)(r => r.id -> Checks.rankedIds(ctx.exec.search(r.copy(body = Gen.searchExact(r)),
        if (r.cls == "maxsim_indexed") maxsimDocs else docs, emb, indexes))).toMap
      val firstIds = new ConcurrentHashMap[Int, Seq[String]]()
      val checks: Map[Int, Checks.Check] = sample.map { r =>
        r.id -> ((body: String) =>
          try {
            val got = Checks.rankedIds(body)
            if (!approx.contains(r.cls)) Checks.sameList(got, want(r.id), "ranked ids")
            else Checks.sameList(got, firstIds.computeIfAbsent(r.id, _ => got), "approximate ranked ids")
          } catch { case scala.util.control.NonFatal(e) => Some(s"unparseable response: ${e.getMessage}") })
      }.toMap
      val kept = new Kept(checks.keySet)
      ctx.mark("t_checks_done_s")
      // the pass goes through the direct path, `Main.Clients` at a time:
      // the server dispatches one request at a time, and its own path
      // is warm from set-up
      val passFails = checkPass(ctx, sample, checks, r => (200, ctx.exec.search(r, docs, emb, indexes)))
      val recall = Stats.mean(sample.filter(r => approx.contains(r.cls)).flatMap(r =>
        Option(firstIds.get(r.id)).map(Checks.recallAt10(_, want(r.id)))))
      val info = Seq("input_docs" -> spec.docs.toString, "input_vectors" -> spec.vectors.toString,
        "input_dims" -> spec.dims.toString, "input_fingerprint" -> Main.jstr(fp),
        "generate_s" -> Main.jnum(genS), "checked_requests" -> checks.size.toString)
      val call: Req => String = r => ctx.exec.search(r, docs, emb, indexes)
      if (!ctx.args.trace) {
        val samples = ctx.window(Load.closedLoop(Main.Clients, ctx.args.seconds, order, pool,
          http(server.port), kept.keep))
        val fails = passFails ++ failures(samples, kept, checks, id => pool(id).cls)
        Result(samples.size + sample.size, fails, latency(samples, setupS),
          info ++ Seq("samples" -> samples.size.toString, "by_class" -> classCounts(samples),
            "checked_responses" -> kept.count.toString, "recall_at_10" -> Main.jnum(recall),
            tailInfo(samples)))
      } else {
        val (m, all, d) = tracedPhases(ctx, server.port, order, pool, call)
        val spans = ctx.tracer.spans.filter(_.req.startsWith("D:"))
        val self = Spans.selfTimes(spans)
        val routeOf = spans.filter(_.parent == -1).map(s => s.id -> s.name).toMap
        val perRoute = Gen.SearchMix.map(_._1).map { route =>
          val roots = routeOf.filter(_._2 == route).keySet
          val work = spans.filter(s => roots.contains(s.parent) &&
            Set(Exec.SearchBuild, Exec.Plan, Exec.SearchExec).contains(s.name)).map(s => self(s.id)).sum
          s"pipeline.exec_ms.$route" -> (if (roots.isEmpty) 0.0 else work / 1e6 / roots.size)
        }
        val pm = m ++ perRoute ++ Map(
          "pipeline.jobs_per_search" -> m("spark.jobs_per_req"),
          "search.recall_at_10" -> recall)
        Result(all.size + sample.size, passFails ++ all.filter(_.status != 200)
          .map(s => s"${s.cls}: ${s.error.getOrElse(s.status.toString)}"),
          PerLayer.complete(pm), info ++ Seq("samples" -> all.size.toString, "traced_samples" -> d.size.toString))
      }
    } finally server.stop()
  }
}

/** Every per-layer metric a traced run reports, with its unit. A
  * metric that does not apply to a workload reads 0. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "serve.wait_ms" -> "ms", "serve.overhead_ms" -> "ms",
    "model.parse_ms" -> "ms", "engine.build_ms" -> "ms", "plans.plan_ms" -> "ms",
    "engine.exec_ms" -> "ms", "engine.serialize_ms" -> "ms",
    "spark.jobs_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.sched_delay_ms_per_req" -> "ms", "spark.task_cpu_ms_per_req" -> "ms",
    "spark.task_run_ms_per_req" -> "ms", "spark.shuffle_bytes_per_req" -> "bytes",
    "spark.spill_bytes_per_req" -> "bytes", "jvm.gc_ms_per_req" -> "ms",
    "scan.files_read_per_req" -> "count", "scan.bytes_read_per_req" -> "bytes",
    "scan.rows_read_per_row_returned" -> "ratio",
    "ingest.resolve_enrich_ms_per_batch" -> "ms", "ingest.events_per_s" -> "1/s",
    "ingest.commit_p50_ms" -> "ms", "ingest.commit_p90_ms" -> "ms",
    "sources.append_ms_per_batch" -> "ms", "sources.bytes_written_per_user_byte" -> "ratio",
    "sources.space_amp" -> "ratio", "sources.compact_ms" -> "ms",
    "sources.compact_bytes_rewritten" -> "bytes", "sources.compact_stall_ms" -> "ms",
    "sources.files_in_store" -> "count", "sources.listing_ms" -> "ms") ++
    Gen.SearchMix.map(r => s"pipeline.exec_ms.${r._1}" -> "ms") ++ Seq(
    "pipeline.jobs_per_search" -> "count", "search.recall_at_10" -> "ratio",
    "trace.overhead_ms" -> "ms")

  def complete(m: Map[String, Double]): Seq[Metric] =
    all.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
}
