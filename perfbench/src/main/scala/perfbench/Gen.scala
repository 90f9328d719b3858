package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every input a run sends to the program is
  * derived from the run's seed here: the events store, the request
  * sequences, the raw track batches and the search corpus. Data is
  * generated by Spark from `xxhash64(id, seed, stream)` columns, so the
  * same seed yields the same rows whatever the partitioning. */
object Gen {

  /** One request the clients send: `path` is the HTTP route under
    * `/api/v1/projects/<pid>/`, `cls` the request class the mix draws,
    * `body` the JSON body (it pins its own `projectId`, so the direct
    * and HTTP paths see the same body). */
  final case class Req(id: Int, cls: String, pid: Long, path: String, body: String)

  val Projects = 8
  /** Zipf(1) tenant weights: project 1 holds ~37% of the events. */
  val projectWeights: Vector[Double] = {
    val raw = (1 to Projects).map(p => 1.0 / p)
    raw.map(_ / raw.sum).toVector
  }
  val EventTypes = Vector("view", "click", "search", "add_to_cart", "purchase", "signup")
  val eventWeights = Vector(0.40, 0.25, 0.15, 0.10, 0.06, 0.04)
  val StartDay = java.time.LocalDate.of(2024, 1, 1)
  val UsersPerProjectBase = 20000

  final case class StoreSpec(events: Long, days: Int)
  val Interactive = StoreSpec(events = 100000L, days = 14)

  /** Uniform [0, 1) from a seeded hash stream. */
  private def unit(seed: Long, stream: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(stream)), lit(1L << 30)).cast("double") / (1L << 30)

  private def cdfPick[A](u: Column, weights: Seq[Double], values: Seq[A]): Column = {
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val branches = cum.zip(values).init
    branches.foldRight(lit(values.last): Column) { case ((c, v), acc) =>
      when(u < c, lit(v)).otherwise(acc)
    }
  }

  /** Users of project p occupy ids [p·1e6, p·1e6 + users(p)). */
  def usersIn(p: Int): Long = math.max(200L, (UsersPerProjectBase * projectWeights(p - 1)).toLong)

  /** The events frame: the testdata schema (event_id, ts, user_id,
    * event_type, value, props) plus project_id, tenants skewed by
    * [[projectWeights]]. `idOffset` shifts event ids so appended
    * batches never collide with the base store. */
  def events(spark: SparkSession, seed: Long, n: Long, days: Int,
             idOffset: Long = 0L, dayOffset: Int = 0): DataFrame = {
    val micros = days.toLong * 86400L * 1000000L
    val start = (StartDay.toEpochDay + dayOffset) * 86400L * 1000000L
    val pid = cdfPick(unit(seed, 1), projectWeights, (1 to Projects).map(_.toLong))
    val users = (1 to Projects).foldRight(lit(usersIn(Projects)): Column) { (p, acc) =>
      when(col("project_id") === p, lit(usersIn(p))).otherwise(acc)
    }
    spark.range(idOffset, idOffset + n)
      .withColumn("project_id", pid)
      .withColumn("user_id", col("project_id") * 1000000L +
        pmod(xxhash64(col("id"), lit(seed), lit(2)), users))
      .withColumn("ts", timestamp_micros(lit(start) +
        pmod(xxhash64(col("id"), lit(seed), lit(3)), lit(micros))))
      .withColumn("event_type", cdfPick(unit(seed, 4), eventWeights, EventTypes))
      .withColumn("value", floor(unit(seed, 5) * 50000) / 100.0)
      .withColumn("props", concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(seed), lit(6)), lit(100L)).cast("string"), lit("}")))
      .select(col("id").as("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("project_id"))
  }

  /** Order-insensitive content fingerprint of a frame: row count plus
    * the sum of per-row hashes. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .first()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  // ---------------- request mixes ----------------

  private def pick[A](rng: scala.util.Random, weights: Seq[Double], values: Seq[A]): A = {
    val u = rng.nextDouble()
    val i = weights.scanLeft(0.0)(_ + _).tail.indexWhere(u < _)
    values(if (i < 0) values.size - 1 else i)
  }

  private def day(d: Int): String = StartDay.plusDays(d.toLong).toString

  /** `{"type":"between"}` over whole days [d0, d0+len). */
  def timeRange(d0: Int, len: Int): String =
    s"""{"type": "between", "from": "${day(d0)}T00:00:00Z", "to": "${day(d0 + len - 1)}T23:59:59Z"}"""

  /** Two random streams: `shape` draws what sets a request's cost
    * (class, tenant, range length, breakdowns, filter count and kind,
    * funnel chain) and is the same for every seed; `value` draws the
    * rest (start day, event name, filter constants, terms) from the
    * seed. Seeds then change what is asked and of which data, not how
    * heavy the run is. */
  final class Draws(val shape: scala.util.Random, val value: scala.util.Random)

  def draws(seed: Long, stream: Long): Draws =
    new Draws(new scala.util.Random(stream), new scala.util.Random(seed * 1000003L ^ stream))

  final case class Interval(d0: Int, len: Int)

  def interval(d: Draws, days: Int, maxLen: Int): Interval = {
    val len = 1 + d.shape.nextInt(math.min(days, maxLen))
    Interval(d.value.nextInt(days - len + 1), len)
  }

  private def propFilter(d: Draws): String = d.shape.nextInt(3) match {
    case 0 => s"""{"type": "property", "propertyType": "event", "propertyName": "value", "operation": "gt", "value": [${d.value.nextInt(400)}]}"""
    case 1 => s"""{"type": "property", "propertyType": "event", "propertyName": "value", "operation": "lt", "value": [${100 + d.value.nextInt(400)}]}"""
    case _ => s"""{"type": "property", "propertyType": "event", "propertyName": "props", "operation": "eq", "value": ["{\\"k\\": ${d.value.nextInt(100)}}"]}"""
  }

  private def filters(d: Draws): Seq[String] =
    Seq.fill(d.shape.nextInt(3))(propFilter(d))

  private val breakdownCols = Vector("event_type", "props")

  def esBody(d: Draws, pid: Long, days: Int, breakdowns: Boolean = true): String = {
    val iv = interval(d, days, days)
    val event = EventTypes(d.value.nextInt(3))
    val query = d.shape.nextInt(3) match {
      case 0 => """{"type": "countEvents", "name": "cnt"}"""
      case 1 => """{"type": "countUniqueGroups", "name": "uniq"}"""
      case _ => """{"type": "aggregateProperty", "propertyType": "event", "propertyName": "value", "aggregate": "sum", "name": "total"}"""
    }
    val bds = d.shape.shuffle(breakdownCols).take(if (breakdowns) d.shape.nextInt(3) else 0)
      .map(c => s"""{"type": "property", "propertyType": "event", "propertyName": "$c"}""")
    val fs = filters(d)
    s"""{"time": ${timeRange(iv.d0, iv.len)}, "group": 0, "intervalUnit": "day", """ +
      s""""events": [{"eventType": "regular", "eventName": "$event", "filters": [${fs.mkString(", ")}], "queries": [$query]}], """ +
      s""""breakdowns": [${bds.mkString(", ")}], "projectId": $pid}"""
  }

  def funnelBody(d: Draws, pid: Long, days: Int): String = {
    val steps = 2 + d.shape.nextInt(2)
    val iv = interval(d, days, days)
    val seqs = Vector(Vector("view", "click", "add_to_cart", "purchase", "signup"),
      Vector("search", "view", "add_to_cart", "purchase", "click"))
    val chain = seqs(d.shape.nextInt(seqs.size)).take(steps)
    val stepJson = chain.map(e =>
      s"""{"events": [{"eventType": "regular", "eventName": "$e"}], "order": {"type": "exact"}}""")
    val bd = if (d.shape.nextInt(3) == 0)
      """, "breakdowns": [{"type": "property", "propertyType": "event", "propertyName": "props"}]""" else ""
    s"""{"time": ${timeRange(iv.d0, iv.len)}, "group": 0, "steps": [${stepJson.mkString(", ")}], """ +
      s""""timeWindow": {"n": ${1 + d.value.nextInt(3)}, "unit": "day"}, "chartType": "line", "count": "unique", """ +
      s""""touch": {"type": "first"}$bd, "projectId": $pid}"""
  }

  def recordsBody(d: Draws, pid: Long, days: Int): String = {
    val iv = interval(d, days, 7)
    val e = EventTypes(d.value.nextInt(EventTypes.size))
    s"""{"time": ${timeRange(iv.d0, iv.len)}, "events": [{"eventType": "regular", "eventName": "$e"}], """ +
      s""""filters": [${filters(d).mkString(", ")}], "limit": 100, "projectId": $pid}"""
  }

  def valuesBody(d: Draws, pid: Long): String = {
    val e = EventTypes(d.value.nextInt(EventTypes.size))
    s"""{"propertyType": "event", "propertyName": "props", "eventType": "regular", "eventName": "$e", "limit": 1000, "projectId": $pid}"""
  }

  def groupsBody(d: Draws, pid: Long, days: Int): String = {
    val iv = interval(d, days, 7)
    s"""{"group": 0, "time": ${timeRange(iv.d0, iv.len)}, "properties": [{"propertyType": "event", "propertyName": "event_type"}], "limit": 100, "projectId": $pid}"""
  }

  /** The saved reports the `report` class runs: one event-segmentation
    * report per project, created in the server's report registry at
    * set-up. Report ids are assigned by the registry in creation
    * order, so project p's report has id p. The presentation pivots
    * buckets into columns, so reports carry no breakdowns. */
  def reportQuery(seed: Long, pid: Long, days: Int): String =
    esBody(draws(seed, 0x7e90L + pid), pid, days, breakdowns = false)

  val InteractiveMix: Seq[(String, Double)] = Seq(
    "es" -> 0.45, "funnel" -> 0.20, "records" -> 0.15,
    "values" -> 0.10, "groups" -> 0.05, "report" -> 0.05)

  val routeOf: Map[String, String] = Map(
    "es" -> "queries/event-segmentation", "funnel" -> "queries/funnel",
    "records" -> "event-records/search", "values" -> "properties/values",
    "groups" -> "group-records/search", "search" -> "queries/search")

  /** Exactly `round(weight·n)` of each class, in `rng`'s order. */
  def classes(rng: scala.util.Random, mix: Seq[(String, Double)], n: Int): Vector[String] = {
    val counts = mix.map { case (c, w) => c -> math.round(w * n).toInt }
    rng.shuffle(counts.flatMap { case (c, k) => Seq.fill(k)(c) }.toVector)
  }

  /** The distinct-request pool of the interactive mix, tenants drawn by
    * [[projectWeights]]. */
  def interactivePool(seed: Long, n: Int, days: Int): Vector[Req] = {
    val d = draws(seed, 0x5eed1L)
    classes(d.shape, InteractiveMix, n).zipWithIndex.map { case (cls, i) =>
      val pid = pick(d.shape, projectWeights, (1 to Projects).map(_.toLong))
      cls match {
        case "es"      => Req(i, cls, pid, routeOf(cls), esBody(d, pid, days))
        case "funnel"  => Req(i, cls, pid, routeOf(cls), funnelBody(d, pid, days))
        case "records" => Req(i, cls, pid, routeOf(cls), recordsBody(d, pid, days))
        case "values"  => Req(i, cls, pid, routeOf(cls), valuesBody(d, pid))
        case "groups"  => Req(i, cls, pid, routeOf(cls), groupsBody(d, pid, days))
        case _         => Req(i, "report", pid, s"reports/$pid/run", "")
      }
    }
  }

  /** The smallest block holding every class a whole number of times. */
  def blockOf(mix: Seq[(String, Double)]): Int =
    (1 to 100).find(b => mix.forall { case (_, w) => math.abs(w * b - math.round(w * b)) < 1e-9 })
      .getOrElse(100)

  /** The order in which clients draw from the pool: blocks of
    * [[blockOf]] requests, each holding `round(weight·block)` requests
    * of every class (the class's pool entries taken in turn) — so even
    * a short run sends the mix's proportions. The order is part of the
    * workload's shape, the same for every seed; the pool's bodies
    * carry the seed. */
  def sequence(pool: Vector[Req], mix: Seq[(String, Double)], length: Int): Vector[Int] = {
    val block = blockOf(mix)
    val rng = new scala.util.Random(0x5e9L)
    val byClass = pool.groupBy(_.cls).map { case (c, rs) => c -> rs.map(_.id) }
    val next = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def take(c: String): Int = { val ids = byClass(c); val i = next(c); next(c) = i + 1; ids(i % ids.size) }
    val counts = mix.map { case (c, w) => c -> math.round(w * block).toInt }
    Iterator.continually(rng.shuffle(counts.flatMap { case (c, k) => Seq.fill(k)(c) }).map(take))
      .flatten.take(length).toVector
  }

  /** Requests whose answers the benchmark recomputes independently:
    * `perClass` of each class, the first ones the pool drew. */
  def checkSample(pool: Vector[Req], perClass: Int): Vector[Req] =
    pool.groupBy(_.cls).values.flatMap(_.take(perClass)).toVector.sortBy(_.id)

  /** SHA-256 over every body and route of a request sequence. */
  def sequenceFingerprint(reqs: Seq[Req]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    reqs.foreach { r =>
      md.update(s"${r.cls}|${r.pid}|${r.path}|${r.body}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------- ingest ----------------

  private val UserAgents = Vector(
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 Version/17.2 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 Chrome/120.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0")

  /** Raw track batches: (user_key, seq, ua, ip) plus the event payload
    * and the `batch` each row belongs to. Nine in ten events come from
    * users already in the store (`u<user_id>` keys); the rest are new
    * users unique to their batch. Events land on the store's last two
    * days, like a live feed. */
  def trackBatches(spark: SparkSession, seed: Long, batches: Int, perBatch: Long,
                   idOffset: Long, days: Int): DataFrame = {
    val base = events(spark, seed * 7919, batches * perBatch, days = 2, idOffset = idOffset,
      dayOffset = days - 2)
    val uas = UserAgents.map(lit)
    base
      .withColumn("id", col("event_id"))
      .withColumn("batch", ((col("event_id") - idOffset) / perBatch).cast("int"))
      .withColumn("user_key", when(unit(seed * 104729, 9) < 0.9, concat(lit("u"), col("user_id").cast("string")))
        .otherwise(concat(lit("n"), col("batch").cast("string"), lit("-"), (col("event_id") % 97).cast("string"))))
      .withColumn("seq", col("event_id"))
      .withColumn("ua", element_at(array(uas: _*),
        (pmod(xxhash64(col("id"), lit(seed), lit(10)), lit(UserAgents.size.toLong)) + 1).cast("int")))
      .withColumn("ip", (pmod(xxhash64(col("id"), lit(seed), lit(11)), lit(223L)) + 1) * 16777216L +
        pmod(xxhash64(col("id"), lit(seed), lit(12)), lit(16777216L)))
      .drop("id", "user_id")
  }

  /** GeoIP ranges over the /8 blocks: (start, end, country, city). */
  def geoRanges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val countries = Vector("US" -> "Austin", "DE" -> "Berlin", "JP" -> "Tokyo",
      "BR" -> "Recife", "IN" -> "Pune")
    (1 to 223).map { a =>
      val (c, city) = countries(a % countries.size)
      (a.toLong << 24, ((a.toLong + 1) << 24) - 1, c, city)
    }.toDF("start", "end", "country", "city")
  }

  // ---------------- search ----------------

  /** The 30 words of the sf0.1 `documents` corpus. There every word
    * is about equally frequent (8 829–9 182 occurrences each); queries
    * draw their terms Zipf-like ([[termWeights]]). */
  val Vocabulary: Vector[String] = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  /** Zipf(1) query-term weights over a seed's vocabulary order. */
  val termWeights: Vector[Double] = {
    val raw = Vocabulary.indices.map(i => 1.0 / (i + 1))
    raw.map(_ / raw.sum).toVector
  }

  /** Sizes measured on the sf0.1 `documents` and `embeddings`: 5 000
    * documents of 10–100 words (uniform, mean 54), 20 sources of 250
    * documents, 2 000 unit vectors of 64 dimensions with no cluster
    * structure (mean pairwise cosine 0.004) and 10 uniform labels. */
  final case class CorpusSpec(docs: Int, vectors: Int, dims: Int)
  val Corpus = CorpusSpec(docs = 5000, vectors = 2000, dims = 64)
  val Sources = 20
  val Labels = 10

  /** The vocabulary in the seed's order: query term rank r (rank 0 the
    * most frequent) is `vocabulary(seed)(r)`, so every seed has the same
    * query-term shape over different words. */
  def vocabulary(seed: Long): Vector[String] = new scala.util.Random(seed ^ 0x70cL).shuffle(Vocabulary)

  /** documents (doc_id, text, lang, source, n_chars): uniform words,
    * lengths from the seed-independent stream, languages in sf0.1's
    * shares (en 41%, de/fr/es/zh 15% each). */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val d = draws(seed, 0xd0c5L)
    val langs = Vector("en", "de", "fr", "es", "zh")
    val langWeights = Vector(0.41, 0.1475, 0.1475, 0.1475, 0.1475)
    (0 until n).map { i =>
      val len = 10 + d.shape.nextInt(91)
      val text = Seq.fill(len)(Vocabulary(d.value.nextInt(Vocabulary.size))).mkString(" ")
      (i.toLong, text, pick(d.value, langWeights, langs), s"src${i % Sources}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** embeddings (vec_id, embedding, label): independent unit vectors,
    * as in sf0.1. */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dims: Int): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed ^ 0xe3bL)
    (0 until n).map { i =>
      val v = Array.fill(dims)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(Labels))
    }.toDF("vec_id", "embedding", "label")
  }

  /** Equal shares, so a block of five requests holds every route once
    * and even a short run sends the mix's proportions. */
  val SearchMix: Seq[(String, Double)] = Seq(
    "bm25_scan" -> 0.2, "bm25_indexed" -> 0.2, "hybrid" -> 0.2,
    "semantic_indexed" -> 0.2, "maxsim_indexed" -> 0.2)

  val MaxsimDims = 16
  /** The maxsim token index covers documents below this id, as the
    * repository's sf0.1 maxsim queries do. */
  val MaxsimDocs = 1500
  val IvfCells = 8
  val SemanticProbe = 3
  /** The token-index cell count the repository's sf0.1 maxsim queries use. */
  val MaxsimCells = 64

  /** The search pool. Bodies name indexes by registry id (`text`,
    * `ivf`, `maxsim`); `searchExact` gives each approximate body's
    * exact twin. */
  def searchPool(seed: Long, n: Int, vectors: Int): Vector[Req] = {
    val d = draws(seed, 0x5ea7c4L)
    val words = vocabulary(seed)
    classes(d.shape, SearchMix, n).zipWithIndex.map { case (cls, i) =>
      val pid = pick(d.shape, projectWeights, (1 to Projects).map(_.toLong))
      val terms = Seq.fill(1 + d.shape.nextInt(3))(pick(d.shape, termWeights, words)).distinct
        .map(t => "\"" + t + "\"").mkString("[", ", ", "]")
      val q = d.value.nextInt(vectors)
      val body = cls match {
        case "bm25_scan" => s"""{"terms": $terms, "topK": 10}"""
        case "bm25_indexed" => s"""{"terms": $terms, "topK": 10, "index": "text"}"""
        case "hybrid" =>
          s"""{"terms": $terms, "topK": 20, "semantic": {"queryId": $q, "k": 20, "nProbe": $IvfCells, "index": "ivf"}, "fuseTopK": 10}"""
        case "semantic_indexed" =>
          s"""{"semantic": {"queryId": $q, "k": 10, "nProbe": $SemanticProbe, "index": "ivf"}}"""
        case _ =>
          s"""{"terms": $terms, "topK": 10, "maxsim": {"dims": $MaxsimDims, "nProbe": 8, "candTok": 20}, "index": "maxsim"}"""
      }
      Req(i, cls, pid, routeOf("search"), body)
    }
  }

  /** The exact (scan-route) body a search body is checked against. */
  def searchExact(r: Req): String = r.cls match {
    case "bm25_indexed" => r.body.replace(""", "index": "text"""", "")
    case "hybrid" => r.body.replace(s""", "nProbe": $IvfCells, "index": "ivf"""", "")
    case "semantic_indexed" => r.body.replace(s""", "nProbe": $SemanticProbe, "index": "ivf"""", "")
    case "maxsim_indexed" => r.body.replace(""", "index": "maxsim"""", "")
    case _ => r.body
  }
}
