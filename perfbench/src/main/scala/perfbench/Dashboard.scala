package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ddl.DdlParser
import graft.engine.TsdbEngine
import graft.influx.InfluxQL
import graft.promql.{EvalParams, PromQL}
import graft.server.{GraftHttpServer, HttpApi}
import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `dashboard`: a closed loop of nproc - 1 clients on a fixed, seeded mix
  * of read queries over SQL, PromQL and InfluxQL, narrow (1 h) and wide
  * (the whole table) ranges, against two preloaded tables:
  *  - `cpu`, overwrite mode: a compacted base plus an uncompacted tail of
  *    overlapping re-sent batches, so every read runs dedup-on-read;
  *  - `mem`, append mode with a registered 5-minute rollup (`mem_rollup`),
  *    so dedup is bypassed and eligible aggregates can read the rollup.
  * No writes run. */
object Dashboard extends Workload {
  val name = "dashboard"
  private val mapper = new ObjectMapper()

  /** Plan metrics of one traced query. */
  final case class PlanSample(kind: String, scans: Seq[PlanStats.Scan], resultRows: Long)

  final class DashFx(val dir: Path, val env: Env, val engine: TsdbEngine,
      val server: GraftHttpServer, val gen: DashGen) extends Fixture {
    val port: Int = server.boundPort
    val responseBytes = new AtomicLong()
    val responses = new AtomicLong()
    val plans = new ConcurrentLinkedQueue[PlanSample]()
    def close(): Unit = server.stop()
  }
  type Fx = DashFx

  // ---------------------------------------------------------------- set-up

  private def createTables(e: TsdbEngine): Unit = {
    val opts = "enable_ttl='false'"
    e.execute("CREATE TABLE cpu (`time` timestamp NOT NULL, host string TAG, region string TAG, " +
      "usage double, timestamp KEY (`time`)) ENGINE=Analytic WITH " +
      s"(update_mode='overwrite', segment_duration='2h', $opts)")
    e.execute("CREATE TABLE mem (`time` timestamp NOT NULL, host string TAG, region string TAG, " +
      "alloc_total double, used double, timestamp KEY (`time`)) ENGINE=Analytic WITH " +
      s"(update_mode='append', segment_duration='2h', $opts)")
    e.execute("CREATE TABLE mem_rollup (bucket timestamp NOT NULL, host string TAG, " +
      "region string TAG, n bigint, sum_used double, min_used double, max_used double, " +
      s"timestamp KEY (bucket)) ENGINE=Analytic WITH (update_mode='append', $opts)")
  }

  /** The generator's series as a Spark frame: row id -> (series, step). */
  private def seriesFrame(env: Env, g: DashGen): (DataFrame, org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val df = env.spark.range(0, g.rows, 1, env.nproc).toDF()
    val s = (col("id") % g.hosts).cast("int")
    val k = expr(s"id div ${g.hosts}")
    (df, s, k)
  }
  private def pick(xs: Array[Double], s: org.apache.spark.sql.Column) =
    element_at(array(xs.toSeq.map(lit): _*), s + 1)
  private def tags(g: DashGen, s: org.apache.spark.sql.Column) = Seq(
    element_at(array((0 until g.hosts).map(i => lit(Gen.host(i))): _*), s + 1).as("host"),
    concat(lit("r"), (s % Gen.Regions).cast("string")).as("region"))

  def build(env: Env, dir: Path, small: Boolean): Fx = {
    val spark = env.spark
    import spark.implicits._
    val g =
      if (small) new DashGen(env.seed, hosts = 8, steps = 1080, resendBatches = 3)
      else new DashGen(env.seed, hosts = 12, steps = 8640, resendBatches = 6)
    val e = new TsdbEngine(spark, dir.resolve("wh").toString)
    createTables(e)
    val (df, s, k) = seriesFrame(env, g)
    val time = timestamp_millis(lit(Gen.T0Ms) + k * Gen.StepMs).as("time")
    e.append("cpu", df.select(Seq(time) ++ tags(g, s) :+
      (pick(g.base, s) + pick(g.slope, s) * k.cast("double")).as("usage"): _*))
    e.compact("cpu")
    g.resends.foreach { b =>
      e.append("cpu", b.map { case (si, ki, v) =>
        (new java.sql.Timestamp(g.msOf(ki)), Gen.host(si), Gen.region(si), v)
      }.toDF("time", "host", "region", "usage"))
    }
    e.append("mem", df.select(Seq(time) ++ tags(g, s) ++ Seq(
      (pick(g.c0, s) + pick(g.rate, s) * (k * 10).cast("double")).as("alloc_total"),
      (pick(g.g0, s) + (k % 90).cast("double") * 0.5).as("used")): _*))
    val grainUs = 300L * 1000000L
    e.append("mem_rollup", e.read("mem")
      .groupBy(col("host"), col("region"),
        timestamp_micros(floor(unix_micros(col("time")) / grainUs) * grainUs).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("used").as("sum_used"),
        min("used").as("min_used"), max("used").as("max_used")))
    e.registerRollup("mem_5m", "mem", "mem_rollup", 300, Seq("host", "region"), "bucket",
      countStarCol = Some("n"), sums = Map("used" -> "sum_used"),
      mins = Map("used" -> "min_used"), maxs = Map("used" -> "max_used"))
    new DashFx(dir, env, e, new GraftHttpServer(e, 0).start(), g)
  }

  // --------------------------------------------------------------- queries

  /** One query of the mix: its variant, the frontend that serves it, the
    * query text and (PromQL) the evaluation range. */
  final case class Query(
      kind: String, frontend: String, text: String, params: Seq[(String, String)] = Nil)

  val Variants: Seq[String] = Seq(
    "sql_range_narrow", "sql_range_wide", "sql_lookup", "promql_narrow", "promql_wide",
    "influxql_narrow", "influxql_wide", "rollup_narrow", "rollup_wide")

  private def secs(ms: Long): String = (ms / 1000).toString

  def query(g: DashGen, variant: String, rnd: scala.util.Random): Query = {
    val perHour = 360L
    val narrow = variant.endsWith("narrow") || variant == "sql_lookup"
    val (k1, k2) =
      if (narrow) { val h = rnd.nextInt(g.hours); (h * perHour, (h + 1) * perHour) }
      else (0L, g.steps.toLong)
    val where = s"`time` >= '${Gen.tsLit(g.msOf(k1))}' AND `time` < '${Gen.tsLit(g.msOf(k2))}'"
    variant match {
      case "sql_range_narrow" | "sql_range_wide" =>
        Query(variant, "sql", "SELECT host, count(*) AS n, sum(usage) AS s, max(usage) AS mx " +
          s"FROM cpu WHERE $where GROUP BY host")
      case "sql_lookup" =>
        val h = Gen.host(rnd.nextInt(g.hosts))
        Query(variant, "sql", s"SELECT `time`, usage FROM cpu WHERE host = '$h' AND $where " +
          "ORDER BY `time`")
      case "promql_narrow" | "promql_wide" =>
        // evaluation instants whose 5 m window lies inside the range
        val start = g.msOf(k1) + 600000L
        val step = if (narrow) 60000L else 900000L
        val end = start + (g.msOf(k2 - 1) - start) / step * step
        Query(variant, "promql", "sum by (region) (rate(mem[5m]))", Seq("start" -> secs(start), "end" -> secs(end), "step" -> secs(step)))
      case "influxql_narrow" | "influxql_wide" =>
        Query(variant, "influxql", s"SELECT mean(usage) FROM cpu WHERE " +
          s"time >= '${Gen.tsLit(g.msOf(k1))}' AND time < '${Gen.tsLit(g.msOf(k2))}' GROUP BY time(10m)")
      case "rollup_narrow" | "rollup_wide" =>
        Query(variant, "sql", "SELECT host, time_bucket(`time`, 'PT1H') AS b, count(*) AS n, " +
          "sum(used) AS s, min(used) AS mn, max(used) AS mx FROM mem WHERE " +
          s"$where GROUP BY host, time_bucket(`time`, 'PT1H')")
    }
  }

  private def param(q: Query, k: String): Long = q.params.find(_._1 == k).get._2.toLong * 1000

  /** Compare a response body with the generator's answer. */
  def check(g: DashGen, q: Query, body: String): Option[String] = {
    val root = mapper.readTree(body)
    def rows = Option(root.get("rows")).map(_.elements().asScala.toSeq)
      .getOrElse(throw new IllegalStateException(s"no rows in ${body.take(200)}"))
    def d(n: JsonNode, f: String) = n.get(f).asDouble()
    def l(n: JsonNode, f: String) = n.get(f).asLong()
    def mismatch(what: String) = Some(s"${q.kind}: $what")
    val (k1, k2) = {
      val ts = "'([0-9-]+ [0-9:]+)'".r.findAllMatchIn(q.text).map(_.group(1)).toSeq
      def step(s: String) = g.stepOf(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      if (ts.size >= 2) (step(ts(0)), step(ts(1))) else (0L, 0L)
    }
    q.kind match {
      case "sql_range_narrow" | "sql_range_wide" =>
        val want = g.rangeAgg(k1, k2)
        val got = rows.map(r => r.get("host").asText() -> (l(r, "n"), d(r, "s"), d(r, "mx"))).toMap
        if (got.keySet != want.keySet) mismatch(s"hosts ${got.size} vs ${want.size}")
        else want.collectFirst { case (h, (n, s, mx)) if !(got(h)._1 == n &&
            Stats.nearlyEqual(got(h)._2, s, 1e-9) && got(h)._3 == mx) => mismatch(s"$h ${got(h)} vs ${(n, s, mx)}")
        }.flatten
      case "sql_lookup" =>
        val h = "host = '(h[0-9]+)'".r.findFirstMatchIn(q.text).get.group(1)
        val want = g.lookup(h.drop(1).toInt, k1, k2)
        val got = rows.map(r => (l(r, "time"), d(r, "usage")))
        if (got == want) None else mismatch(s"$h: ${got.size} rows vs ${want.size}")
      case "promql_narrow" | "promql_wide" =>
        val want = g.regionRates
        val steps = (param(q, "end") - param(q, "start")) / param(q, "step") + 1
        val series = root.path("data").path("result").elements().asScala.toSeq
        val bad = series.flatMap { s =>
          val region = s.path("metric").path("region").asText()
          val vs = s.path("values").elements().asScala.map(_.get(1).asText().toDouble).toSeq
          if (vs.size != steps || !vs.forall(v => Stats.nearlyEqual(v, want.getOrElse(region, -1.0), 1e-6)))
            Some(s"$region: ${vs.size} points, first ${vs.headOption} vs ${want.get(region)}")
          else None
        }
        if (series.size != want.size) mismatch(s"${series.size} series vs ${want.size}: ${body.take(200)}")
        else bad.headOption.flatMap(mismatch)
      case "influxql_narrow" | "influxql_wide" =>
        val want = g.bucketMeans(k1, k2, 60)
        val vals = root.path("results").path(0).path("series").path(0).path("values")
          .elements().asScala.toSeq
        val got = vals.map(v => java.time.Instant.parse(v.get(0).asText()).toEpochMilli -> v.get(1).asDouble()).toMap
        if (got.keySet != want.keySet) mismatch(s"${got.size} buckets vs ${want.size}: ${body.take(200)}")
        else want.collectFirst { case (t, m) if !Stats.nearlyEqual(got(t), m, 1e-9) =>
          mismatch(s"bucket $t: ${got(t)} vs $m") }.flatten
      case "rollup_narrow" | "rollup_wide" =>
        val want = g.hourlyUsed(k1, k2)
        val got = rows.map(r => (r.get("host").asText(), l(r, "b")) ->
          (l(r, "n"), d(r, "s"), d(r, "mn"), d(r, "mx"))).toMap
        if (got.keySet != want.keySet) mismatch(s"${got.size} groups vs ${want.size}")
        else want.collectFirst { case (key, (n, s, mn, mx)) if !(got(key)._1 == n &&
            Stats.nearlyEqual(got(key)._2, s, 1e-9) && got(key)._3 == mn && got(key)._4 == mx) =>
          mismatch(s"$key: ${got(key)} vs ${(n, s, mn, mx)}") }.flatten
    }
  }

  def send(fx: Fx, http: Http, q: Query): (Int, String) = q.frontend match {
    case "sql" =>
      http.post("/sql", mapper.writeValueAsString(Map("query" -> q.text).asJava), "application/json")
    case "promql" => http.get("/api/v1/query_range", ("query" -> q.text) +: q.params)
    case "influxql" => http.get("/influxdb/v1/query", Seq("q" -> q.text))
  }

  /** The query as its chain of public calls, one span per call. */
  private def chain(fx: Fx, q: Query, t: OpTrace): Unit = {
    val e = fx.engine
    val spark = fx.env.spark
    val df: DataFrame = q.frontend match {
      case "sql" =>
        val stmt = t.call("ddl.parse")(DdlParser.parse(q.text))
        t.call("engine.analyze", counted = true)(e.executeOne(stmt))
      case "promql" =>
        val ast = t.call("promql.parse")(PromQL.parse(q.text))
        t.call("promql.eval", counted = true)(PromQL.evalAst(spark, fx.server.resolve, ast,
          EvalParams(param(q, "start"), param(q, "end"), param(q, "step"))))
      case "influxql" => t.call("influx.ql_lower", counted = true)(InfluxQL.run(e, q.text))
    }
    t.call("plans.optimize", counted = true)(df.queryExecution.executedPlan)
    val n = t.call("engine.execute", counted = true)(df.collect()).length
    fx.plans.add(PlanSample(q.kind, PlanStats.scans(df.queryExecution.executedPlan), n))
    t.call("server.handler")(q.frontend match {
      case "sql" => HttpApi.handleSql(e, q.text)
      case "promql" => HttpApi.handlePromRange(spark, fx.server.resolve, q.text,
        EvalParams(param(q, "start"), param(q, "end"), param(q, "step")))
      case "influxql" => HttpApi.handleInfluxQuery(e, q.text)
    })
  }

  /** Every variant once, spread over the loop's clients. */
  def warmup(fx: Fx): Unit = {
    val n = clients(fx.env)
    val https = Array.fill(n)(new Http(fx.port))
    val rnd = Gen.rng(fx.env.seed, 499)
    val qs = Variants.map(query(fx.gen, _, rnd))
    val next = new java.util.concurrent.atomic.AtomicInteger()
    Loop.closed(n, 600, qs.size) { (c, _) => send(fx, https(c), qs(next.getAndIncrement())) }
  }

  def clients(env: Env): Int = math.max(1, env.nproc - 1)

  def loop(fx: Fx, seconds: Double, maxOps: Long, kit: Option[TraceKit]): LoopResult = {
    val out = new Outcome
    val n = clients(fx.env)
    val https = Array.fill(n)(new Http(fx.port))
    val rnds = Array.tabulate(n)(c => Gen.rng(fx.env.seed, 500 + c))
    // every client issues each variant once per cycle, in a fresh seeded
    // order each cycle: the mix stays balanced, and which queries overlap
    // changes from cycle to cycle instead of locking into one pattern
    val cycles = Array.fill(n)(Seq.empty[String])
    val elapsed = Loop.closed(n, seconds, maxOps) { (c, i) =>
      if (i % Variants.size == 0) cycles(c) = rnds(c).shuffle(Variants)
      val q = query(fx.gen, cycles(c)(i % Variants.size), rnds(c))
      val tr = kit.map(_.tracer.op(q.kind))
      out.run(q.kind)(tr.fold(send(fx, https(c), q))(_.call("server.http")(send(fx, https(c), q)))) {
        case (code, body) =>
          fx.responseBytes.addAndGet(body.length); fx.responses.incrementAndGet()
          if (code != 200) Some(s"${q.kind} answered $code: ${body.take(300)}")
          else check(fx.gen, q, body)
      }
      tr.foreach(_.finish())
    }
    LoopResult(out, elapsed, rows = 0)
  }

  /** Every variant once as its chain of public calls, from one client. */
  override def chainPass(fx: Fx, kit: TraceKit, out: Outcome): Int = {
    val http = new Http(fx.port)
    val rnd = Gen.rng(fx.env.seed, 498)
    Variants.foreach { v =>
      val q = query(fx.gen, v, rnd)
      val t = kit.tracer.op(q.kind)
      val (code, body) = t.call("server.http")(send(fx, http, q))
      chain(fx, q, t)
      t.finish()
      out.check(if (code != 200) Some(s"${q.kind} answered $code") else check(fx.gen, q, body))
    }
    Variants.size
  }

  def storedBytesPerRow(fx: Fx, r: LoopResult): Double = {
    val g = fx.gen
    Storage.bytes(Storage.walk(Paths.get(fx.engine.warehouse))).toDouble /
      (2 * g.rows + g.resends.map(_.size).sum)
  }

  val countedSpans: Set[String] =
    Set("engine.analyze", "promql.eval", "influx.ql_lower", "plans.optimize", "engine.execute")

  def layers(fx: Fx, r: LoopResult, kit: TraceKit): Map[String, Double] = {
    val spark = fx.env.spark
    val e = fx.engine
    def med(f: => Unit, reps: Int = 3): Double = Stats.median((1 to reps).map(_ => Stats.time(f)._2))
    val spans = kit.tracer.all
    def spanMed(name: String) = {
      val xs = spans.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val self = spans.groupBy(_.op).values.flatMap { ss =>
      for (h <- ss.find(_.name == "server.http"); in <- ss.find(_.name == "server.handler"))
        yield h.ms - in.ms
    }.toSeq

    // dedup-on-read cost and rows, counted from outside the engine
    def plainCount(t: String) = spark.read.parquet(e.catalog.dataDir(t)).count()
    val dedupMs = med(e.read("cpu").count()) - med(plainCount("cpu"))
    val memDedupMs = med(e.read("mem").count()) - med(plainCount("mem"))
    println(f"# dashboard dedup overhead: cpu $dedupMs%.1f ms, mem $memDedupMs%.1f ms")

    // scan fractions against what the current generation holds
    val files = Storage.walk(Paths.get(e.warehouse))
    val present = Seq("cpu", "mem").map { t =>
      val cur = files.filter(f => f.table == t && f.gen == e.catalog.compactionState(t)._1)
      t -> (cur.map(_.segment).distinct.size, cur.size)
    }.toMap
    def tableOf(p: String) = new org.apache.hadoop.fs.Path(p).getParent.getName
    val ps = fx.plans.asScala.toSeq
    val segScans = ps.flatMap(_.scans).flatMap(s => s.paths.headOption.map(tableOf)
      .flatMap(present.get).map(p => (s, p)))
    val eligible = ps.filter(_.kind.startsWith("rollup_"))
    val rollupHits = eligible.count(_.scans.exists(_.paths.exists(p => tableOf(p) == "mem_rollup")))
    def frac(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    Map(
      "server.query_self_ms" -> (if (self.isEmpty) 0.0 else Stats.median(self)),
      "server.response_bytes_per_query" -> frac(fx.responseBytes.get, fx.responses.get),
      "influx.ql_lower_ms" -> spanMed("influx.ql_lower"),
      "promql.parse_ms" -> spanMed("promql.parse"),
      "promql.eval_ms" -> spanMed("promql.eval"),
      "ddl.parse_ms" -> spanMed("ddl.parse"),
      "engine.read_ms" -> med(e.read("cpu"), 5),
      "engine.analyze_ms" -> spanMed("engine.analyze"),
      "engine.execute_ms" -> spanMed("engine.execute"),
      "engine.dedup_overhead_ms" -> dedupMs,
      "engine.dedup_rows_in" -> plainCount("cpu").toDouble,
      "engine.dedup_rows_out" -> e.read("cpu").count().toDouble,
      "engine.rows_scanned_per_row_returned" ->
        frac(ps.flatMap(_.scans).map(_.rows).sum, ps.map(_.resultRows).sum),
      "plans.optimize_ms" -> spanMed("plans.optimize"),
      "plans.segments_read_frac" -> frac(segScans.map(_._1.partitions).sum, segScans.map(_._2._1).sum),
      "plans.files_read_frac" -> frac(segScans.map(_._1.files).sum, segScans.map(_._2._2).sum),
      "plans.rollup_hit_frac" -> frac(rollupHits, eligible.size))
  }
}
