package perfbench

import graft.engine.TsdbEngine
import graft.influx.LineProtocol
import graft.opentsdb.OpenTsdb
import graft.server.{GraftHttpServer, HttpApi}
import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `ingest`: a closed loop of three HTTP writers — two line-protocol
  * writers on one overwrite-mode measurement, one OpenTSDB put writer on a
  * counter metric — while a maintenance thread runs `runMaintenance` on a
  * fixed cadence. No queries run.
  *
  * Set-up writes each writer's first batch and flushes both tables before
  * the loop starts: a `flush` that overlaps appends can lose rows (it
  * switches the table to segmented layout before taking the table lock, so
  * an append in between lands in the unsegmented generation and the
  * compaction's scan drops the older files). */
object Ingest extends Workload {
  val name = "ingest"
  val LpTable = "ingest_cpu"
  val PutTable = "ingest_req"
  val MaintenanceEveryMs = 2000L

  /** One maintenance call; `compacted` when it flipped the generation. */
  final case class Maint(table: String, startNs: Long, endNs: Long, compacted: Boolean, bytes: Long)

  final class IngestFx(val dir: Path, val env: Env, val engine: TsdbEngine,
      val server: GraftHttpServer, val gen: IngestGen) extends Fixture {
    val port: Int = server.boundPort
    val lpModel = new LatestWins
    val putModel = new LatestWins
    val maint = new ConcurrentLinkedQueue[Maint]()
    val setupRows = new AtomicLong()
    /** Next batch index per writer; batch 0 is written at set-up. */
    val nextBatch: Array[java.util.concurrent.atomic.AtomicInteger] =
      Array.fill(3)(new java.util.concurrent.atomic.AtomicInteger(1))
    def warehouse: Path = Paths.get(engine.warehouse)
    def close(): Unit = server.stop()
  }
  type Fx = IngestFx

  def build(env: Env, dir: Path, small: Boolean): Fx = {
    val engine = new TsdbEngine(env.spark, dir.resolve("wh").toString)
    val server = new GraftHttpServer(engine, 0).start()
    val gen =
      if (small) new IngestGen(env.seed, hosts = 20, lpSteps = 10, putSteps = 5)
      else new IngestGen(env.seed, hosts = 100, lpSteps = 10, putSteps = 3)
    val fx = new IngestFx(dir, env, engine, server, gen)
    val http = new Http(fx.port)
    def ok(r: (Int, String)): Unit = require(r._1 == 204, s"set-up write answered $r")
    (0 until 2).foreach { w =>
      val pts = gen.lpPoints(w, 0)
      ok(http.post("/influxdb/v1/write", gen.lpBody(pts, LpTable), "text/plain"))
      fx.lpModel(pts); fx.setupRows.addAndGet(pts.size)
    }
    val put = gen.putPoints(0)
    ok(http.post("/opentsdb/api/put", gen.putBody(put, PutTable), "application/json"))
    fx.putModel(put); fx.setupRows.addAndGet(put.size)
    Seq(LpTable, PutTable).foreach(t => record(fx, t)(engine.flush(t)))
    fx
  }

  /** Time one maintenance call and the bytes of the generation it leaves. */
  private def record(fx: Fx, t: String)(f: => Unit): Unit = {
    val e = fx.engine
    val (g0, t0) = (e.catalog.compactionState(t)._1, System.nanoTime())
    f
    val t1 = System.nanoTime()
    val g1 = e.catalog.compactionState(t)._1
    val bytes = if (g1 == g0) 0L
      else Storage.bytes(Storage.walk(fx.warehouse).filter(d => d.table == t && d.gen == g1))
    fx.maint.add(Maint(t, t0, t1, g1 != g0, bytes))
  }

  /** Set-up already wrote through both endpoints and flushed; one more
    * write of each kind and a maintenance pass load the remaining paths. */
  def warmup(fx: Fx): Unit = {
    val http = new Http(fx.port)
    http.post("/influxdb/v1/write", fx.gen.lpBody(fx.gen.lpPoints(0, 0), "warm_cpu"), "text/plain")
    http.post("/opentsdb/api/put", fx.gen.putBody(fx.gen.putPoints(0), "warm_req"), "application/json")
    Seq("warm_cpu", "warm_req").foreach(t => fx.engine.runMaintenance(t, minBatches = 1))
  }

  private def call[T](tr: Option[OpTrace], name: String, counted: Boolean = false)(f: => T): T =
    tr.fold(f)(_.call(name, counted)(f))

  def loop(fx: Fx, seconds: Double, maxOps: Long, kit: Option[TraceKit]): LoopResult = {
    val out = new Outcome
    val rows = new AtomicLong()
    val stop = new AtomicBoolean(false)
    val maintenance = new Thread(() => maintain(fx, stop, out), "maintenance")
    maintenance.start()
    val https = Array.fill(3)(new Http(fx.port))
    val elapsed = try Loop.closed(3, seconds, maxOps) { (c, _) =>
      val tr = kit.map(_.tracer.op(if (c < 2) "lp_write" else "put"))
      write(fx, https(c), c, tr, out, rows)
      tr.foreach(_.finish())
    } finally {
      stop.set(true)
      maintenance.join()
    }
    LoopResult(out, elapsed, rows.get.toDouble)
  }

  /** Writer `c`'s next batch over HTTP (writers 0 and 1 send line
    * protocol, writer 2 OpenTSDB puts); the model takes acknowledged
    * batches. Returns the request body. */
  private def write(fx: Fx, http: Http, c: Int, tr: Option[OpTrace], out: Outcome,
      rows: AtomicLong): String = {
    val b = fx.nextBatch(c).getAndIncrement()
    val (kind, path, pts, body, ctype, model) =
      if (c < 2) {
        val pts = fx.gen.lpPoints(c, b)
        ("lp_write", "/influxdb/v1/write", pts, fx.gen.lpBody(pts, LpTable), "text/plain", fx.lpModel)
      } else {
        val pts = fx.gen.putPoints(b)
        ("put", "/opentsdb/api/put", pts, fx.gen.putBody(pts, PutTable), "application/json", fx.putModel)
      }
    out.run(kind)(call(tr, "server.http")(http.post(path, body, ctype))) { case (code, resp) =>
      if (code == 204) { model(pts); rows.addAndGet(pts.size); None }
      else Some(s"$kind answered $code: ${resp.take(300)}")
    }
    body
  }

  /** Each write kind as its chain of public calls: the HTTP round trip,
    * the protocol parse, and the in-process handler on the same body
    * (which writes the same points again, so the stored state is
    * unchanged). One client, no maintenance running. */
  override def chainPass(fx: Fx, kit: TraceKit, out: Outcome): Int = {
    val http = new Http(fx.port)
    val rows = new AtomicLong()
    val perKind = 3
    (0 until perKind).foreach { _ =>
      Seq(0, 2).foreach { c =>
        val t = kit.tracer.op(if (c < 2) "lp_write" else "put")
        val body = write(fx, http, c, Some(t), out, rows)
        if (c < 2) {
          t.call("influx.parse")(body.split('\n').foreach(LineProtocol.parseLine))
          t.call("server.handler", counted = true)(HttpApi.handleInfluxWrite(fx.engine, body))
        } else {
          t.call("opentsdb.parse")(OpenTsdb.parsePut(body))
          t.call("server.handler", counted = true)(HttpApi.handleOpentsdbPut(fx.engine, body))
        }
        t.finish()
      }
    }
    2 * perKind
  }

  /** Run maintenance on both tables on a fixed cadence until the loop
    * ends. A maintenance call that throws counts as a failed operation. */
  private def maintain(fx: Fx, stop: AtomicBoolean, out: Outcome): Unit = {
    var next = System.currentTimeMillis() + MaintenanceEveryMs
    while (!stop.get) {
      if (System.currentTimeMillis() >= next) {
        Seq(LpTable, PutTable).foreach(t =>
          out.check { record(fx, t)(fx.engine.runMaintenance(t)); None })
        next += MaintenanceEveryMs
      } else Thread.sleep(20)
    }
  }

  override def verify(fx: Fx, r: LoopResult): Unit = {
    def check(table: String, col: String, model: LatestWins): Unit = r.outcome.check {
      val got = fx.engine.execute(
        s"SELECT host, count(*) AS n, sum($col) AS s FROM $table GROUP BY host").collect()
        .map(row => row.getString(0) -> (row.getLong(1), row.getDouble(2))).toMap
      val want = model.perHost()
      val bad = (got.keySet ++ want.keySet).toSeq.sorted.filterNot { h =>
        (got.get(h), want.get(h)) match {
          case (Some((n1, s1)), Some((n2, s2))) => n1 == n2 && Stats.nearlyEqual(s1, s2, 1e-9)
          case _ => false
        }
      }
      if (bad.isEmpty) None
      else Some(s"$table: ${bad.size} hosts differ, e.g. ${bad.head}: got ${got.get(bad.head)} want ${want.get(bad.head)}")
    }
    check(LpTable, "usage", fx.lpModel)
    check(PutTable, "value", fx.putModel)
  }

  private def tableFiles(fx: Fx): Seq[Storage.DataFile] =
    Storage.walk(fx.warehouse).filter(f => f.table == LpTable || f.table == PutTable)

  /** Taken after a final compaction of both tables, over their current
    * generations: superseded generations on disk depend on when the
    * loop's compactions happened to run (they are in
    * `engine.superseded_bytes`). */
  def storedBytesPerRow(fx: Fx, r: LoopResult): Double = {
    val tables = Seq(LpTable, PutTable)
    tables.foreach(fx.engine.runMaintenance(_, minBatches = 1))
    val current = tables.map(t => t -> fx.engine.catalog.compactionState(t)._1).toMap
    Storage.bytes(tableFiles(fx).filter(f => current.get(f.table).contains(f.gen))).toDouble /
      (fx.lpModel.size + fx.putModel.size)
  }

  val countedSpans: Set[String] = Set("server.handler")

  def layers(fx: Fx, r: LoopResult, kit: TraceKit): Map[String, Double] = {
    val spark = fx.env.spark
    import spark.implicits._
    val e = fx.engine
    def med(f: => Unit, reps: Int = 3): Double = Stats.median((1 to reps).map(_ => Stats.time(f)._2))

    val lpBodies = (0 until 4).map(b => fx.gen.lpBody(fx.gen.lpPoints(0, b), "probe_cpu"))
    val lines = lpBodies.flatMap(_.split('\n'))
    val putBodies = (0 until 4).map(b => fx.gen.putBody(fx.gen.putPoints(b), "probe_req"))
    val points = putBodies.map(OpenTsdb.parsePut(_).size).sum

    // TsidHash over a cached batch, minus the same job without it
    val n = if (fx.gen.hosts > 50) 400000L else 100000L
    val tags = spark.range(n).select(
      concat(lit("h"), (col("id") % 997).cast("string")).as("host"),
      concat(lit("r"), (col("id") % 4).cast("string")).as("region")).cache()
    tags.count()
    val withTsid = med(tags.select(graft.functions.TsidHash.tsid(
      Seq((col("host"), 1), (col("region"), 2))).as("t")).agg(max("t")).collect())
    val without = med(tags.select((length(col("host")) + length(col("region"))).as("t"))
      .agg(max("t")).collect())
    tags.unpersist()

    // append of a pre-built batch
    e.execute("CREATE TABLE IF NOT EXISTS probe_append (`time` timestamp NOT NULL, " +
      "host string TAG, region string TAG, usage double, timestamp KEY (`time`)) " +
      "ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='2h', enable_ttl='false')")
    val batchRows = 20000L
    val batch = spark.range(batchRows).select(
      timestamp_millis(lit(Gen.T0Ms) + col("id") * 1000).as("time"),
      concat(lit("h"), (col("id") % 50).cast("string")).as("host"),
      lit("r0").as("region"), (col("id") * 0.5).as("usage")).cache()
    batch.count()
    val appendMs = med(e.append("probe_append", batch))
    batch.unpersist()

    // server self time: HTTP round trip minus the in-process handler
    val spans = kit.tracer.all
    val byOp = spans.groupBy(_.op)
    val selfMs = byOp.values.flatMap { ss =>
      for (h <- ss.find(_.name == "server.http"); in <- ss.find(_.name == "server.handler"))
        yield h.ms - in.ms
    }.toSeq

    val maint = fx.maint.asScala.toSeq
    val writes = r.samples
    val stalled = writes.filter(w => maint.exists(m => w.startNs < m.endNs && m.startNs < w.endNs))
    val files = tableFiles(fx)
    val current = Seq(LpTable, PutTable).filter(e.catalog.exists)
      .map(t => t -> e.catalog.compactionState(t)._1).toMap
    val sum0 = Storage.summarize(files, current)

    Map(
      "server.write_self_ms" -> (if (selfMs.isEmpty) 0.0 else Stats.median(selfMs)),
      "influx.parse_us_per_line" -> med(lines.foreach(LineProtocol.parseLine)) * 1000 / lines.size,
      "influx.ingest_ms" -> med(LineProtocol.ingest(e, spark.createDataset(lpBodies.head.split('\n').toSeq))),
      "opentsdb.parse_us_per_point" -> med(putBodies.foreach(OpenTsdb.parsePut)) * 1000 / points,
      "opentsdb.put_ms" -> med(OpenTsdb.put(e, spark.createDataset(Seq(putBodies.head)))),
      "functions.tsid_ns_per_row" -> (withTsid - without) * 1e6 / n,
      "engine.append_ms" -> appendMs,
      "engine.append_rows_per_s" -> batchRows / (appendMs / 1000),
      "engine.maintenance_ms" -> (if (maint.isEmpty) 0.0 else Stats.median(maint.map(m => (m.endNs - m.startNs) / 1e6))),
      "engine.compactions" -> maint.count(_.compacted).toDouble,
      "engine.compact_bytes_rewritten" -> maint.map(_.bytes).sum.toDouble,
      "engine.write_stall_p50_ms" -> (if (stalled.isEmpty) 0.0 else Stats.median(stalled.map(_.ms))),
      "engine.generations_on_disk" -> sum0.generations.toDouble,
      "engine.superseded_bytes" -> sum0.supersededBytes.toDouble,
      "engine.files_per_segment" -> sum0.currentFiles.toDouble / math.max(1, sum0.currentSegments))
  }
}
