package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run:
  *
  *   Main --workload <ingest|dashboard|curate> --seed <n> --seconds <s>
  *        --trace <0|1> --out <dir>
  *
  * With `--trace 0` it measures the workload's end-to-end metrics; with
  * `--trace 1` it runs the workload untraced for half the time, traced for
  * the other half, then takes every layer's metrics (other workloads'
  * layers on reduced fixtures). The last stdout line is the JSON result;
  * lines before it starting with `#` are the human-readable report. */
object Main {
  val Workloads: Seq[Workload] = Seq(Ingest, Dashboard, Curate)
  val SetupRepeats = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "ops_per_s" -> "1/s",
    "op_p50_ms" -> "ms", "op_p75_ms" -> "ms", "stored_bytes_per_row" -> "B")

  val PerLayer: Seq[(String, String)] = Seq(
    "server.write_self_ms" -> "ms", "server.query_self_ms" -> "ms",
    "server.response_bytes_per_query" -> "B",
    "influx.parse_us_per_line" -> "us", "influx.ingest_ms" -> "ms", "influx.ql_lower_ms" -> "ms",
    "opentsdb.parse_us_per_point" -> "us", "opentsdb.put_ms" -> "ms",
    "promql.parse_ms" -> "ms", "promql.eval_ms" -> "ms", "ddl.parse_ms" -> "ms",
    "functions.tsid_ns_per_row" -> "ns",
    "engine.append_ms" -> "ms", "engine.append_rows_per_s" -> "1/s",
    "engine.maintenance_ms" -> "ms", "engine.compactions" -> "count",
    "engine.compact_bytes_rewritten" -> "B", "engine.write_stall_p50_ms" -> "ms",
    "engine.generations_on_disk" -> "count", "engine.superseded_bytes" -> "B",
    "engine.files_per_segment" -> "count",
    "engine.read_ms" -> "ms", "engine.analyze_ms" -> "ms", "engine.execute_ms" -> "ms",
    "engine.dedup_overhead_ms" -> "ms", "engine.dedup_rows_in" -> "count",
    "engine.dedup_rows_out" -> "count", "engine.rows_scanned_per_row_returned" -> "ratio",
    "plans.optimize_ms" -> "ms", "plans.segments_read_frac" -> "ratio",
    "plans.files_read_frac" -> "ratio", "plans.rollup_hit_frac" -> "ratio",
    "pipeline.neardup_pairs_ms" -> "ms", "pipeline.candidate_pairs" -> "count",
    "pipeline.verified_pairs" -> "count", "pipeline.verify_precision" -> "ratio",
    "pipeline.cc_ms" -> "ms", "pipeline.cc_jobs" -> "count",
    "pipeline.syndication_ms" -> "ms", "pipeline.syndication_candidate_pairs" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.shuffle_read_bytes_per_op" -> "B",
    "spark.shuffle_write_bytes_per_op" -> "B", "spark.executor_run_ms_per_op" -> "ms",
    "spark.gc_ms_per_op" -> "ms", "spark.spill_bytes_per_op" -> "B",
    "trace.overhead_pct" -> "%")

  /** Operations each reduced fixture runs when another workload is traced. */
  private val SmallOps = Map("ingest" -> 6L, "dashboard" -> 9L, "curate" -> 2L)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("out", "perfbench/out")))
  }

  def session(out: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", out.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.tune(s)
  }

  def report(line: String): Unit = println(s"# $line")

  /** Exits explicitly: server and Spark threads must not keep a failed
    * run's JVM alive. */
  def main(argv: Array[String]): Unit = {
    val code = try { runMain(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def runMain(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.find(_.name == a.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.out)
    val (spark, sessionMs) = Stats.time(session(a.out, nproc))
    val env = Env(spark, a.seed, nproc)
    val root = a.out.resolve(s"${w.name}-seed${a.seed}-${ProcessHandle.current.pid}")
    val result = try run(w, env, a, root, sessionMs) finally {
      spark.stop()
      Proc.deleteTree(root)
    }
    println(result)
  }

  /** Build the fixture `repeats` times from nothing (keeping the last) and
    * return it with the build times in ms. */
  def setup(w: Workload, env: Env, root: Path, small: Boolean, repeats: Int): (w.Fx, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[w.Fx] = None
    (0 until repeats).foreach { i =>
      last.foreach { f => f.close(); Proc.deleteTree(f.dir) }
      val (fx, ms) = Stats.time(w.build(env, root.resolve(s"${w.name}-$i"), small))
      last = Some(fx); times += ms
    }
    (last.get, times.toSeq)
  }

  private def run(w: Workload, env: Env, a: Args, root: Path, sessionMs: Double): String = {
    val (fx, buildMs) = setup(w, env, root, small = false, SetupRepeats)
    val setupS = (sessionMs + Stats.median(buildMs)) / 1000
    report(f"session start ${sessionMs / 1000}%.2f s, fixture builds ${buildMs.map(_ / 1000).map(x => f"$x%.2f").mkString(", ")} s")
    val (_, warmMs) = Stats.time(w.warmup(fx))
    report(f"warm-up ${warmMs / 1000}%.2f s")
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val metrics: Map[String, Double] =
      try {
        if (!a.trace) {
          val r = w.loop(fx, a.seconds, Long.MaxValue, None)
          val (_, verifyMs) = Stats.time(w.verify(fx, r))
          report(f"loop ${r.elapsedS}%.2f s, answer checks after the loop ${verifyMs / 1000}%.2f s")
          outcomes += r.outcome
          val m = endToEnd(w, fx, r, setupS)
          describe(w, r, m)
          m
        } else traced(w, fx, env, a, root, outcomes)
      } finally fx.close()
    val attempted = outcomes.map(_.attempted.get).sum
    val failed = outcomes.map(_.failed.get).sum
    outcomes.flatMap(_.failures).foreach(f => System.err.println(s"[perfbench] failed: $f"))
    report(f"attempted $attempted, failed $failed, failed_frac ${failed.toDouble / math.max(1, attempted)}%.4f")
    json(failed == 0 && attempted > 0, attempted, failed,
      (if (a.trace) PerLayer else EndToEnd).map { case (k, u) =>
        val v = metrics.getOrElse(k, {
          System.err.println(s"[perfbench] metric $k was not measured"); 0.0
        })
        (k, v, u)
      })
  }

  def endToEnd(w: Workload, fx: Fixture, r: LoopResult, setupS: Double): Map[String, Double] = {
    val ms = r.samples.map(_.ms)
    require(ms.nonEmpty, s"${w.name}: no operation completed")
    Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "ops_per_s" -> ms.size / r.elapsedS,
      // equal weight per operation kind, so the mix's proportions in a
      // run do not move the figure
      "op_p50_ms" -> Stats.mean(r.byKind.values.map(Stats.median).toSeq),
      // the highest percentile a run's sample keeps ten values beyond
      "op_p75_ms" -> Stats.quantile(ms, 0.75),
      "stored_bytes_per_row" -> w.storedBytesPerRow(fx.asInstanceOf[w.Fx], r))
  }

  /** The report under the names of the workload's own operations. */
  private def describe(w: Workload, r: LoopResult, m: Map[String, Double]): Unit = {
    val all = r.samples.map(_.ms)
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)
    def line(name: String, v: Double, unit: String, n: Int) = report(f"$name%-24s $v%12.3f $unit (n=$n)")
    val kinds = r.byKind
    def group(prefix: String*) = kinds.collect { case (k, v) if prefix.exists(k.startsWith) => v }.flatten.toSeq
    w.name match {
      case "ingest" =>
        line("write_rows_per_s", r.rows / r.elapsedS, "1/s", all.size)
        line("write_p50_ms", p(all, 0.5), "ms", all.size)
        line("write_p95_ms", p(all, 0.95), "ms", all.size)
        line("lp_write_p50_ms", p(group("lp_write"), 0.5), "ms", group("lp_write").size)
        line("put_p50_ms", p(group("put"), 0.5), "ms", group("put").size)
      case "dashboard" =>
        line("queries_per_s", m("ops_per_s"), "1/s", all.size)
        line("query_p50_ms", p(all, 0.5), "ms", all.size)
        line("query_p95_ms", p(all, 0.95), "ms", all.size)
        Seq("sql" -> Seq("sql_", "rollup_"), "promql" -> Seq("promql_"), "influxql" -> Seq("influxql_"))
          .foreach { case (f, ps) => line(s"${f}_p50_ms", p(group(ps: _*), 0.5), "ms", group(ps: _*).size) }
      case "curate" =>
        Seq("neardup", "syndication").foreach(k =>
          line(s"${k}_s", p(group(k), 0.5) / 1000, "s", group(k).size))
      case _ =>
    }
    kinds.toSeq.sortBy(_._1).foreach { case (k, v) => line(s"  $k p50", p(v, 0.5), "ms", v.size) }
    EndToEnd.foreach { case (k, u) => line(k, m(k), u, all.size) }
  }

  private def traced(w: Workload, fx: Fixture, env: Env, a: Args, root: Path,
      outcomes: mutable.ArrayBuffer[Outcome]): Map[String, Double] = {
    val f = fx.asInstanceOf[w.Fx]
    val sc = env.spark.sparkContext
    val dump = a.out.resolve(s"trace-${w.name}-seed${a.seed}.jsonl")
    Files.deleteIfExists(dump)
    val untraced = w.loop(f, a.seconds / 2, Long.MaxValue, None)
    outcomes += untraced.outcome
    val kit = new TraceKit(env.spark)
    val metrics = mutable.Map.empty[String, Double]
    try {
      val (t, ops) = tracedPass(w, f, a.seconds / 2, Long.MaxValue, kit, dump, outcomes)
      kit.counters.totals(sc, w.countedSpans).foreach { case (k, v) => metrics(s"spark.${k}_per_op") = v / ops }
      // the same operations under the same load, with and without tracing
      val over = t.byKind.flatMap { case (k, v) =>
        untraced.byKind.get(k).map(u => Stats.median(v) / Stats.median(u) - 1) }
      metrics("trace.overhead_pct") = 100 * Stats.mean(over.toSeq)
      report(f"tracing overhead ${metrics("trace.overhead_pct")}%.1f%% " +
        s"(${t.samples.size} traced vs ${untraced.samples.size} untraced operations)")
      // the HTTP round trip repeats the handler's work, so it enters the
      // summary only as its difference from the in-process handler
      report(s"self time per layer over $ops operations issued as call chains:")
      val spans = kit.tracer.all
      val wire = spans.groupBy(_.op).values.flatMap { ss =>
        for (h <- ss.find(_.name == "server.http"); in <- ss.find(_.name == "server.handler"))
          yield h.ms - in.ms
      }.sum
      (kit.tracer.selfMsByLayer(skip = Set("server.http")).toSeq :+ ("http-wire", wire))
        .sortBy(-_._2).foreach { case (layer, total) =>
          report(f"  $layer%-10s ${total / ops}%10.2f ms/op")
        }
      metrics ++= w.layers(f, t, kit)
      // the other workloads' layers, each on a reduced fixture
      Workloads.filterNot(_ == w).foreach { o =>
        val (ofx, _) = setup(o, env, root.resolve("small"), small = true, repeats = 1)
        try {
          o.warmup(ofx)
          val (r, _) = tracedPass(o, ofx, 120, SmallOps(o.name), kit, dump, outcomes)
          metrics ++= o.layers(ofx, r, kit)
        } finally ofx.close()
      }
    } finally kit.close()
    report(s"spans written to $dump")
    PerLayer.foreach { case (k, u) => report(f"$k%-40s ${metrics.getOrElse(k, 0.0)}%14.4f $u") }
    metrics.toMap
  }

  /** The traced loop, then the chain pass; spans of both are dumped and
    * the kit keeps the tracer whose spans the layer metrics read. Returns
    * the loop and the number of operations issued as call chains. */
  private def tracedPass(w: Workload, fx: Fixture, seconds: Double, maxOps: Long,
      kit: TraceKit, dump: Path, outcomes: mutable.ArrayBuffer[Outcome]): (LoopResult, Int) = {
    val f = fx.asInstanceOf[w.Fx]
    kit.tracer = new Tracer
    val r = w.loop(f, seconds, maxOps, Some(kit))
    kit.tracer.dump(dump, s"${w.name}.loop")
    val loopTracer = kit.tracer
    kit.tracer = new Tracer
    val chainOut = new Outcome
    val chains = w.chainPass(f, kit, chainOut)
    if (chains == 0) kit.tracer = loopTracer // the loop's operations were the chains
    else kit.tracer.dump(dump, s"${w.name}.chains")
    w.verify(f, r)
    outcomes += r.outcome += chainOut
    (r, if (chains == 0) math.max(1, r.samples.size) else chains)
  }

  def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
  }
}
