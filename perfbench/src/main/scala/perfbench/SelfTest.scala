package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own test: on reduced fixtures, every answer check must
  * accept the engine's real answers and reject them once the expectation
  * is corrupted. Exits non-zero on any miss.
  *
  *   SelfTest --out <dir>
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val out = Paths.get(argv.sliding(2).collectFirst { case Array("--out", d) => d }.getOrElse("perfbench/out"))
    Files.createDirectories(out)
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(out, nproc)
    val env = Env(spark, seed = 7, nproc)
    val root = out.resolve(s"selftest-${ProcessHandle.current.pid}")
    try {
      dashboard(env, root)
      ingest(env, root)
      curate(env, root)
    } catch {
      case e: Throwable => e.printStackTrace(); failures += 1
    } finally {
      spark.stop()
      Proc.deleteTree(root)
    }
    println(s"self-test: $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def dashboard(env: Env, root: java.nio.file.Path): Unit = {
    val fx = Dashboard.build(env, root.resolve("dashboard"), small = true)
    try {
      val http = new Http(fx.port)
      // the same inputs, with one series' gauge, counter rate and sawtooth
      // base shifted: every check must notice
      val bad = new DashGen(env.seed, fx.gen.hosts, fx.gen.steps, fx.gen.resends.size)
      bad.base(0) += 0.001; bad.rate(0) += 0.001; bad.g0(0) += 0.001
      Dashboard.Variants.foreach { v =>
        val q = Dashboard.query(fx.gen, v, new scala.util.Random(3))
        val q0 = if (v == "sql_lookup") q.copy(text = q.text.replaceAll("host = 'h[0-9]+'", "host = 'h000'")) else q
        val (code, body) = Dashboard.send(fx, http, q0)
        expect(s"dashboard $v answers 200", code == 200)
        val good = Dashboard.check(fx.gen, q0, body)
        expect(s"dashboard $v accepts the real answer ${good.getOrElse("")}", good.isEmpty)
        expect(s"dashboard $v rejects a corrupted expectation", Dashboard.check(bad, q0, body).nonEmpty)
      }
    } finally fx.close()
  }

  private def ingest(env: Env, root: java.nio.file.Path): Unit = {
    val fx = Ingest.build(env, root.resolve("ingest"), small = true)
    try {
      val r = Ingest.loop(fx, 60, 9, None)
      Ingest.verify(fx, r)
      expect(s"ingest writes and state check pass ${r.outcome.failures.mkString}", r.outcome.failed.get == 0)
      fx.lpModel(Seq((0, 0L, -1.0))) // a value no writer sent
      Ingest.verify(fx, r)
      expect("ingest rejects a corrupted expectation", r.outcome.failed.get == 1)
    } finally fx.close()
  }

  private def curate(env: Env, root: java.nio.file.Path): Unit = {
    val fx = Curate.build(env, root.resolve("curate"), small = true)
    val kept = Curate.nearDup(fx)
    expect(s"curate near-dup kept count $kept", Curate.checkKept(fx.keptWant, kept).isEmpty)
    expect("curate rejects a corrupted kept count", Curate.checkKept(fx.keptWant + 1, kept).nonEmpty)
    val rows = Curate.syndication(fx)
    val good = Curate.checkCatalog(fx.synWant, rows)
    expect(s"curate syndication catalog ${good.getOrElse("")}", good.isEmpty)
    expect("curate rejects a corrupted catalog",
      Curate.checkCatalog(fx.synWant.tail :+ ((2L, 4L)), rows).nonEmpty)
  }
}
