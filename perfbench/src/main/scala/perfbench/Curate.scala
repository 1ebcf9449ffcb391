package perfbench

import graft.pipeline.{Dedup, DomainStats}
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** `curate`: one client alternating the two near-duplicate pipelines over
  * a seeded corpus read from parquet — MinHash near-dup pairs into
  * cluster-based dedup (the string-verify call site) and the global fuzzy
  * syndication catalog (the hashed-verify call site). */
object Curate extends Workload {
  val name = "curate"

  /** Band-join output rows and verified pairs of one traced pipeline run. */
  final case class PipeSample(kind: String, candidates: Long, verified: Long)

  final class CurateFx(val dir: Path, val env: Env, val gen: CorpusGen, val corpus: String) extends Fixture {
    val (docsList, keptWant, clustersWant, synWant) = gen.build
    val pipes = new ConcurrentLinkedQueue[PipeSample]()
    def docs: DataFrame = env.spark.read.parquet(corpus)
    def close(): Unit = ()
  }
  type Fx = CurateFx

  def build(env: Env, dir: Path, small: Boolean): Fx = {
    val spark = env.spark
    import spark.implicits._
    val gen =
      if (small) new CorpusGen(env.seed, docs = 600, ndFamilies = 30, synFamilies = 8, decoyFamilies = 4)
      else new CorpusGen(env.seed, docs = 2000, ndFamilies = 100, synFamilies = 20, decoyFamilies = 10)
    val corpus = dir.resolve("corpus").toString
    gen.build._1.map(d => (d.id, d.url, d.text)).toDF("id", "url", "text")
      .repartition(env.nproc).write.parquet(corpus)
    new CurateFx(dir, env, gen, corpus)
  }

  def nearDup(fx: Fx): Long =
    Dedup.dedupByClusters(fx.docs, "id", Dedup.minhashNearDupPairs(fx.docs, "id", "text")).count()
  def syndication(fx: Fx): Array[Row] =
    DomainStats.fuzzySyndicationCatalog(fx.docs, "url", "id", "text").collect()

  def checkKept(want: Long, kept: Long): Option[String] =
    if (kept == want) None else Some(s"neardup kept $kept docs, want $want")
  /** The catalog must hold exactly the planted qualifying families, as
    * (n_variants, n_domains) per cluster. */
  def checkCatalog(want: Seq[(Long, Long)], rows: Array[Row]): Option[String] = {
    val got = rows.map(r => (r.getAs[Long]("n_variants"), r.getAs[Long]("n_domains"))).toSeq.sorted
    if (got == want.sorted) None
    else Some(s"syndication catalog ${got.size} clusters ${got.take(5)}, want ${want.size} ${want.sorted.take(5)}")
  }

  def warmup(fx: Fx): Unit = { nearDup(fx); syndication(fx) }

  def loop(fx: Fx, seconds: Double, maxOps: Long, kit: Option[TraceKit]): LoopResult = {
    val out = new Outcome
    val spark = fx.env.spark
    kit.foreach(_.plans.capturing = true)
    val elapsed = Loop.closed(1, seconds, maxOps) { (_, i) =>
      if (i % 2 == 0) kit match {
        case None => out.run("neardup")(nearDup(fx))(checkKept(fx.keptWant, _))
        case Some(k) =>
          val t = k.tracer.op("neardup")
          out.run("neardup") {
            k.plans.drain(spark.sparkContext)
            val pairs = t.call("pipeline.neardup_pairs", counted = true)(
              Dedup.minhashNearDupPairs(fx.docs, "id", "text").select("id_a", "id_b").collect())
            val cand = k.plans.drain(spark.sparkContext).map(PlanStats.bandJoinRows).sum
            fx.pipes.add(PipeSample("neardup", cand, pairs.length))
            val pairsDf = spark.createDataFrame(pairs.toSeq.asJava, StructType(Seq(
              StructField("id_a", LongType), StructField("id_b", LongType))))
            val clusters = t.call("pipeline.cc", counted = true)(
              Dedup.connectedComponents(pairsDf).select("cluster_id").distinct().count())
            val kept = t.call("pipeline.dedup", counted = true)(
              Dedup.dedupByClusters(fx.docs, "id", pairsDf).count())
            t.finish()
            (kept, clusters)
          } { case (kept, clusters) =>
            checkKept(fx.keptWant, kept).orElse(
              if (clusters == fx.clustersWant) None
              else Some(s"neardup found $clusters clusters, want ${fx.clustersWant}"))
          }
      } else kit match {
        case None => out.run("syndication")(syndication(fx))(checkCatalog(fx.synWant, _))
        case Some(k) =>
          val t = k.tracer.op("syndication")
          out.run("syndication") {
            k.plans.drain(spark.sparkContext)
            val rows = t.call("pipeline.syndication", counted = true)(syndication(fx))
            fx.pipes.add(PipeSample("syndication",
              k.plans.drain(spark.sparkContext).map(PlanStats.bandJoinRows).sum, rows.length))
            t.finish()
            rows
          }(checkCatalog(fx.synWant, _))
      }
    }
    kit.foreach(_.plans.capturing = false)
    LoopResult(out, elapsed, out.all.size.toDouble * fx.gen.docs)
  }

  def storedBytesPerRow(fx: Fx, r: LoopResult): Double = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(fx.corpus))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum.toDouble / fx.gen.docs
    finally s.close()
  }

  val countedSpans: Set[String] =
    Set("pipeline.neardup_pairs", "pipeline.cc", "pipeline.dedup", "pipeline.syndication")

  def layers(fx: Fx, r: LoopResult, kit: TraceKit): Map[String, Double] = {
    val spans = kit.tracer.all
    def spanMed(name: String) = {
      val xs = spans.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def pipeMed(kind: String, f: PipeSample => Double) = {
      val xs = fx.pipes.asScala.toSeq.filter(_.kind == kind).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val ccCalls = spans.count(_.name == "pipeline.cc")
    val ccJobs = kit.counters.totals(fx.env.spark.sparkContext, Set("pipeline.cc"))("jobs")
    val cand = pipeMed("neardup", _.candidates.toDouble)
    val verified = pipeMed("neardup", _.verified.toDouble)
    Map(
      "pipeline.neardup_pairs_ms" -> spanMed("pipeline.neardup_pairs"),
      "pipeline.candidate_pairs" -> cand,
      "pipeline.verified_pairs" -> verified,
      "pipeline.verify_precision" -> (if (cand == 0) 0.0 else verified / cand),
      "pipeline.cc_ms" -> spanMed("pipeline.cc"),
      "pipeline.cc_jobs" -> (if (ccCalls == 0) 0.0 else ccJobs / ccCalls),
      "pipeline.syndication_ms" -> spanMed("pipeline.syndication"),
      "pipeline.syndication_candidate_pairs" -> pipeMed("syndication", _.candidates.toDouble))
  }
}
