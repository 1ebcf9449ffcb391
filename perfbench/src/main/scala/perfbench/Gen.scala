package perfbench

import java.security.MessageDigest
import scala.collection.mutable
import scala.util.Random

/** Seeded inputs and the answers they must produce, computed without
  * Spark. The same seed always yields the same inputs. */
object Gen {
  val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  val StepMs = 10000L       // 10 s scrape grid
  val Regions = 4

  def rng(seed: Long, salt: Long): Random = new Random(seed * 1000003L + salt)
  def host(i: Int): String = f"h$i%03d"
  def region(i: Int): String = s"r${i % Regions}"
  def key(s: Int, k: Long): Long = (s.toLong << 40) | k

  /** `yyyy-MM-dd HH:mm:ss` in UTC — the literal form SQL and InfluxQL take. */
  def tsLit(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))
}

/** Write traffic for `ingest`: two line-protocol writers share one
  * overwrite-mode measurement (writer w owns the hosts with i % 2 == w),
  * one OpenTSDB writer feeds a counter metric. Every batch after the first
  * re-sends a few points of the batch before it with a new value, so the
  * stored value is the latest one sent. */
final class IngestGen(seed: Long, val hosts: Int, val lpSteps: Int, val putSteps: Int) {
  import Gen._
  private val r = rng(seed, 11)
  private val base = Array.fill(hosts)(10 + r.nextDouble() * 50)
  private val slope = Array.fill(hosts)(0.001 + r.nextDouble() * 0.01)
  private val c0 = Array.fill(hosts)(1000 + r.nextDouble() * 9000)
  private val rate = Array.fill(hosts)(0.5 + r.nextDouble() * 4.5)
  val resendShare = 0.02

  private def usage(s: Int, k: Long): Double = base(s) + slope(s) * k
  private def counter(s: Int, k: Long): Double = c0(s) + rate(s) * (k * 10)

  /** (series, step, value) points of one batch, fresh points first. */
  private def batch(b: Int, series: Seq[Int], steps: Int, salt: Long,
      value: (Int, Long) => Double): Seq[(Int, Long, Double)] = {
    def fresh(bb: Int) = for {
      k <- (bb.toLong * steps) until ((bb + 1).toLong * steps); s <- series
    } yield (s, k, value(s, k))
    val resent =
      if (b == 0) Nil
      else {
        val prev = fresh(b - 1)
        val rr = rng(seed, salt * 1000003L + b)
        Seq.fill(math.max(1, (prev.size * resendShare).toInt))(prev(rr.nextInt(prev.size)))
          .distinct.map { case (s, k, v) => (s, k, v + 1000 + b) }
      }
    fresh(b) ++ resent
  }

  def lpPoints(w: Int, b: Int): Seq[(Int, Long, Double)] =
    batch(b, (0 until hosts).filter(_ % 2 == w), lpSteps, 100 + w, usage)
  def putPoints(b: Int): Seq[(Int, Long, Double)] =
    batch(b, 0 until hosts, putSteps, 200, counter)

  def lpBody(points: Seq[(Int, Long, Double)], measurement: String): String =
    points.map { case (s, k, v) =>
      s"$measurement,host=${host(s)},region=${region(s)} usage=$v,procs=${k % 50}i " +
        s"${(T0Ms + k * StepMs) * 1000000L}"
    }.mkString("\n")

  def putBody(points: Seq[(Int, Long, Double)], metric: String): String =
    points.map { case (s, k, v) =>
      s"""{"metric":"$metric","timestamp":${T0Ms + k * StepMs},"value":$v,""" +
        s""""tags":{"host":"${host(s)}","region":"${region(s)}"}}"""
    }.mkString("[", ",", "]")
}

/** Latest-wins model of what a table must hold: acknowledged batches are
  * applied in the order their writer sent them. */
final class LatestWins {
  private val m = mutable.HashMap.empty[Long, Double]
  def apply(points: Seq[(Int, Long, Double)]): Unit = synchronized {
    points.foreach { case (s, k, v) => m(Gen.key(s, k)) = v }
  }
  /** host -> (rows, sum of values) */
  def perHost(): Map[String, (Long, Double)] = synchronized {
    m.toSeq.groupBy { case (key, _) => Gen.host((key >>> 40).toInt) }
      .map { case (h, kv) => h -> (kv.size.toLong, kv.map(_._2).sum) }
  }
  def size: Int = synchronized(m.size)
}

/** The two `dashboard` tables over one day (or a few hours when small) of
  * 10 s samples. `cpu` gauges are linear in time and get overlapping
  * re-sent windows with new values (latest wins); `mem` carries a linear
  * counter (`alloc_total`, so `rate` is its slope) and a sawtooth gauge. */
final class DashGen(seed: Long, val hosts: Int, val steps: Int, val resendBatches: Int) {
  import Gen._
  private val r = rng(seed, 21)
  val base: Array[Double] = Array.fill(hosts)(10 + r.nextDouble() * 50)
  val slope: Array[Double] = Array.fill(hosts)(0.0005 + r.nextDouble() * 0.0045)
  val c0: Array[Double] = Array.fill(hosts)(1000 + r.nextDouble() * 9000)
  val rate: Array[Double] = Array.fill(hosts)(0.5 + r.nextDouble() * 4.5)
  val g0: Array[Double] = Array.fill(hosts)(100 + r.nextDouble() * 900)
  val resendSteps: Int = math.min(360, steps / 4)
  val resendSeries: Int = math.min(4, hosts)

  /** Re-sent windows: batch j re-sends `resendSteps` steps of a few series
    * with value + 100 (j + 1). */
  val resends: Seq[Seq[(Int, Long, Double)]] = (0 until resendBatches).map { j =>
    val rr = rng(seed, 300 + j)
    val k0 = rr.nextInt(steps - resendSteps).toLong
    val series = rr.shuffle((0 until hosts).toList).take(resendSeries)
    for (s <- series; k <- k0 until k0 + resendSteps)
      yield (s, k, cpuBase(s, k) + 100.0 * (j + 1))
  }
  private val overrides: Map[Long, Double] =
    resends.flatten.map { case (s, k, v) => key(s, k) -> v }.toMap // later batches win

  def cpuBase(s: Int, k: Long): Double = base(s) + slope(s) * k.toDouble
  def cpu(s: Int, k: Long): Double = overrides.getOrElse(key(s, k), cpuBase(s, k))
  def used(s: Int, k: Long): Double = g0(s) + (k % 90) * 0.5
  def rows: Long = hosts.toLong * steps
  def stepOf(ms: Long): Long = (ms - T0Ms) / StepMs
  def msOf(k: Long): Long = T0Ms + k * StepMs
  def hours: Int = (steps * StepMs / 3600000L).toInt

  // ---- expected answers -------------------------------------------------

  /** host -> (count, sum, max) of cpu usage over steps [k1, k2). */
  def rangeAgg(k1: Long, k2: Long): Map[String, (Long, Double, Double)] =
    (0 until hosts).map { s =>
      var n = 0L; var sum = 0.0; var mx = Double.NegativeInfinity
      var k = k1
      while (k < k2) { val v = cpu(s, k); n += 1; sum += v; mx = math.max(mx, v); k += 1 }
      host(s) -> (n, sum, mx)
    }.toMap

  /** (epoch ms, usage) of one host over [k1, k2). */
  def lookup(s: Int, k1: Long, k2: Long): Seq[(Long, Double)] =
    (k1 until k2).map(k => (msOf(k), cpu(s, k)))

  /** bucket start ms -> mean cpu usage over all hosts, `bucketSteps` grid. */
  def bucketMeans(k1: Long, k2: Long, bucketSteps: Int): Map[Long, Double] =
    (k1 until k2).groupBy(k => k / bucketSteps).map { case (b, ks) =>
      val vs = for (s <- 0 until hosts; k <- ks) yield cpu(s, k)
      msOf(b * bucketSteps) -> vs.sum / vs.size
    }

  /** region -> sum of per-series counter rates (per second). */
  def regionRates: Map[String, Double] =
    (0 until hosts).groupBy(region).map { case (g, ss) => g -> ss.map(rate(_)).sum }

  /** (host, hour start ms) -> (count, sum, min, max) of mem used. */
  def hourlyUsed(k1: Long, k2: Long): Map[(String, Long), (Long, Double, Double, Double)] = {
    val perHour = (3600000L / StepMs).toInt
    (for (s <- 0 until hosts; (h, ks) <- (k1 until k2).groupBy(_ / perHour)) yield {
      val vs = ks.map(used(s, _))
      (host(s), msOf(h * perHour)) -> (vs.size.toLong, vs.sum, vs.min, vs.max)
    }).toMap
  }
}

/** A document corpus for `curate`. Every paragraph ends with the one
  * token that the engine's content-defined chunker cuts after, so the
  * paragraphs the pipeline sees are exactly the generated ones.
  *  - near-duplicate families: a document plus copies that each change
  *    one word, all on one domain;
  *  - syndicated paragraphs: a paragraph and two one-word variants copied
  *    into documents on four domains;
  *  - decoys: variant families on only two domains;
  *  - filler documents of random words. */
final class CorpusGen(seed: Long, val docs: Int, val ndFamilies: Int,
    val synFamilies: Int, val decoyFamilies: Int) {
  private val r = Gen.rng(seed, 31)
  val grain = 16
  val parasPerDoc = 6
  val wordsPerPara = 16

  private val vocab: Array[String] = {
    val rr = new Random(7) // fixed vocabulary; the seed picks from it
    Array.fill(8000)(Iterator.continually(('a' + rr.nextInt(26)).toChar).take(5 + rr.nextInt(5)).mkString)
      .distinct
  }
  private def isBoundary(tok: String): Boolean = {
    val d = MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
    (d(0) & 0xff) % grain == 0
  }
  private val (stops, words) = vocab.partition(isBoundary)

  private def para(): Vector[String] = {
    val ws = mutable.LinkedHashSet.empty[String]
    while (ws.size < wordsPerPara - 1) ws += words(r.nextInt(words.length))
    (ws.toVector :+ stops(r.nextInt(stops.length)))
  }
  /** Replace one non-final word with a word the paragraph lacks. */
  private def edit(p: Vector[String]): Vector[String] = {
    var w = words(r.nextInt(words.length))
    while (p.contains(w)) w = words(r.nextInt(words.length))
    p.updated(r.nextInt(p.length - 1), w)
  }
  private def domain(i: Int): String = s"site$i.${Seq("com", "org", "net")(i % 3)}"
  private val domainCount = math.max(50, docs / 10)

  final case class Doc(id: Long, url: String, text: String)

  /** (docs, expected kept after near-dup removal, near-dup clusters,
    * expected syndication rows as (n_variants, n_domains)). */
  lazy val build: (Seq[Doc], Long, Int, Seq[(Long, Long)]) = {
    val out = mutable.ArrayBuffer.empty[(Int, Seq[Vector[String]])] // (domain, paragraphs)
    var dropped = 0L
    (0 until ndFamilies).foreach { _ =>
      val d = r.nextInt(domainCount)
      val basePs = Seq.fill(parasPerDoc)(para())
      val size = 2 + r.nextInt(3)
      out += ((d, basePs))
      (1 until size).foreach { _ =>
        val i = r.nextInt(parasPerDoc)
        out += ((d, basePs.updated(i, edit(basePs(i)))))
      }
      dropped += size - 1
    }
    val synExpected = mutable.ArrayBuffer.empty[(Long, Long)]
    def plant(families: Int, domainsPer: Int, qualifies: Boolean): Unit =
      (0 until families).foreach { _ =>
        val p0 = para()
        val variants = Seq(p0, edit(p0), edit(p0))
        val ds = Iterator.continually(r.nextInt(domainCount)).distinct.take(domainsPer).toList
        // every variant and every domain appears at least once
        val placements = variants.indices.map(v => (v, ds(v % ds.size))) ++
          ds.indices.drop(variants.size).map(i => (0, ds(i)))
        placements.foreach { case (v, d) =>
          val ps = Seq.fill(parasPerDoc - 1)(para())
          out += ((d, ps.patch(r.nextInt(parasPerDoc), Seq(variants(v)), 0)))
        }
        if (qualifies) synExpected += ((variants.size.toLong, ds.size.toLong))
      }
    plant(synFamilies, 4, qualifies = true)
    plant(decoyFamilies, 2, qualifies = false)
    while (out.size < docs) out += ((r.nextInt(domainCount), Seq.fill(parasPerDoc)(para())))
    val docsOut = r.shuffle(out.toList).zipWithIndex.map { case ((d, ps), i) =>
      Doc(i.toLong, s"https://www.${domain(d)}/p/$i", ps.map(_.mkString(" ")).mkString(" "))
    }
    (docsOut, docsOut.size - dropped, ndFamilies, synExpected.toSeq)
  }
}
