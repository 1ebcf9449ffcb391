package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Small helpers shared by every workload: timing, quantiles, the HTTP
  * client the closed-loop clients use, process memory and the warehouse
  * walk that does the storage accounting from outside the engine. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, msSince(t0))
  }
  def nearlyEqual(a: Double, b: Double, rel: Double = 1e-6): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** One client connection to the server under test (HTTP/1.1 keep-alive). */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private def uri(pathAndQuery: String) = URI.create(s"http://127.0.0.1:$port$pathAndQuery")

  def post(path: String, body: String, contentType: String): (Int, String) = {
    val req = HttpRequest.newBuilder(uri(path))
      .timeout(java.time.Duration.ofSeconds(120))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def get(path: String, params: Seq[(String, String)]): (Int, String) = {
    val q = params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8)
    }.mkString("&")
    val req = HttpRequest.newBuilder(uri(path + "?" + q))
      .timeout(java.time.Duration.ofSeconds(120)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

object Proc {
  /** Peak resident set size of this process in MB (VmHWM), or 0 when the
    * platform has no /proc. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Parquet files under a warehouse, classified by table, data generation
  * and `__segment=` directory. The walk only reads directory entries; it
  * uses no engine code. */
object Storage {
  final case class DataFile(table: String, gen: Int, segment: String, bytes: Long)

  private val GenDir = "data(?:_g(\\d+))?".r

  /** Files are listed while the engine may be writing or deleting them,
    * so a file or directory that vanishes mid-walk is skipped. */
  def walk(warehouse: Path): Seq[DataFile] = {
    val out = mutable.ArrayBuffer.empty[DataFile]
    if (!Files.exists(warehouse)) return Nil
    Files.walkFileTree(warehouse, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        val parts = warehouse.relativize(p).iterator().asScala.map(_.toString).toSeq
        if (a.isRegularFile && parts.length >= 3 && parts.last.endsWith(".parquet")) parts(1) match {
          case GenDir(g) =>
            val seg = parts.find(_.startsWith("__segment=")).getOrElse("")
            out += DataFile(parts.head, Option(g).map(_.toInt).getOrElse(0), seg, a.size)
          case _ =>
        }
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    out.toSeq
  }

  def bytes(files: Seq[DataFile]): Long = files.map(_.bytes).sum

  /** Files and bytes of each table's current generation versus the older
    * generations still on disk. `current` maps table -> generation. */
  final case class Summary(
      generations: Int, supersededBytes: Long, currentFiles: Int, currentSegments: Int)

  def summarize(files: Seq[DataFile], current: Map[String, Int]): Summary = {
    val cur = files.filter(f => current.get(f.table).contains(f.gen))
    Summary(
      generations = files.map(f => (f.table, f.gen)).distinct.size,
      supersededBytes = bytes(files.filterNot(f => current.get(f.table).contains(f.gen))),
      currentFiles = cur.size,
      currentSegments = cur.map(f => (f.table, f.segment)).distinct.size)
  }
}
