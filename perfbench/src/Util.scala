package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Nearest-rank percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** The highest percentile with at least ten samples above it, or None
    * when there are too few samples for any tail percentile.
    */
  def tailPercentile(n: Int): Option[Double] =
    if (n < 20) None else Some(math.floor((1.0 - 10.0 / n) * 100) / 100)

  /** Detail record for a timing: sample count, median and the tail
    * percentile when one exists.
    */
  def detail(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.size, "p50" -> median(xs), "samples" -> xs)
    tailPercentile(xs.size).fold(base) { p =>
      base ++ Map("tail_percentile" -> p, "tail" -> percentile(xs, p))
    }
  }
}

/** Minimal JSON rendering for the run artifact. */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Peak heap still live after a full collection. Sampled between timed
  * operations (never inside one), so the forced GC costs no measured time.
  * The second collection, after a pause, lets Spark's asynchronous cleanup
  * (unpersisted blocks, broadcasts and shuffles the first one freed) finish
  * first, so a sample does not depend on how far that cleanup had got.
  */
object Heap {
  @volatile private var peakBytes = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
  def peakMb: Double = peakBytes / 1048576.0
}

/** Everything one run reports: operation counts, failures, and the metric
  * maps the runner script turns into the result line.
  */
final class Report(launchMs: Long) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  private val timeline = mutable.LinkedHashMap.empty[String, Double]
  /** Note when a named step finished, in seconds since the launch. */
  def stamp(step: String): Unit = {
    timeline(step) = (System.currentTimeMillis() - launchMs) / 1e3
    detail("timeline") = timeline
  }

  /** Listener counters that every `op` adds its Spark work to, while a
    * traced iteration runs; None otherwise.
    */
  var window: Option[SparkStats] = None

  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILURE: $msg")
    failures += msg
  }

  /** Run one operation of the workload: counts it, records a thrown
    * exception as a failure, returns the elapsed seconds (None on failure).
    * The open `window`, if any, covers exactly this call.
    */
  def op[T](name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val w = window
    w.foreach(_.begin())
    val t0 = System.nanoTime()
    try {
      val r = f
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    } finally w.foreach(_.end())
  }

  /** Record the outcome of one output check: it counts as an attempted
    * operation and as one failure when it found any mismatch.
    */
  def check(name: String, errors: Seq[String]): Unit = {
    attempted += 1
    if (errors.nonEmpty)
      fail(s"$name: ${errors.size} mismatch(es); first: ${errors.take(5).mkString(" | ")}")
  }

  def toJson: String = Json.render(Map(
    "attempted" -> attempted,
    "failed" -> failures.size,
    "failures" -> failures.take(50),
    "end_to_end" -> endToEnd,
    "layer" -> layer,
    "detail" -> detail))
}

object FileTree {
  import java.nio.file.{Files, Path}
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Regular files under `root`, relative path → (size, mtime). */
  def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          root.relativize(p).toString ->
            (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toMap
      } finally s.close()
    }
}
