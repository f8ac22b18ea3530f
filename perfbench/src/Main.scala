package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its work directory and the run
  * parameters.
  */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    trace: Boolean, nproc: Int, report: Report) {
  /** Listener counters of the graft calls in traced iterations. */
  lazy val stats = new SparkStats(spark.sparkContext)

  /** The measurement loop: runs `body(traced)` until `forSeconds` have
    * passed and at least `minEach` untraced iterations ran. A traced run
    * alternates untraced and traced iterations (at least one traced), so
    * warm-up drift and machine noise hit both alike; the untraced ones are
    * the base of the tracing overhead. During a traced iteration the
    * listener counts the Spark work of the graft calls (`Report.op`) only,
    * not the benchmark's own checks between them.
    */
  def loop(minEach: Int, forSeconds: Double = seconds)(body: Boolean => Unit): Unit = {
    val deadline = System.nanoTime() + (forSeconds * 1e9).toLong
    val done = mutable.Map(false -> 0, true -> 0)
    var i = 0
    while (done(false) < minEach || trace && done(true) < 1 || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      Trace.enabled = traced
      report.window = if (traced) Some(stats) else None
      try body(traced)
      finally {
        report.window = None
        Trace.enabled = false
      }
      done(traced) += 1
      i += 1
    }
  }

  /** Run `f` with spans on and a listener of its own attached. */
  def traced[T](f: SparkStats => T): T = {
    val s = new SparkStats(spark.sparkContext)
    Trace.enabled = true
    s.begin()
    try f(s) finally { s.end(); Trace.enabled = false }
  }

  def localFs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
}

/** Benchmark runner JVM. Launched by `perfbench/run.py`, which parses the
  * benchmark's command line and prints its result; this process sets up one
  * workload from its seed, measures it for the given seconds, checks the
  * outputs and writes its report as JSON.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *          <reportJson> <launchEpochMs>
  *
  * One process drives graft from one thread (a closed loop with one
  * client) on `local[nproc]` with `nproc` shuffle partitions.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <report> <launchMs>")
    val Array(workload, seedS, secondsS, traceS, workS, reportS, launchS) = args
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = new Report(launchS.toLong)
    report.stamp("session")
    val ctx = Ctx(spark, work, seedS.toLong, secondsS.toDouble, traceS == "1", nproc, report)
    try {
      val measure: () => Unit = workload match {
        case "restructure" => val s = RestructureWorkload.setup(ctx); () => RestructureWorkload.measure(ctx, s)
        case "queries" => val s = Queries.setup(ctx); () => Queries.measure(ctx, s)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      report.endToEnd("setup_s") = (System.currentTimeMillis() - launchS.toLong) / 1e3
      val t0 = System.nanoTime()
      measure()
      report.stamp("measured")
      report.detail("measure_wall_s") = (System.nanoTime() - t0) / 1e9
      report.endToEnd("live_heap_peak_mb") = Heap.peakMb
    } catch {
      case e: Throwable =>
        report.fail(s"$workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      report.detail("nproc") = nproc
      report.detail("load_avg_end") =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      if (ctx.trace) Trace.write(work.resolve("spans.json"))
      Files.writeString(Path.of(reportS), report.toJson)
      spark.stop()
    }
  }
}
