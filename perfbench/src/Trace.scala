package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in spans: one per call the benchmark makes into a layer's
  * public function. Kept in memory, written when the run ends. Disabled
  * spans cost one volatile read.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val nextId = new AtomicInteger(1)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        done.synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Seconds of each span not covered by its children, summed by name. */
  def selfTimes: Map[String, Double] = {
    val all = spans
    val childCover = all.groupBy(_.parent).map { case (p, cs) => p -> union(cs) }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childCover.getOrElse(s.id, 0.0)).sum
    }
  }

  private def union(ss: Seq[Span]): Double = {
    var covered = 0L
    var end = Long.MinValue
    ss.sortBy(_.startNs).foreach { s =>
      val start = math.max(s.startNs, end)
      if (s.endNs > start) { covered += s.endNs - start; end = s.endNs }
    }
    covered / 1e9
  }

  /** The spans and the self time of each span name, as JSON. */
  def write(path: java.nio.file.Path): Unit = {
    val rows = spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run_id" -> runId)
    }
    java.nio.file.Files.writeString(path, Json.render(Map("spans" -> rows, "self_s" -> selfTimes)))
  }
}

/** Spark-side counters for the traced iterations, from one listener the
  * benchmark adds for each window (one graft call, see `Report.op`) and
  * removes after it.
  */
final class SparkStats(sc: SparkContext) extends SparkListener {
  val jobs, jobsEnded, stages, tasks, taskFailures = new AtomicLong
  val shuffleWrite, shuffleRead, spill, gcMs, cpuNs, runMs, recordsRead = new AtomicLong
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    synchronized { jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized { jobStart.remove(e.jobId).foreach(s => busy += ((s, e.time))) }
    jobsEnded.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet() }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var windowStart = 0L

  def begin(): Unit = { sc.addSparkListener(this); windowStart = System.currentTimeMillis() }

  /** Close the window once every event of its actions has arrived. */
  def end(): Unit = {
    val to = System.currentTimeMillis()
    settle()
    windows += ((windowStart, to))
    sc.removeSparkListener(this)
  }

  /** Milliseconds within [from, to] during which at least one job ran. */
  private def busyMs(from: Long, to: Long): Long = synchronized {
    var covered = 0L
    var end = Long.MinValue
    busy.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        val start = math.max(s, end)
        if (e > start) { covered += e - start; end = e }
      }
    covered
  }

  /** Wait until the listener bus delivered every event of the finished
    * actions: all started jobs ended and the counters are quiet.
    */
  def settle(): Unit = {
    def snap = (jobs.get, jobsEnded.get, stages.get, tasks.get)
    val deadline = System.nanoTime() + 3000000000L
    var last = snap
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val cur = snap
      if (cur == last && jobsEnded.get >= jobs.get) quiet += 1 else { quiet = 0; last = cur }
    }
  }

  /** The `spark.*` layer metrics over the closed windows. */
  def layerMetrics: Map[String, Double] = {
    val wall = math.max(1L, windows.map { case (f, t) => t - f }.sum)
    val busyWall = windows.map { case (f, t) => busyMs(f, t) }.sum
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9,
      "spark.executor_run_s" -> runMs.get / 1e3,
      "spark.driver_gap_s" -> (wall - busyWall) / 1e3,
      "spark.busy_ratio" -> busyWall.toDouble / wall,
      "spark.task_failures" -> taskFailures.get.toDouble)
  }
}
