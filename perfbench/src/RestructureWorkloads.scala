package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.jobs.{Cleaner, Restructure, RestructureJobConfig}
import graft.sources.{AvroRead, TopicFiles}

/** Calls into the restructure layers, and the outside-in decomposition of
  * a restructure pass into them.
  */
object RestructureLayers {
  val Ext = ".csv.gz"
  val BaseEpoch: Double = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond.toDouble

  def config(in: Path, out: Path, topics: Int, nproc: Int): RestructureJobConfig =
    RestructureJobConfig(inputRoot = in.toString, outputRoot = out.toString,
      gzip = true, dedup = true, topicParallelism = math.max(1, math.min(topics, nproc)))

  /** Runs Restructure.run and turns failed topics into failures. */
  def restructure(ctx: Ctx, name: String, cfg: RestructureJobConfig): Option[Double] =
    ctx.report.op(name)(Trace.span("jobs.restructure")(Restructure.run(ctx.spark, cfg))).map {
      case (r, sec) =>
        r.failedTopics.foreach { case (t, e) => ctx.report.fail(s"$name: topic $t failed: $e") }
        sec
    }

  private def parallel[T](n: Int, xs: Seq[String])(f: String => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, n))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  private def best[T](name: String)(f: => T): (T, Double) = {
    val runs = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      val r = Trace.span(name)(f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    (runs.head._1, runs.map(_._2).min)
  }

  type Listing = Map[String, Seq[org.apache.hadoop.fs.FileStatus]]

  /** The driver-side layers of a restructure pass over `in`, called from
    * outside: the listing, and the ledger load, unseen-file filter and
    * save. Each step runs twice and reports its faster run.
    */
  def listingAndLedger(ctx: Ctx, in: Path, ledger: Path): (Map[String, Double], Listing) = {
    val fs = ctx.localFs
    val (listing, listS) = best("sources.list")(TopicFiles.listTopicsAll(ctx.spark, Seq(in.toString)))
    val (led, loadS) = best("ledger.load")(Restructure.loadLedger(fs, ledger.toString))
    val (_, filterS) = best("ledger.filter")(listing.values.flatten.count { st =>
      TopicFiles.parseFilename(st.getPath.getName).forall { r =>
        !led.contains(r.topic, r.partition, r.from, r.to.getOrElse(r.from),
          Instant.ofEpochMilli(st.getModificationTime))
      }
    })
    val copy = ledger.resolveSibling("_ledger.bench-copy.json")
    val (_, saveS) = best("ledger.save")(Restructure.saveLedger(fs, copy.toString, led))
    Files.deleteIfExists(copy)
    (Map(
      "sources.list_s" -> listS,
      "sources.files_listed" -> listing.values.map(_.size).sum.toDouble,
      "ledger.load_s" -> loadS,
      "ledger.save_s" -> saveS,
      "ledger.filter_s" -> filterS,
      "ledger.intervals" -> "\"from\":".r.findAllMatchIn(led.toJson).size.toDouble,
      "ledger.bytes" -> (if (Files.exists(ledger)) Files.size(ledger).toDouble else 0.0)), listing)
  }

  /** The cluster-side prefixes of a restructure pass over `listing`: for
    * every topic (topics in parallel, as the job runs them) the schema
    * read, the Avro decode to the noop sink, and each derived projection
    * added on top. A projection's cost is the wall time it adds to the
    * previous prefix; each step runs twice and reports its faster run.
    */
  def prefixes(ctx: Ctx, listing: Listing, parallelism: Int, stats: SparkStats): Map[String, Double] = {
    val spark = ctx.spark
    val batches = listing.map { case (t, fss) => t -> fss.filter(_.getLen > 0) }.filter(_._2.nonEmpty)
    val topics = batches.keys.toSeq.sorted
    def files(t: String) = batches(t).map(_.getPath.toString)
    val (schemas, schemaS) = best("sources.schema")(parallel(parallelism, topics) { t =>
      t -> AvroRead.topicReaderSchema(spark, files(t))
    }.toMap)
    def frame(t: String): (DataFrame, StructType) = {
      val df = AvroRead.read(spark, files(t), Some(schemas(t)))
      (df, StructType(df.schema.fields.filterNot(f => f.name.startsWith("__"))))
    }
    def stage(name: String)(extra: (StructType, String) => Seq[Column]): Double =
      best(name)(parallel(parallelism, topics) { t =>
        val (df, ds) = frame(t)
        QueryRunner.noop(df.select(df.columns.map(c => col(s"`$c`")).toSeq ++ extra(ds, t): _*))
      })._2
    stats.settle()
    val readBefore = stats.recordsRead.get
    val decode = stage("sources.decode")((_, _) => Nil)
    stats.settle()
    val decoded = (stats.recordsRead.get - readBefore) / 2
    def timeCol(ds: StructType) = graft.time.TimeExtract.timeColumn(ds)
    def pathCol(ds: StructType, t: String) = graft.paths.PathTemplate.compile(
      graft.paths.PathTemplate.defaultTemplate,
      graft.paths.PathTemplate.fixedParams(ds, timeCol(ds), lit(t), Ext))
    val withTime = stage("time.extract")((ds, _) => Seq(timeCol(ds).as("__t")))
    val withPath = stage("paths.route")((ds, t) => Seq(timeCol(ds).as("__t"), pathCol(ds, t).as("__p")))
    val withFlat = stage("model.flatten")((ds, t) =>
      Seq(timeCol(ds).as("__t"), pathCol(ds, t).as("__p")) ++
        graft.model.Flatten.leafPaths(ds).zipWithIndex.map { case ((n, _), i) =>
          graft.model.Flatten.leafColumn(n).cast("string").as(s"__l$i")
        })
    Map(
      "sources.schema_s" -> schemaS,
      "sources.decode_s" -> decode,
      "sources.records_decoded" -> decoded.toDouble,
      "sources.input_bytes" -> batches.values.flatten.map(_.getLen).sum.toDouble,
      "time.extract_s" -> math.max(0.0, withTime - decode),
      "paths.route_s" -> math.max(0.0, withPath - withTime),
      "model.flatten_s" -> math.max(0.0, withFlat - withPath),
      "model.leaf_columns" -> topics.map(t => graft.model.Flatten.leafPaths(frame(t)._2).size).sum.toDouble)
  }

  /** Bin-level write accounting between two snapshots of an output tree:
    * (bins touched, of them pre-existing, bytes of touched bins, bytes added).
    */
  def binDelta(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)])
      : (Int, Int, Long, Long) = {
    def bins(m: Map[String, (Long, Long)]) = m.filter(_._1.endsWith(Ext))
    val (b0, b1) = (bins(before), bins(after))
    val touched = b1.filter { case (p, v) => !b0.get(p).contains(v) }
    val merged = touched.count { case (p, _) => b0.contains(p) }
    val written = touched.values.map(_._1).sum
    val added = b1.values.map(_._1).sum - b0.values.map(_._1).sum
    (touched.size, merged, written, added)
  }
}

/** `restructure`: the two ways graft's restructure is used, in one traffic
  * mix. A backfill — the initial import of a wide connector tree into an
  * empty output — and the service loop over a live tree: small flushes land
  * and are appended, an idle pass finds nothing, the cleaner deletes
  * extracted source files.
  */
object RestructureWorkload {
  import ConnectorGen.{FileInfo, TopicSpec}
  import RestructureLayers._

  val BackfillTopics = Seq(TopicSpec("accelerometer", "accel", 16), TopicSpec("notes", "text", 16),
    TopicSpec("location", "nested", 16))
  val BackfillRecordsPerTopic = 15000
  val BackfillHours = 12
  val BackfillUsers = 32
  val ColdWritesPerIteration = 2

  val ServiceTopics = Seq(TopicSpec("svc_accel", "accel", 4), TopicSpec("svc_notes", "text", 4),
    TopicSpec("svc_location", "nested", 4), TopicSpec("svc_dyn", "dyn", 4))
  val DynTopics: Set[String] = ServiceTopics.filter(_.kind == "dyn").map(_.name).toSet
  val HistoryHours = 12
  val HistoryPerTopic = 600
  val FlushPerTopic = 200
  val LateShare = 0.15
  val AppendsPerIteration = 3
  val IdlesPerIteration = 1
  val ServiceUsers = 24

  final class State(ctx: Ctx) {
    val bfIn: Path = ctx.work.resolve("backfill-in")
    val bf = new ConnectorGen(ctx.seed, bfIn, BackfillUsers)
    val svcIn: Path = ctx.work.resolve("service-in")
    val svcOut: Path = ctx.work.resolve("service-out")
    val svc = new ConnectorGen(ctx.seed * 31 + 7, svcIn, ServiceUsers)
    val svcCfg: RestructureJobConfig = config(svcIn, svcOut, ServiceTopics.size, ctx.nproc)
    var hour = HistoryHours
    var landed = 0L
    val deleted = mutable.ArrayBuffer.empty[FileInfo]

    def coldConfig(out: Path): RestructureJobConfig = config(bfIn, out, BackfillTopics.size, ctx.nproc)

    /** One connector flush per service partition: most records in the
      * newest hour, a fixed share late into the previous hours.
      */
    def flush(): Seq[FileInfo] = {
      val h = hour
      hour += 1
      val before = svc.recordsWritten
      val fs = ServiceTopics.flatMap { t =>
        svc.land(t, FlushPerTopic, _ => {
          val late = svc.uniform() < LateShare
          val hh = if (late) h - 1 - (svc.uniform() * (HistoryHours - 1)).toInt else h
          BaseEpoch + (hh + svc.uniform()) * 3600.0
        }, fileRecords = FlushPerTopic, dupRate = 0.02, openShare = 0.25)
      }
      landed += svc.recordsWritten - before
      fs
    }
  }

  def setup(ctx: Ctx): State = {
    val st = new State(ctx)
    BackfillTopics.foreach { t =>
      val n = BackfillRecordsPerTopic
      st.bf.land(t, n, i => BaseEpoch + (i + st.bf.uniform()) * BackfillHours * 3600.0 / n,
        fileRecords = 1000, dupRate = 0.02, openShare = 0.25)
    }
    ServiceTopics.foreach { t =>
      val n = HistoryPerTopic
      st.svc.land(t, n, i => BaseEpoch + (i + st.svc.uniform()) * HistoryHours * 3600.0 / n,
        fileRecords = 250, dupRate = 0.02, openShare = 0.25)
    }
    ctx.report.stamp("generated")
    // warm-up: one thrown-away cold write of the backfill tree, the service
    // history restructure and one clean. The appends get no warm-up of
    // their own: the median of an iteration's three is robust to a slow
    // first one.
    val warm = ctx.work.resolve("warm-out")
    Restructure.run(ctx.spark, st.coldConfig(warm))
    FileTree.deleteTree(warm)
    ctx.report.stamp("warm cold write")
    Restructure.run(ctx.spark, st.svcCfg)
    ctx.report.stamp("service history")
    clean(ctx, st, "warm-up cleaner")
    ctx.report.stamp("warmed")
    st
  }

  /** One cleaner call; returns (seconds, files checked, files deleted). */
  private def clean(ctx: Ctx, st: State, name: String): Option[(Double, Int, Int)] = {
    val before = st.svc.files.filter(f => Files.exists(f.path)).toSeq
    val led = Restructure.loadLedger(ctx.localFs, st.svcCfg.ledger)
    val extracted = before.filter(f => led.contains(f.topic, f.partition, f.from, f.to, Instant.EPOCH))
      .map(_.path).toSet
    // closed files whose offsets the ledger covers beyond their end: the
    // files the cleaner may verify and delete
    val checked = before.count(f =>
      f.closed && led.contains(f.topic, f.partition, f.from, f.to + 1, Instant.EPOCH))
    ctx.report.op(name)(Trace.span("jobs.cleaner")(Cleaner.run(ctx.spark, st.svcCfg, ageMs = 0L))).map {
      case (res, sec) =>
        res.failedTopics.foreach { case (t, e) => ctx.report.fail(s"$name: topic $t failed: $e") }
        val gone = before.filterNot(f => Files.exists(f.path))
        val errors = mutable.ArrayBuffer.empty[String]
        gone.filterNot(f => extracted(f.path)).foreach(f => errors += s"deleted unextracted file ${f.path}")
        val reported = res.deleted.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
        if (reported != gone.map(_.path.toString).toSet)
          errors += s"cleaner reported ${reported.size} deletions, ${gone.size} files are gone"
        ctx.report.check(s"$name deletions", errors.toSeq)
        st.deleted ++= gone
        (sec, checked, gone.size)
    }
  }

  def measure(ctx: Ctx, st: State): Unit = {
    val r = ctx.report
    final class Mode {
      val cold, append, idle, cleaner = mutable.ArrayBuffer.empty[Double]
      var landed = 0L
      var checked, deleted = 0
      var written, merged = 0
      var writtenBytes, addedBytes = 0L
    }
    val modes = Map(false -> new Mode, true -> new Mode)
    var rep = 0
    var lastOut: Path = null
    var lastCold: OutputCheck.Result = null
    ctx.loop(minEach = 1) { traced =>
      val m = modes(traced)
      (0 until ColdWritesPerIteration).foreach { _ =>
        if (lastOut != null) FileTree.deleteTree(lastOut)
        val out = ctx.work.resolve(s"backfill-out-$rep")
        restructure(ctx, "backfill restructure", st.coldConfig(out)).foreach(m.cold += _)
        val res = OutputCheck.check(out, Ext, st.bf.expected, Set.empty)
        r.check(s"backfill output $rep", res.errors)
        r.check(s"backfill ledger $rep",
          OutputCheck.checkLedger(ctx.spark, out.resolve("_ledger.json"), st.bf.files.toSeq))
        lastOut = out
        lastCold = res
        rep += 1
      }
      Heap.sample()
      (0 until AppendsPerIteration).foreach { _ =>
        val landedBefore = st.landed
        st.flush()
        val snap0 = if (traced) FileTree.snapshot(st.svcOut) else Map.empty[String, (Long, Long)]
        restructure(ctx, "service append", st.svcCfg).foreach { s =>
          m.append += s
          m.landed += st.landed - landedBefore
        }
        if (traced) {
          val (w, mg, wb, ab) = binDelta(snap0, FileTree.snapshot(st.svcOut))
          m.written += w; m.merged += mg; m.writtenBytes += wb; m.addedBytes += ab
        }
      }
      Heap.sample()
      (0 until IdlesPerIteration).foreach { _ =>
        restructure(ctx, "service idle", st.svcCfg).foreach(m.idle += _)
      }
      clean(ctx, st, "service cleaner").foreach { case (s, c, d) =>
        m.cleaner += s; m.checked += c; m.deleted += d
      }
      Heap.sample()
    }
    // every landed record is extracted once, in its bin; the ledger covers
    // every landed file; every deleted file's records are in the output
    val res = OutputCheck.check(st.svcOut, Ext, st.svc.expected, DynTopics)
    r.check("service output", res.errors)
    r.check("service ledger", OutputCheck.checkLedger(ctx.spark, st.svcOut.resolve("_ledger.json"), st.svc.files.toSeq))
    r.check("service cleaner coverage", st.deleted.toSeq.flatMap { f =>
      f.seqs.find(s => !res.seqs.contains(s)).map(s => s"deleted ${f.path} but seq $s is not in the output")
    })

    val u = modes(false)
    if (u.cold.isEmpty || u.append.isEmpty || u.idle.isEmpty || u.cleaner.isEmpty) return
    def med(xs: mutable.ArrayBuffer[Double]) = Stats.median(xs.toSeq)
    // one iteration of the mix, from the medians of its calls
    val iterRecords = ColdWritesPerIteration * st.bf.recordsWritten.toDouble +
      AppendsPerIteration * u.landed.toDouble / u.append.size
    val iterSec = ColdWritesPerIteration * med(u.cold) + AppendsPerIteration * med(u.append) +
      IdlesPerIteration * med(u.idle) + med(u.cleaner)
    r.endToEnd("latency_s") = med(u.append)
    r.endToEnd("throughput_per_s") = iterRecords / iterSec
    r.detail("backfill_restructure_s") = Stats.detail(u.cold.toSeq)
    r.detail("append_iteration_s") = Stats.detail(u.append.toSeq)
    r.detail("idle_iteration_s") = Stats.detail(u.idle.toSeq)
    r.detail("cleaner_s") = Stats.detail(u.cleaner.toSeq)
    r.detail("input") = Map(
      "backfill" -> Map("records" -> st.bf.recordsWritten, "distinct" -> st.bf.expected.size,
        "duplicates_planted" -> st.bf.dupsPlanted, "files" -> st.bf.files.size,
        "bytes" -> st.bf.bytesWritten, "users" -> BackfillUsers, "hours" -> BackfillHours),
      "service" -> Map("records" -> st.svc.recordsWritten, "duplicates_planted" -> st.svc.dupsPlanted,
        "files" -> st.svc.files.size, "late_share" -> LateShare,
        "flush_records_per_topic" -> FlushPerTopic))
    r.layer("backfill_records_per_s") = st.bf.recordsWritten / med(u.cold)
    r.layer("append_iteration_s") = med(u.append)
    r.layer("idle_iteration_s") = med(u.idle)
    r.layer("cleaner_s") = med(u.cleaner)

    val t = modes(true)
    if (ctx.trace && t.cold.nonEmpty && t.append.nonEmpty) {
      val coldT = med(t.cold)
      r.layer ++= ctx.stats.layerMetrics
      ctx.traced { s =>
        val (bfDriver, bfListing) = listingAndLedger(ctx, st.bfIn, lastOut.resolve("_ledger.json"))
        val cluster = prefixes(ctx, bfListing, math.min(BackfillTopics.size, ctx.nproc), s)
        val (svcDriver, _) = listingAndLedger(ctx, st.svcIn, st.svcOut.resolve("_ledger.json"))
        r.layer ++= cluster ++ svcDriver
        val covered = Seq("sources.list_s", "ledger.load_s", "ledger.filter_s", "ledger.save_s")
          .map(bfDriver).sum + Seq("sources.schema_s", "sources.decode_s", "time.extract_s",
          "paths.route_s", "model.flatten_s").map(cluster).sum
        r.layer("jobs.restructure_s") = coldT
        r.layer("jobs.write_commit_s") = math.max(0.0, coldT - covered)
      }
      val n = t.append.size.toDouble
      r.layer("trace.overhead_ratio") = (coldT + med(t.append)) / (med(u.cold) + med(u.append)) - 1
      r.layer("jobs.bins_written") = t.written / n
      r.layer("jobs.bins_merged") = t.merged / n
      r.layer("jobs.output_bytes") = t.writtenBytes / n
      r.layer("jobs.write_amp") = t.writtenBytes.toDouble / math.max(1L, t.addedBytes)
      r.layer("jobs.cleaner_files_checked") = t.checked.toDouble
      r.layer("jobs.cleaner_files_deleted") = t.deleted.toDouble
      r.layer("jobs.cleaner_delete_ratio") = t.deleted.toDouble / math.max(1, t.checked)
      r.layer("jobs.dedup_drop_ratio") =
        (st.bf.recordsWritten - lastCold.rows).toDouble / math.max(1L, st.bf.dupsPlanted)
    }
  }
}
