package graft.jobs

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema

import graft.SparkSpec
import graft.paths.{MpDimensionSource, MpPathFormatterPlugin}

/** The cleaner re-derives each record's bin by the writer's own route and
  * looks for it in the bin's whole attempt family. Each case lands records,
  * cleans with no age guard and restructures again: the closed file must be
  * deleted, nothing rolled back, and the output must hold each landed
  * record once (a rolled-back file would be extracted a second time).
  */
class CleanerRouteSpec extends SparkSpec {

  private val dynSchema = new Schema.Parser().parse(
    """{"type":"record","name":"D","fields":[
      |{"name":"key","type":{"type":"record","name":"K","fields":[
      |  {"name":"userId","type":"string"}]}},
      |{"name":"value","type":{"type":"record","name":"V","fields":[
      |  {"name":"time","type":"double"},
      |  {"name":"props","type":{"type":"map","values":"int"}}]}}]}""".stripMargin)
  private val staticSchema = new Schema.Parser().parse(
    """{"type":"record","name":"S","fields":[
      |{"name":"key","type":{"type":"record","name":"K","fields":[
      |  {"name":"projectId","type":"string"},{"name":"userId","type":"string"}]}},
      |{"name":"value","type":{"type":"record","name":"V","fields":[
      |  {"name":"time","type":"double"},{"name":"v","type":"string"}]}}]}""".stripMargin)
  private val t0 = 1.6095816e9 // 2021-01-02T10:00Z

  private def dyn(user: String, props: Map[String, Int], minute: Int = 0): Map[String, Any] =
    Map("key" -> Map("userId" -> user),
      "value" -> Map("time" -> (t0 + 60.0 * minute), "props" -> props))
  private def static(user: String, v: String): Map[String, Any] =
    Map("key" -> Map("projectId" -> "p1", "userId" -> user), "value" -> Map("time" -> t0, "v" -> v))

  /** Two users, each with two map-key shapes in one hourly bin; every
    * record has its own time, so each attempt file holds times the other
    * lacks.
    */
  private val dynRecords = Seq(
    dyn("u1", Map("a" -> 1), 1), dyn("u1", Map("b" -> 2), 2), dyn("u2", Map("a" -> 3), 3),
    dyn("u2", Map("b" -> 4), 4), dyn("u1", Map("a" -> 5), 5))
  private val staticRecords = (1 to 5).map(i => static(s"u${i % 2}", s"v$i"))

  /** A closed file of `records` and a later one-record file, so the ledger
    * covers the closed file's end + 1 and the cleaner may delete it.
    */
  private def land(schema: Schema, topic: String, records: Seq[Map[String, Any]])
      : (Path, Path) = {
    val work = Files.createTempDirectory("graft-cleaner-route")
    val dir = work.resolve(s"in/$topic/partition=0")
    val closed = AvroRecords.write(dir, f"$topic+0+0000000000+${records.size - 1}%010d.avro",
      schema, records)
    AvroRecords.write(dir, f"$topic+0+${records.size}%010d+${records.size}%010d.avro",
      schema, records.take(1))
    (work, closed)
  }

  private def timeBins(out: Path): Seq[String] =
    Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.matches("\\d{8}_.*"))
      .map(p => out.relativize(p).toString).toSeq.sorted

  /** Data lines over every time bin (csv, json; plain, gzip or zip). */
  private def dataRows(out: Path): Int = timeBins(out).map { rel =>
    val raw = Files.newInputStream(out.resolve(rel))
    val in =
      if (rel.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
      else if (rel.endsWith(".zip")) {
        val z = new java.util.zip.ZipInputStream(raw); z.getNextEntry; z
      } else raw
    val lines = try new String(in.readAllBytes(), "UTF-8").linesIterator.size finally in.close()
    if (rel.contains(".csv")) lines - 1 else lines
  }.sum

  private def cleanCycle(schema: Schema, topic: String, records: Seq[Map[String, Any]],
      cfgOf: (Path, Path) => RestructureJobConfig): Seq[String] = {
    val (work, closed) = land(schema, topic, records)
    val out = work.resolve("out")
    val cfg = cfgOf(work.resolve("in"), out)
    assert(Restructure.run(spark, cfg).failedTopics.isEmpty)
    val cleaned = Cleaner.run(spark, cfg, ageMs = 0L)
    assert(cleaned.failedTopics.isEmpty, cleaned.failedTopics.toString)
    assert(cleaned.rolledBack.isEmpty, s"rolled back: ${cleaned.rolledBack}")
    assert(cleaned.deleted.size == 1 && !Files.exists(closed), s"deleted: ${cleaned.deleted}")
    assert(Restructure.run(spark, cfg).failedTopics.isEmpty)
    assert(dataRows(out) == records.size + 1, s"bins: ${timeBins(out)}")
    timeBins(out)
  }

  private def cfgAt(in: Path, out: Path): RestructureJobConfig =
    RestructureJobConfig(inputRoot = in.toString, outputRoot = out.toString)

  test("dynamic topic: two shapes in one hourly bin are found across the attempt family") {
    val bins = cleanCycle(dynSchema, "dyn_topic", dynRecords, cfgAt)
    assert(bins == Seq(
      "unknown-project/u1/dyn_topic/20210102_1000.csv",
      "unknown-project/u1/dyn_topic/20210102_1000_1.csv",
      "unknown-project/u2/dyn_topic/20210102_1000.csv",
      "unknown-project/u2/dyn_topic/20210102_1000_1.csv"))
  }

  test("dynamic topic, chunked cleaner (mergeChunkBins = 1): a family stays in one chunk") {
    cleanCycle(dynSchema, "dyn_topic", dynRecords,
      (in, out) => cfgAt(in, out).copy(mergeChunkBins = 1))
  }

  test("gzip and chunked zip attempt families, and JSON bins, verify by the same route") {
    val gz = cleanCycle(dynSchema, "dyn_topic", dynRecords,
      (in, out) => cfgAt(in, out).copy(gzip = true))
    assert(gz.count(_.endsWith("_1.csv.gz")) == 2, gz.toString)
    val zip = cleanCycle(dynSchema, "dyn_topic", dynRecords,
      (in, out) => cfgAt(in, out).copy(zip = true, mergeChunkBins = 1))
    assert(zip.count(_.endsWith("_1.csv.zip")) == 2, zip.toString)
    cleanCycle(staticSchema, "st_topic", staticRecords,
      (in, out) => cfgAt(in, out).copy(format = "json"))
  }

  test("static topic under a bucket template") {
    val bins = cleanCycle(staticSchema, "st_topic", staticRecords,
      (in, out) => cfgAt(in, out).copy(bucketTemplate = Some("bkt-${topic}")))
    assert(bins.forall(_.startsWith("bkt-st_topic/p1/")), bins.toString)
  }

  test("static topic routed by an mp: path plugin") {
    val sql = spark
    import sql.implicits._
    val plugin = new MpPathFormatterPlugin(new MpDimensionSource.Static(
      Seq(("p1", "org-A", Map.empty[String, String])).toDF("id", "organization", "attributes"),
      Seq(("p1", "u1", "g", "e", Map.empty[String, String]))
        .toDF("projectId", "id", "group", "externalId", "attributes")))
    val bins = cleanCycle(staticSchema, "st_topic", staticRecords,
      (in, out) => cfgAt(in, out).copy(
        pathTemplate = "${mp:organization}/${projectId}/${userId}/${topic}/${filename}",
        pathPlugins = Seq(plugin)))
    assert(bins.forall(_.startsWith("org-A/p1/")), bins.toString)
  }

  test("a map key holding \" AS \" keeps its whole name in the dynamic header") {
    val (work, _) = land(dynSchema, "dyn_topic", Seq(dyn("u1", Map("x AS y" -> 1))))
    val out = work.resolve("out")
    Restructure.run(spark, cfgAt(work.resolve("in"), out))
    val bin = out.resolve("unknown-project/u1/dyn_topic/20210102_1000.csv")
    assert(Files.readAllLines(bin).get(0) == "key.userId,value.time,value.props.x AS y")
  }

  /** Spark jobs of one cleaner run over a landed and restructured topic;
    * `tamper` edits the output before the cleaner runs.
    */
  private def cleanerJobs(schema: Schema, topic: String, records: Seq[Map[String, Any]],
      tamper: Path => Unit = _ => ()): (Int, Cleaner.CleanResult) = {
    val (work, _) = land(schema, topic, records)
    val cfg = cfgAt(work.resolve("in"), work.resolve("out"))
    Restructure.run(spark, cfg)
    tamper(work.resolve("out"))
    var cleaned: Cleaner.CleanResult = null
    val jobs = SparkJobs.count(spark) { cleaned = Cleaner.run(spark, cfg, ageMs = 0L) }
    (jobs, cleaned)
  }

  test("cleaner job count per topic: the route and the attempt-family probe add no job") {
    // a static bin and a dynamic bin's two-file attempt family verify in
    // the same number of jobs
    assert(cleanerJobs(staticSchema, "st_topic", staticRecords)._1 == 7)
    assert(cleanerJobs(dynSchema, "dyn_topic", dynRecords)._1 == 7)
  }

  test("cleaner job count does not depend on the verdicts") {
    val (verified, ok) = cleanerJobs(staticSchema, "st_topic", staticRecords)
    assert(ok.deleted.size == 1 && ok.rolledBack.isEmpty, ok.toString)
    // the same topic with one user's bin gone: its records are missing, so
    // the closed file fails verification
    val (failing, bad) = cleanerJobs(staticSchema, "st_topic", staticRecords,
      out => Files.delete(out.resolve("p1/u1/st_topic/20210102_1000.csv")))
    assert(bad.deleted.isEmpty && bad.rolledBack.size == 1, bad.toString)
    assert(verified == failing, s"all verified: $verified jobs, one file failing: $failing")
  }
}
