package perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Seeded Kafka-connector Avro for the restructure workloads.
  *
  * Layout: `<root>/<topic>/partition=<p>/<topic>+<p>+<from>[+<to>].avro`,
  * one directory per Kafka partition, files cut every `fileRecords`
  * records, a share of them open-ended (no end offset in the name, as the
  * connector writes the newest slice). Users are Zipf-skewed and keyed to
  * partitions, so partitions are skewed too. At-least-once delivery is
  * modelled by re-appending a recent record of the same partition at a
  * later offset (`dupRate`); the copy carries the same `value.seq`.
  *
  * Every record carries a unique `value.seq`; the generator keeps the
  * expected flattened values and bin of each one, and the offsets of every
  * file, so the output checks never read the program's inputs back through
  * the program.
  */
object ConnectorGen {
  /** A topic shape: `accel` (doubles), `text` (string-heavy), `nested`
    * (structs), `dyn` (map and array fields of varying shape).
    */
  final case class TopicSpec(name: String, kind: String, partitions: Int)

  final case class Expected(topic: String, bin: String, values: Map[String, Any])

  final case class FileInfo(topic: String, partition: Int, from: Long, to: Long,
      closed: Boolean, path: Path, seqs: Array[Long])

  private val keySchema =
    """{"type":"record","name":"ObservationKey","namespace":"bench","fields":[
      |{"name":"projectId","type":"string"},{"name":"userId","type":"string"},
      |{"name":"sourceId","type":"string"}]}""".stripMargin

  private def valueFields(kind: String): String = kind match {
    case "accel" =>
      """{"name":"x","type":"double"},{"name":"y","type":"double"},{"name":"z","type":"double"}"""
    case "text" =>
      """{"name":"category","type":"string"},{"name":"message","type":"string"},
        |{"name":"tags","type":"string"}""".stripMargin
    case "nested" =>
      """{"name":"location","type":{"type":"record","name":"Location","fields":[
        |  {"name":"lat","type":"double"},{"name":"lon","type":"double"},
        |  {"name":"accuracy","type":"float"}]}},
        |{"name":"device","type":{"type":"record","name":"Device","fields":[
        |  {"name":"model","type":"string"},{"name":"battery","type":"int"}]}}""".stripMargin
    case "dyn" =>
      """{"name":"props","type":{"type":"map","values":"double"}},
        |{"name":"samples","type":{"type":"array","items":"double"}}""".stripMargin
  }

  def schema(kind: String): Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"Record_$kind","namespace":"bench","fields":[
       |{"name":"key","type":$keySchema},
       |{"name":"value","type":{"type":"record","name":"Value_$kind","fields":[
       |  {"name":"time","type":"double"},{"name":"timeReceived","type":"double"},
       |  ${valueFields(kind)},{"name":"seq","type":"long"}]}}]}""".stripMargin)

  private val words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo " +
    "lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey " +
    "xray yankee zulu sensor reading battery screen walk sleep heart rate step").split(' ')
  private val categories = Array("note", "survey", "alert", "diary", "log", "event")
  private val models = Array("pixel-7", "galaxy-s21", "iphone-13", "moto-g", "e4-wristband")
  private val dynShapes = Array(Seq("hr", "rr"), Seq("hr", "rr", "spo2"))

  private val binFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HH00").withZone(ZoneOffset.UTC)
  def hourBin(epochSec: Double): String =
    binFmt.format(Instant.ofEpochSecond(math.floor(epochSec).toLong))
}

final class ConnectorGen(seed: Long, root: Path, users: Int, zipfS: Double = 1.1) {
  import ConnectorGen._

  private val rng = new SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = (1 to users).map(i => 1.0 / math.pow(i, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val schemas = mutable.Map.empty[String, Schema]
  private val nextOffset = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
  private val recent = mutable.Map.empty[(String, Int), mutable.ArrayBuffer[(Long, GenericRecord)]]

  val expected = mutable.LongMap.empty[Expected]
  val files = mutable.ArrayBuffer.empty[FileInfo]
  var nextSeq = 0L
  var recordsWritten = 0L
  var dupsPlanted = 0L
  var bytesWritten = 0L

  private def user(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(users - 1, if (i >= 0) i else -i - 1)
  }
  def uniform(): Double = rng.nextDouble()

  private def partitionOf(t: TopicSpec, u: Int): Int =
    Math.floorMod((t.name + "#" + u).hashCode, t.partitions)

  /** One record of topic `t` for user `u` at epoch seconds `time`. */
  private def record(t: TopicSpec, u: Int, time: Double): (GenericRecord, Expected) = {
    val sch = schemas.getOrElseUpdate(t.kind, schema(t.kind))
    val seq = nextSeq
    nextSeq += 1
    val received = math.rint((time + 0.5 + rng.nextDouble() * 4) * 1000) / 1000
    val key = new GenericData.Record(sch.getField("key").schema)
    val (project, userId, source) = (s"proj-${u % 4}", s"user-$u", s"src-$u")
    key.put("projectId", project); key.put("userId", userId); key.put("sourceId", source)
    val vs = sch.getField("value").schema
    val v = new GenericData.Record(vs)
    v.put("time", time); v.put("timeReceived", received); v.put("seq", seq)
    val ev = mutable.LinkedHashMap[String, Any](
      "key.projectId" -> project, "key.userId" -> userId, "key.sourceId" -> source,
      "value.time" -> time, "value.timeReceived" -> received)
    t.kind match {
      case "accel" =>
        Seq("x", "y", "z").foreach { f =>
          val d = rng.nextDouble() * 19.6 - 9.8
          v.put(f, d); ev(s"value.$f") = d
        }
      case "text" =>
        val cat = categories(rng.nextInt(categories.length))
        val n = 6 + rng.nextInt(25)
        val msg = (0 until n).map { i =>
          val w = words(rng.nextInt(words.length))
          if (i > 0 && rng.nextInt(9) == 0) s", $w" else if (rng.nextInt(40) == 0) s""""$w"""" else w
        }.mkString(" ")
        val tags = (0 until 1 + rng.nextInt(4)).map(_ => words(rng.nextInt(words.length))).mkString(";")
        v.put("category", cat); v.put("message", msg); v.put("tags", tags)
        ev("value.category") = cat; ev("value.message") = msg; ev("value.tags") = tags
      case "nested" =>
        val ls = vs.getField("location").schema
        val ds = vs.getField("device").schema
        val loc = new GenericData.Record(ls)
        val lat = 52.0 + rng.nextDouble(); val lon = 4.0 + rng.nextDouble()
        val acc = (rng.nextInt(5000) / 100.0).toFloat
        loc.put("lat", lat); loc.put("lon", lon); loc.put("accuracy", acc)
        val dev = new GenericData.Record(ds)
        val model = models(u % models.length); val battery = rng.nextInt(101)
        dev.put("model", model); dev.put("battery", battery)
        v.put("location", loc); v.put("device", dev)
        ev("value.location.lat") = lat; ev("value.location.lon") = lon
        ev("value.location.accuracy") = acc
        ev("value.device.model") = model; ev("value.device.battery") = battery
      case "dyn" =>
        val props = new java.util.HashMap[String, Double]()
        dynShapes(u % dynShapes.length).foreach { k =>
          val d = math.rint(rng.nextDouble() * 10000) / 100
          props.put(k, d); ev(s"value.props.$k") = d
        }
        val samples = (0 until 2 + u % 2).map(_ => math.rint(rng.nextDouble() * 1000) / 10)
        samples.zipWithIndex.foreach { case (d, i) => ev(s"value.samples.$i") = d }
        v.put("props", props); v.put("samples", samples.map(Double.box).asJava)
    }
    ev("value.seq") = seq
    val rec = new GenericData.Record(sch)
    rec.put("key", key); rec.put("value", v)
    (rec, Expected(t.name, s"$project/$userId/${t.name}/${hourBin(time)}", ev.toMap))
  }

  /** Land `n` new records of topic `t` as connector files; `time(i)` gives
    * record i's epoch seconds. Returns the files written.
    */
  def land(t: TopicSpec, n: Int, time: Int => Double, fileRecords: Int, dupRate: Double,
      openShare: Double): Seq[FileInfo] = {
    val perPartition = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, GenericRecord)]]
    (0 until n).foreach { i =>
      val u = user()
      val p = partitionOf(t, u)
      val (rec, exp) = record(t, u, math.rint(time(i) * 1000) / 1000)
      val seq = rec.get("value").asInstanceOf[GenericRecord].get("seq").asInstanceOf[Long]
      expected(seq) = exp
      val buf = perPartition.getOrElseUpdate(p, mutable.ArrayBuffer.empty)
      buf += ((seq, rec))
      val rc = recent.getOrElseUpdate((t.name, p), mutable.ArrayBuffer.empty)
      rc += ((seq, rec))
      if (rc.size > 64) rc.remove(0)
      if (rng.nextDouble() < dupRate) {
        buf += rc(rng.nextInt(rc.size))
        dupsPlanted += 1
      }
    }
    val sch = schemas(t.kind)
    val written = perPartition.toSeq.sortBy(_._1).flatMap { case (p, recs) =>
      recs.grouped(fileRecords).map { chunk =>
        val from = nextOffset((t.name, p))
        val to = from + chunk.size - 1
        nextOffset((t.name, p)) = to + 1
        val closed = rng.nextDouble() >= openShare
        val dir = root.resolve(t.name).resolve(s"partition=$p")
        Files.createDirectories(dir)
        val name = if (closed) f"${t.name}+$p+$from%010d+$to%010d.avro" else f"${t.name}+$p+$from%010d.avro"
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
        val path = dir.resolve(name)
        w.create(sch, path.toFile)
        try chunk.foreach { case (_, r) => w.append(r) } finally w.close()
        recordsWritten += chunk.size
        bytesWritten += Files.size(path)
        val info = FileInfo(t.name, p, from, to, closed, path, chunk.map(_._1).toArray)
        files += info
        info
      }
    }
    written
  }
}

/** Reads a restructure output tree back without going through the program
  * and compares it with what the generator planted.
  */
object OutputCheck {
  import ConnectorGen._

  final case class Result(errors: Seq[String], rows: Long, binFiles: Int, binBytes: Long,
      seqs: mutable.LongMap[String])

  private val MaxErrors = 200

  /** RFC 4180 reader: quoted fields, doubled quotes, embedded newlines. */
  def parseCsv(r: java.io.Reader): Iterator[Array[String]] = new Iterator[Array[String]] {
    private val in = new java.io.BufferedReader(r, 1 << 16)
    private var nextRow: Array[String] = read()
    def hasNext: Boolean = nextRow != null
    def next(): Array[String] = { val x = nextRow; nextRow = read(); x }
    private def read(): Array[String] = {
      var c = in.read()
      if (c < 0) return null
      val fields = mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var quoted = false
      var done = false
      while (!done) {
        if (c < 0) { fields += sb.toString; done = true }
        else if (quoted) {
          if (c == '"') {
            val d = in.read()
            if (d == '"') { sb.append('"'); c = in.read() } else { quoted = false; c = d }
          } else { sb.append(c.toChar); c = in.read() }
        } else c match {
          case '"' => quoted = true; c = in.read()
          case ',' => fields += sb.toString; sb.clear(); c = in.read()
          case '\r' => c = in.read()
          case '\n' => fields += sb.toString; done = true
          case _ => sb.append(c.toChar); c = in.read()
        }
      }
      fields.toArray
    }
  }

  private def matches(exp: Any, got: String): Boolean = exp match {
    case null => got.isEmpty
    case d: Double => got.toDoubleOption.contains(d)
    case f: Float => got.toFloatOption.contains(f)
    case i: Int => got.toIntOption.contains(i)
    case l: Long => got.toLongOption.contains(l)
    case s: String => got == s
    case other => got == other.toString
  }

  /** Check every bin under `outRoot` against `expected` (keyed by seq):
    * each planted record appears exactly once, with its values, in the bin
    * its time and key dictate; no temp files remain.
    */
  def check(outRoot: Path, ext: String, expected: collection.Map[Long, Expected],
      dynamicTopics: Set[String]): Result = {
    val errors = mutable.ArrayBuffer.empty[String]
    def err(m: => String): Unit = if (errors.size < MaxErrors) errors += m
    val seen = mutable.LongMap.empty[String]
    var rows = 0L
    var binFiles = 0
    var binBytes = 0L
    val walk = Files.walk(outRoot)
    val paths = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    paths.foreach { p =>
      val rel = outRoot.relativize(p).toString
      val name = p.getFileName.toString
      if (rel.split('/').exists(_.startsWith("."))) err(s"temp file left behind: $rel")
      else if (rel == "_ledger.json" || name.startsWith("schema-") && name.endsWith(".json")) ()
      else if (!name.endsWith(ext)) err(s"unexpected output file: $rel")
      else {
        binFiles += 1
        binBytes += Files.size(p)
        val dir = rel.substring(0, rel.lastIndexOf('/'))
        val stem = name.stripSuffix(ext)
        val in = new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(Files.newInputStream(p), 1 << 16), "UTF-8")
        try {
          val it = parseCsv(in)
          if (!it.hasNext) err(s"empty bin: $rel")
          else {
            val header = it.next()
            val seqIdx = header.indexOf("value.seq")
            if (seqIdx < 0) err(s"no value.seq column in $rel")
            else it.foreach { row =>
              rows += 1
              if (row.length != header.length) err(s"$rel: row has ${row.length} fields, header ${header.length}")
              else row(seqIdx).toLongOption.flatMap(expected.get(_).map(row(seqIdx).toLong -> _)) match {
                case None => err(s"$rel: row with unknown seq '${row(seqIdx)}'")
                case Some((seq, exp)) =>
                  if (seen.contains(seq)) err(s"seq $seq written twice: ${seen(seq)} and $rel")
                  seen(seq) = rel
                  val binOk = dir + "/" + stem == exp.bin ||
                    dynamicTopics(exp.topic) && (dir + "/" + stem).matches(
                      java.util.regex.Pattern.quote(exp.bin) + "_\\d+")
                  if (!binOk) err(s"seq $seq in $rel, expected bin ${exp.bin}")
                  header.indices.foreach { i =>
                    val e = exp.values.getOrElse(header(i), null)
                    if (!matches(e, row(i))) err(s"seq $seq column ${header(i)}: got '${row(i)}' expected '$e'")
                  }
                  exp.values.keys.filterNot(header.contains).foreach { c =>
                    err(s"seq $seq: column $c missing from $rel")
                  }
              }
            }
          }
        } catch {
          case e: java.io.IOException => err(s"$rel unreadable: $e")
        } finally in.close()
      }
    }
    val missing = expected.keysIterator.filterNot(seen.contains)
    missing.take(20).foreach(s => err(s"seq $s (${expected(s).bin}) missing from the output"))
    val nMissing = expected.size - seen.size
    if (nMissing > 20) err(s"... $nMissing records missing in total")
    Result(errors.toSeq, rows, binFiles, binBytes, seen)
  }

  /** Every offset of every listed file is covered by the ledger. */
  def checkLedger(spark: org.apache.spark.sql.SparkSession, ledgerPath: Path,
      files: Seq[FileInfo]): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val ledger = graft.jobs.Restructure.loadLedger(fs, ledgerPath.toString)
    files.filterNot { f =>
      ledger.contains(f.topic, f.partition, f.from, f.to, Instant.EPOCH)
    }.take(20).map(f => s"ledger does not cover ${f.topic}+${f.partition} [${f.from}, ${f.to}]")
  }
}
