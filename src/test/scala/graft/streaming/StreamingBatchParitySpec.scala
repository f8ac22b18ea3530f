package graft.streaming

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.jobs.{AvroRecords, Restructure, RestructureJobConfig}
import graft.paths.PathTemplate
import graft.sources.AvroRead
import graft.time.TimeExtract

/** The streaming form writes the bins the batch form writes: the same
  * records through `Restructure.run` and through one
  * `StreamingRestructure.processBatch` per topic give byte-identical bins.
  * The batch form's `schema-*.json` sidecar is left out (a stream has no
  * Avro schema), as is the batch ledger.
  */
class StreamingBatchParitySpec extends SparkSpec {

  private def schema(valueFields: String): Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"R","fields":[
       |{"name":"key","type":{"type":"record","name":"K","fields":[
       |  {"name":"userId","type":"string"}]}},
       |{"name":"value","type":{"type":"record","name":"V","fields":[
       |  {"name":"time","type":"double"},$valueFields]}}]}""".stripMargin)
  private val t0 = 1.6095816e9 // 2021-01-02T10:00Z

  private def rec(user: String, hour: Int, value: (String, Any)*): Map[String, Any] =
    Map("key" -> Map("userId" -> user), "value" -> (Map("time" -> (t0 + 3600.0 * hour)) ++ value))

  /** topic → (schema, records): map + array fields (several shapes per
    * bin), a nested record, and flat static fields.
    */
  private val topics: Seq[(String, Schema, Seq[Map[String, Any]])] = Seq(
    ("map_topic", schema(
      """{"name":"props","type":{"type":"map","values":"int"}},
        |{"name":"arr","type":{"type":"array","items":"string"}}""".stripMargin), Seq(
      rec("u1", 0, "props" -> Map("a" -> 1, "b" -> 2), "arr" -> Seq("x", "y, z")),
      rec("u1", 0, "props" -> Map("a" -> 3), "arr" -> Seq("w")),
      rec("u2", 1, "props" -> Map.empty[String, Int], "arr" -> Seq.empty[String]),
      rec("u1", 0, "props" -> Map("b" -> 4, "a" -> 5), "arr" -> Seq("v", "u")),
      rec("u2", 1, "props" -> Map("c" -> 6), "arr" -> Seq("t")))),
    ("nested_topic", schema(
      """{"name":"loc","type":{"type":"record","name":"L","fields":[
        |  {"name":"lat","type":"double"},{"name":"lon","type":"double"}]}},
        |{"name":"name","type":["null","string"]}""".stripMargin), Seq(
      rec("u1", 0, "loc" -> Map("lat" -> 52.1, "lon" -> 4.3), "name" -> "a \"q\""),
      rec("u2", 0, "loc" -> Map("lat" -> -1.0, "lon" -> 0.5), "name" -> null),
      rec("u1", 2, "loc" -> Map("lat" -> 0.0, "lon" -> 0.0), "name" -> "line\nbreak"))),
    ("static_topic", schema("""{"name":"v","type":"string"}"""), Seq(
      rec("u1", 0, "v" -> "a"), rec("u1", 0, "v" -> "b"), rec("u3", 1, "v" -> "c"))))

  private def bins(out: Path): Map[String, Seq[Byte]] =
    Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("schema-") && !p.getFileName.toString.startsWith("_"))
      .map(p => out.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  for (gzip <- Seq(false, true)) {
    test(s"streaming ≡ batch bins, byte for byte (map/array, nested, static; gzip=$gzip)") {
      val work = Files.createTempDirectory("graft-stream-parity")
      val files = topics.map { case (t, s, recs) =>
        t -> AvroRecords.write(work.resolve(s"in/$t/partition=0"),
          f"$t+0+0000000000+${recs.size - 1}%010d.avro", s, recs).toString
      }
      val batchCfg = RestructureJobConfig(inputRoot = work.resolve("in").toString,
        outputRoot = work.resolve("batch").toString, gzip = gzip)
      assert(Restructure.run(spark, batchCfg).failedTopics.isEmpty)

      val streamCfg = batchCfg.copy(outputRoot = work.resolve("stream").toString)
      for ((topic, file) <- files) {
        val batch = AvroRead.read(spark, Seq(file)).drop(AvroRead.FileCol, AvroRead.PosCol)
        val time = TimeExtract.timeColumn(batch.schema)
        val path = PathTemplate.compile(PathTemplate.defaultTemplate,
          PathTemplate.fixedParams(batch.schema, time, lit(topic), streamCfg.extension),
          Some(time), Some(batch.schema))
        StreamingRestructure.processBatch(spark, streamCfg, topic, batch, batch.schema, path,
          batchId = 0L)
      }

      val batchBins = bins(work.resolve("batch"))
      val streamBins = bins(work.resolve("stream"))
      // the map topic splits its bins into attempt files
      assert(batchBins.keys.exists(_.contains("map_topic/20210102_1000_1.csv")), batchBins.keys)
      assert(streamBins.keySet == batchBins.keySet,
        s"streaming ${streamBins.keys.toSeq.sorted} vs batch ${batchBins.keys.toSeq.sorted}")
      for ((p, bytes) <- batchBins)
        assert(streamBins(p) == bytes, s"$p differs:\n${new String(streamBins(p).toArray, "UTF-8")}" +
          s"\nvs\n${new String(bytes.toArray, "UTF-8")}")
    }
  }
}
