package graft.jobs

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Connector-style Avro input for specs: records given as nested Scala
  * values (a Scala `Map` is a record or an Avro map, as the schema says; a
  * `Seq` is an array), written to one container file.
  */
object AvroRecords {

  def datum(s: Schema, v: Any): Any = (s.getType, v) match {
    case (Schema.Type.RECORD, m: Map[_, _]) =>
      val r = new GenericData.Record(s)
      m.foreach { case (k: String, x) => r.put(k, datum(s.getField(k).schema, x)) }
      r
    case (Schema.Type.MAP, m: Map[_, _]) =>
      m.map { case (k, x) => k -> datum(s.getValueType, x) }.asJava
    case (Schema.Type.ARRAY, xs: Seq[_]) => xs.map(datum(s.getElementType, _)).asJava
    case _ => v
  }

  def write(dir: Path, name: String, schema: Schema, records: Seq[Map[String, Any]]): Path = {
    Files.createDirectories(dir)
    val f = new File(dir.toFile, name)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    records.foreach(r => w.append(datum(schema, r).asInstanceOf[GenericRecord]))
    w.close()
    f.toPath
  }
}
