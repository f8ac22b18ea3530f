package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bin paths containing URI-escapable characters (space, %, +, non-ASCII)
  * must round-trip EXACTLY through the append-merge machinery. Historically
  * the merge re-derived each existing row's bin path from
  * `input_file_name`'s percent-ENCODED URI — a naive strip would re-bin
  * "my topic/x.csv" rows under "my%20topic/x.csv", silently duplicating
  * the bin. Both merge readers now carry the known relative path directly
  * (no URI round-trip at all), and THESE e2es are what hold that contract:
  * unsanitized path params (`value:` lookups, plugin output) can genuinely
  * produce such paths.
  */
class PathCharsSpec extends SparkSpec {

  test("append-merge round-trips bins whose paths carry space, %, + (csv + json; plain, gzip, zip)") {
    import org.apache.spark.sql.types._
    import graft.sources.AvroRead
    val dataSchema = StructType(Seq(StructField("a", StringType)))
    for {
      json <- Seq(false, true)
      (gz, zip) <- Seq((false, false), (true, false), (false, true))
    } {
      val out = Files.createTempDirectory("graft-pathchars").toString
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cfg = RestructureJobConfig(inputRoot = out, outputRoot = out,
        gzip = gz, zip = zip, format = if (json) "json" else "csv")
      val ext = cfg.extension
      def frame(tag: String) = {
        import spark.implicits._
        Seq(
          (s"plain/bin$ext", s"$tag-0"),
          (s"my topic/has space$ext", s"$tag-1"),
          (s"pct%20dir/x%y$ext", s"$tag-2"),
          (s"plus+dir/a+b$ext", s"$tag-3"))
          .toDF("__p", "a")
          .select(col("a"), col("__p"),
            lit("f0").as(AvroRead.FileCol),
            monotonically_increasing_id().as(AvroRead.PosCol))
      }
      def write(tag: String) =
        Restructure.writeBins(spark, cfg, fs, "t", frame(tag), dataSchema, col("__p"), None).bins
      val cold = write("c")
      assert(cold.count == 4, s"(json=$json,$gz,$zip) cold: $cold")
      val append = write("d")
      assert(append.count == 4,
        s"(json=$json,$gz,$zip) append re-binned a special-char path: $append")
      assert(append.sample.toSet == cold.sample.toSet,
        s"(json=$json,$gz,$zip): $cold vs $append")
      // every bin holds BOTH rows — the existing row survived the merge
      // under its original path instead of forking an encoded twin
      for (p <- cold.sample) {
        val full = new org.apache.hadoop.fs.Path(s"$out/$p")
        val raw: java.io.InputStream =
          if (zip) { val z = new java.util.zip.ZipInputStream(fs.open(full)); z.getNextEntry; z }
          else if (gz) new java.util.zip.GZIPInputStream(fs.open(full))
          else fs.open(full)
        val lines = scala.io.Source.fromInputStream(raw, "UTF-8").getLines().toList
        raw.close()
        // csv: header + 2 rows; json: 2 rows, no header
        val want = if (json) 2 else 3
        assert(lines.size == want, s"(json=$json,$gz,$zip) bin $p: $lines")
      }
    }
  }
}
