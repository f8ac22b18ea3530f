package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Unit coverage for the native scale-factor generator (`graft.ScaleGen`
  * main and `tools/native_verify.sh` build on it; the heavy-subset
  * oracle run validates VALUES — this pins the structural invariants at a
  * tiny ratio so `sbt test` guards the generator itself).
  */
class ScaleGenSpec extends SparkSpec {

  test("deterministic, schema- and distribution-shaped at a tiny ratio") {
    val out1 = Files.createTempDirectory("graft-sgen-a").toString
    val out2 = Files.createTempDirectory("graft-sgen-b").toString
    ScaleGen.generate(spark, out1, 0.02, baseDir = "/root/testdata/sf0.1")
    ScaleGen.generate(spark, out2, 0.02, baseDir = "/root/testdata/sf0.1")

    val docs = spark.read.parquet(s"$out1/documents.parquet")
    assert(docs.count() == 100)
    assert(docs.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
    // bit-identical across runs (pure hash-of-id projections, no RNG state)
    val docs2 = spark.read.parquet(s"$out2/documents.parquet")
    assert(docs.exceptAll(docs2).isEmpty && docs2.exceptAll(docs).isEmpty)

    // token counts in [10, 100], vocabulary is the observed 31-word set
    val stats = docs.select(
      min(size(split(col("text"), " "))).as("mn"),
      max(size(split(col("text"), " "))).as("mx"),
      countDistinct(col("lang")).as("dl")).collect()(0)
    assert(stats.getInt(0) >= 10 && stats.getInt(1) <= 100, stats.toString)
    assert(stats.getLong(2) == 5L)
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(vocab.size <= 31 && vocab.forall(_.nonEmpty), vocab.toString)
    // n_chars is the real text length
    assert(docs.filter(length(col("text")) =!= col("n_chars")).isEmpty)

    // embeddings: 64-dim unit vectors, 10 labels
    val emb = spark.read.parquet(s"$out1/embeddings.parquet")
    assert(emb.count() == 40)
    val norms = emb.select(
      abs(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x)) - 1.0).as("d")).agg(max(col("d"))).collect()(0).getDouble(0)
    assert(norms < 1e-3, s"non-unit embedding norm deviation $norms")
    assert(emb.select(countDistinct(col("label"))).collect()(0).getLong(0) <= 10)

    // TPC-H shape: 5 segments, lineitem orderkeys within orders' key space,
    // discounts in [0, 0.1]
    val cust = spark.read.parquet(s"$out1/customer.parquet")
    assert(cust.select(countDistinct(col("c_mktsegment"))).collect()(0).getLong(0) == 5)
    val nOrd = spark.read.parquet(s"$out1/orders.parquet").count()
    val li = spark.read.parquet(s"$out1/lineitem.parquet")
    val liStats = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_discount")), max(col("l_discount"))).collect()(0)
    assert(liStats.getLong(0) >= 0 && liStats.getLong(1) < nOrd)
    assert(liStats.getDouble(2) >= 0.0 && liStats.getDouble(3) <= 0.1)

    // fixed dimensions copied through unscaled
    assert(spark.read.parquet(s"$out1/nation.parquet").count() == 25)
    assert(spark.read.parquet(s"$out1/region.parquet").count() == 5)
  }

  test("near-dup structure is planted and rate-stable per doc") {
    val out = Files.createTempDirectory("graft-sgen-dup").toString
    ScaleGen.generate(spark, out, 0.4, baseDir = "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.count() == 2000)
    // the shipped near-dup detector must find the planted pairs: a 2000-doc
    // corpus at the ~5% mutation-dup rate carries dozens of jaccard>=0.5
    // pairs (the sf0.1 base has 256 per 5000 docs)
    val clusters = graft.operators.TextDedup.corpusClusters(docs, "doc_id", "text")
    val dropped = clusters.filter(col("doc_id") =!= col("cluster")).count()
    assert(dropped >= 20, s"only $dropped near-dup members found — planting broken?")
    assert(dropped <= 200, s"$dropped near-dup members — rate far above the base corpus's")
  }
}
