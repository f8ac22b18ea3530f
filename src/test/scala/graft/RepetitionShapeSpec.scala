package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.functions.GraftExpressions

/** q_repetition's r19 kernel shape ≡ the declarative formulation it
  * replaced: the mode frequency (aggregate over the distinct set, re-
  * filtering the token list per distinct token — O(distinct·n)) must equal
  * `array_max` over graft_elem_counts counts; the bigram count must equal
  * `greatest(n-1, 0)` of the materialized bigram list; and the distinct-
  * bigram count via elemCounts(adjacentPairs) must equal
  * `size(array_distinct(bigrams))`. These identities carry the oracle-
  * checked query, so they are pinned on arbitrary token lists (repeats,
  * empties, single tokens).
  */
class RepetitionShapeSpec extends SparkSpec {
  import spark.implicits._

  // small alphabet → heavy repetition, the regime the mode frequency is for
  private val tokGen: Gen[String] = Gen.oneOf("a", "b", "c", "dd", "", "x y")
  private val arrGen: Gen[List[String]] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, tokGen))

  test("property: kernel repetition signals ≡ declarative on any token list") {
    val prop = Prop.forAll(Gen.listOfN(8, arrGen)) { arrs =>
      val df = arrs.map(Tuple1(_)).toDF("ws")
        .select(col("ws").cast("array<string>").as("ws"))
      val ws = col("ws")
      // declarative references (the pre-r19 expressions, verbatim)
      val bg = when(size(ws) < 2, array().cast(ArrayType(StringType)))
        .otherwise(transform(sequence(lit(0), size(ws) - 2),
          i => concat(element_at(ws, i + 1), lit(" "), element_at(ws, i + 2))))
      val topFreqDecl = aggregate(array_distinct(ws), lit(0),
        (acc, tok) => greatest(acc, size(filter(ws, w => w === tok))))
      val ec = col("__ec")
      val got = df
        .select(ws, GraftExpressions.elemCounts(ws).as("__ec"),
          GraftExpressions.elemCounts(GraftExpressions.adjacentPairs(ws)).as("__bec"),
          bg.as("__bg"))
        .select(
          size(col("__ec")).cast(LongType).as("k_distinct"),
          size(array_distinct(ws)).cast(LongType).as("d_distinct"),
          when(size(ec) === 0, lit(0L))
            .otherwise(array_max(transform(ec, e => e.getField("c")))).as("k_top"),
          topFreqDecl.cast(LongType).as("d_top"),
          greatest(size(ws) - 1, lit(0)).cast(LongType).as("k_nbg"),
          size(col("__bg")).cast(LongType).as("d_nbg"),
          size(col("__bec")).cast(LongType).as("k_dbg"),
          size(array_distinct(col("__bg"))).cast(LongType).as("d_dbg"))
        .collect()
      got.forall { r =>
        val ok = r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3) &&
          r.getLong(4) == r.getLong(5) && r.getLong(6) == r.getLong(7)
        if (!ok) Console.err.println(s"[repetition-fuzz] row=$r")
        ok
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(191121L)),
      prop)
    assert(res.passed, s"repetition shape fuzz failed: ${res.status}")
  }

  test("q_repetition ≡ declarative per document, null text included (all signals NULL)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-repetition")
    Seq[(Long, String)]((1L, null), (2L, ""), (3L, "a a b a"), (4L, "x"), (5L, "p q p q"))
      .toDF("doc_id", "text").write.parquet(dir.resolve("documents.parquet").toString)
    val got = SparkEntry.queries("q_repetition")(spark, dir.toString).collect().toSeq
    // the pre-r19 declarative form over the same tokenizer
    val ws = graft.functions.TextFunctions.words(col("text"))
    val bg = when(size(ws) < 2, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(0), size(ws) - 2),
        i => concat(element_at(ws, i + 1), lit(" "), element_at(ws, i + 2))))
    val want = spark.read.parquet(dir.resolve("documents.parquet").toString)
      .select(col("doc_id"),
        size(ws).cast(LongType).as("n_tokens"),
        size(array_distinct(ws)).cast(LongType).as("n_distinct_tokens"),
        aggregate(array_distinct(ws), lit(0),
          (acc, tok) => greatest(acc, size(filter(ws, w => w === tok)))).cast(LongType)
          .as("top_token_freq"),
        size(bg).cast(LongType).as("n_bigrams"),
        size(array_distinct(bg)).cast(LongType).as("n_distinct_bigrams"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(got == want)
    assert(got.head.toSeq.tail.forall(_ == null), s"null text must yield NULL signals: ${got.head}")
  }
}
