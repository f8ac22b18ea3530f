package graft.model

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Generative cross-check of the whole dynamic-shape machinery: for random
  * nested DATA (map keys including grammar metacharacters and the empty
  * key, arities 0-3, nulls at every level) the codegen'd shape string must
  * parse back and expand to EXACTLY the flattened columns an independent
  * driver-side reference walker derives from the same data.
  */
class DynamicShapeFuzzSpec extends SparkSpec {

  // deep dynamic schema: map-of-struct-with-array, array-of-struct-with-map
  private val schema = StructType(Seq(
    StructField("m", MapType(StringType, StructType(Seq(
      StructField("a", IntegerType),
      StructField("arr2", ArrayType(IntegerType)))))),
    StructField("arr", ArrayType(StructType(Seq(
      StructField("p", IntegerType),
      StructField("m2", MapType(StringType, IntegerType))))))))

  private val keyGen: Gen[String] = Gen.oneOf("", "k1", "a=b", "c;d", "e}f", "é中", "x,y:z")
  private val arr2Gen: Gen[Seq[Integer]] = Gen.oneOf(
    Gen.const(null.asInstanceOf[Seq[Integer]]),
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 9).map(Int.box))))
  private val mGen: Gen[Map[String, Row]] = Gen.oneOf(
    Gen.const(null.asInstanceOf[Map[String, Row]]),
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, for {
      k <- keyGen; a <- Gen.chooseNum(0, 9); a2 <- arr2Gen
    } yield k -> Row(Int.box(a), a2)).map(_.toMap)))
  private val m2Gen: Gen[Map[String, Integer]] = Gen.oneOf(
    Gen.const(null.asInstanceOf[Map[String, Integer]]),
    Gen.chooseNum(0, 2).flatMap(n =>
      Gen.listOfN(n, keyGen.flatMap(k => Gen.chooseNum(0, 9).map(v => k -> Int.box(v))))
        .map(_.toMap)))
  private val arrGen: Gen[Seq[Row]] = Gen.oneOf(
    Gen.const(null.asInstanceOf[Seq[Row]]),
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, for {
      p <- Gen.chooseNum(0, 9); m2 <- m2Gen
    } yield Row(Int.box(p), m2))))
  private val rowGen: Gen[Row] = for { m <- mGen; a <- arrGen } yield Row(m, a)

  /** Independent reference walker: flattened (name, value-string) pairs in
    * reference order (schema order, sorted map keys, index order).
    */
  private def reference(value: Any, name: String, dt: DataType): Seq[(String, String)] =
    (value, dt) match {
      case (null, _: MapType) | (null, _: ArrayType) => Nil
      case (v, st: StructType) =>
        st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
          val fv = if (v == null) null else v.asInstanceOf[Row].get(i)
          reference(fv, s"$name.${f.name}", f.dataType)
        }
      case (v, ArrayType(et, _)) =>
        v.asInstanceOf[Seq[Any]].zipWithIndex.flatMap { case (e, i) =>
          reference(e, s"$name.$i", et)
        }
      case (v, MapType(_, vt, _)) =>
        v.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1).flatMap { case (k, e) =>
          reference(e, s"$name.$k", vt)
        }
      case (null, _) => Seq(name -> null)
      case (v, _) => Seq(name -> v.toString)
    }

  test("property: shape → parse → expand ≡ reference walk on random nested data") {
    val prop = Prop.forAll(rowGen) { row =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(row), schema)
      val shape = df.select(DynamicShape.rootShapeCol(schema).as("s"))
        .collect()(0).getString(0)
      val shapes = DynamicShape.parseRoot(shape, schema)
      val cols = DynamicShape.expandRoot(schema, shapes, _ => false)
      val expected = schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        reference(row.get(i), f.name, f.dataType) }
      val gotNames = cols.map(_._1)
      val expNames = expected.map(_._1)
      val gotVals =
        if (cols.isEmpty) Seq.empty[String]
        else df.select(cols.map(_._2): _*).collect()(0).toSeq.map(v => if (v == null) null else v.toString)
      val ok = gotNames == expNames && gotVals == expected.map(_._2)
      if (!ok)
        Console.err.println(s"[shapefuzz] row=$row shape='$shape'\n names $gotNames vs $expNames" +
          s"\n vals $gotVals vs ${expected.map(_._2)}")
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(2026L)),
      prop)
    assert(res.passed, s"dynamic shape fuzz failed: ${res.status}")
  }

  test("property: kernel ≡ declarative over RANDOM schemas (type trees) and random data") {
    // the fixed-schema fuzz exercises one type tree; this one generates
    // the tree itself — arrays/maps/structs nested to depth 3 with leaf
    // ints/strings/doubles — so every Node shape in the kernel's compiled
    // walker meets every null/arity/key combination
    val leafGen: Gen[DataType] = Gen.oneOf(IntegerType, StringType, DoubleType)
    def genType(depth: Int): Gen[DataType] =
      if (depth >= 3) leafGen
      else Gen.frequency(
        3 -> leafGen,
        2 -> Gen.lzy(genType(depth + 1).map(ArrayType(_, true))),
        2 -> Gen.lzy(genType(depth + 1).map(vt => MapType(StringType, vt, true))),
        1 -> Gen.lzy(Gen.chooseNum(1, 3).flatMap(n =>
          Gen.sequence[List[DataType], DataType](List.fill(n)(genType(depth + 1)))
            .map(ts => StructType(ts.zipWithIndex.map { case (t, i) =>
              StructField(s"f$i", t, nullable = true) })))))
    val kg: Gen[String] = Gen.oneOf("", "k1", "a=b", "é中", "x;y", "k" * 70)
    def genValue(dt: DataType): Gen[Any] = dt match {
      case IntegerType => Gen.oneOf(Gen.const(null), Gen.chooseNum(0, 9).map(Int.box))
      case StringType => Gen.oneOf(null, "a", "", "é中")
      case DoubleType => Gen.oneOf(null, Double.box(1.5), Double.box(-0.0))
      case ArrayType(et, _) => Gen.oneOf(
        Gen.const(null),
        Gen.chooseNum(0, 3).flatMap(n =>
          Gen.sequence[List[Any], Any](List.fill(n)(genValue(et)))))
      case MapType(_, vt, _) => Gen.oneOf(
        Gen.const(null),
        Gen.chooseNum(0, 3).flatMap(n =>
          Gen.sequence[List[(String, Any)], (String, Any)](
            List.fill(n)(for { k <- kg; v <- genValue(vt) } yield k -> v)).map(_.toMap)))
      case st: StructType => Gen.oneOf(
        Gen.const(null),
        Gen.sequence[List[Any], Any](st.fields.map(f => genValue(f.dataType)).toList)
          .map(vs => Row(vs: _*)))
      case t => throw new IllegalArgumentException(t.toString)
    }
    val caseGen = for {
      nFields <- Gen.chooseNum(1, 3)
      types <- Gen.sequence[List[DataType], DataType](List.fill(nFields)(genType(0)))
      sch = StructType(types.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t, nullable = true) })
      row <- Gen.sequence[List[Any], Any](sch.fields.map(f => genValue(f.dataType)).toList)
        .map(vs => Row(vs: _*))
    } yield (sch, row)
    val prop = Prop.forAll(caseGen) { case (sch, row) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(row), sch)
      val both = df.select(
        DynamicShape.rootShapeCol(sch).as("kernel"),
        DynamicShape.rootShapeColDeclarative(sch).as("decl")).collect()(0)
      val eq = both.getString(0) == both.getString(1)
      // the shape must also parse back and expand without throwing
      val parses =
        try {
          val shapes = DynamicShape.parseRoot(both.getString(0), sch)
          val cols = DynamicShape.expandRoot(sch, shapes, _ => false)
          if (cols.nonEmpty) df.select(cols.map(_._2): _*).collect()
          true
        } catch { case e: Exception =>
          Console.err.println(s"[schemafuzz] parse/expand failed for $sch $row: $e"); false
        }
      if (!eq) Console.err.println(
        s"[schemafuzz] $sch $row\n kernel='${both.getString(0)}'\n decl  ='${both.getString(1)}'")
      eq && parses
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50).withInitialSeed(Seed(7777L)), prop)
    assert(res.passed, s"random-schema kernel divergence: ${res.status}")
  }

  test("property: codegen'd shape kernel ≡ declarative transform tree, codegen fallback disabled") {
    // rootShapeCol now routes through the RootShape kernel; the retired
    // declarative formulation stays as its oracle. fallback=false makes a
    // kernel codegen bug FAIL instead of silently degrading to eval()
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val prop = Prop.forAll(rowGen) { row =>
        val df = spark.createDataFrame(java.util.Arrays.asList(row), schema)
        val both = df.select(
          DynamicShape.rootShapeCol(schema).as("kernel"),
          DynamicShape.rootShapeColDeclarative(schema).as("decl")).collect()(0)
        val ok = both.getString(0) == both.getString(1)
        if (!ok) Console.err.println(
          s"[shapekernel] row=$row\n kernel='${both.getString(0)}'\n decl  ='${both.getString(1)}'")
        ok
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(Seed(4242L)),
        prop)
      assert(res.passed, s"kernel/declarative divergence: ${res.status}")

      // long map keys (>57 UTF-8 bytes): base64 of the key must not pick
      // up MIME line-chunking in either formulation
      val longKey = "k" * 90
      val row = Row(Map(longKey -> Row(Int.box(1), Seq(Int.box(2)))), null)
      val df = spark.createDataFrame(java.util.Arrays.asList(row), schema)
      val both = df.select(
        DynamicShape.rootShapeCol(schema).as("kernel"),
        DynamicShape.rootShapeColDeclarative(schema).as("decl")).collect()(0)
      assert(both.getString(0) == both.getString(1), "long-key base64 divergence")
      assert(!both.getString(0).contains("\r") && !both.getString(0).contains("\n"))
      // and the kernel's output still parses + expands
      val shapes = DynamicShape.parseRoot(both.getString(0), schema)
      val cols = DynamicShape.expandRoot(schema, shapes, _ => false)
      assert(cols.nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
