package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recursive data-dependent CSV schema support (P2 at arbitrary depth —
  * reference CsvAvroDataConverter.kt:52-63 recurses through RECORD, MAP
  * and ARRAY alike, so `array<record>` flattens to `a.0.b, a.0.c, a.1.b…`
  * and `map<string,record>` to `m.key.b…`, nested to any depth).
  *
  * Only map KEY SETS and array SIZES are data-dependent — the type tree
  * itself is static — so a record's complete header identity is captured
  * by a canonical SHAPE STRING computed per row inside codegen:
  *
  *   struct   → `(` child₁ `,` child₂ … `)`   (dynamic-bearing children
  *                                             only, static ones add "")
  *   array    → `N` when null; `[n]` when the element type is static;
  *              `[n:` e₁ `;` e₂ … `]` when elements carry shape
  *   map      → `N` when null; `{` b64(k₁) [`=` shape₁] `;` … `}` with
  *              keys sorted and base64'd UNPADDED (so `= ; { } [ ] ( ) ,
  *              :` can never occur inside a key token and the grammar
  *              stays parseable by recursive descent)
  *
  * Records sharing a shape string share a flattened header exactly; the
  * md5 of the shape is the attempt-group fingerprint. One group's
  * concrete shape (identical across its rows by construction) is parsed
  * back driver-side and drives the recursive column expansion.
  */
object DynamicShape {

  def isDynamic(dt: DataType): Boolean = dt match {
    case _: MapType | _: ArrayType => true
    case st: StructType => st.fields.exists(f => isDynamic(f.dataType))
    case _ => false
  }

  // strip MIME line-chunking as well as padding: with
  // spark.sql.legacy.chunkBase64String.enabled set, Spark's base64
  // inserts \r\n every 76 output chars for inputs >56 bytes, which would
  // embed control characters in the shape string and crash the strict
  // decoder in parseRoot (caught by the kernel-equivalence fuzz; default
  // Spark 4.x output is unchunked, so this is defensive canonicalization
  // against the legacy flag — the codegen'd kernel encodes unchunked
  // natively either way)
  private def b64Key(k: Column): Column =
    regexp_replace(base64(k.cast(StringType).cast(BinaryType)), "[\\r\\n]|=+$", "")

  /** Shape column for one value of type `dt` (empty string for static). */
  def shapeCol(c: Column, dt: DataType): Column = dt match {
    case st: StructType =>
      val dyn = st.fields.filter(f => isDynamic(f.dataType))
      if (dyn.isEmpty) lit("")
      else concat(lit("(") +:
        dyn.toSeq.flatMap(f => Seq(shapeCol(c.getField(f.name), f.dataType), lit(","))) :+
        lit(")"): _*)
    case ArrayType(et, _) =>
      val base =
        if (isDynamic(et))
          concat(lit("["), size(c).cast(StringType), lit(":"),
            concat_ws(";", transform(c, e => shapeCol(e, et))), lit("]"))
        else concat(lit("["), size(c).cast(StringType), lit("]"))
      when(c.isNull, lit("N")).otherwise(base)
    case MapType(_, vt, _) =>
      // every key token carries a leading 'k' marker so an EMPTY key (b64
      // "") still renders a non-empty entry — without it {""→v} and {}
      // would share the shape "{}" and the empty-keyed column would vanish
      val entries =
        if (isDynamic(vt))
          transform(array_sort(map_keys(c)),
            k => concat(lit("k"), b64Key(k), lit("="), shapeCol(element_at(c, k), vt)))
        else transform(array_sort(map_keys(c)), k => concat(lit("k"), b64Key(k)))
      when(c.isNull, lit("N"))
        .otherwise(concat(lit("{"), concat_ws(";", entries), lit("}")))
    case _ => lit("")
  }

  /** Every map key type in the tree is a string — the codegen'd kernel
    * handles exactly that (the only case Avro produces); anything else
    * falls back to the declarative tree, whose `cast(StringType)` covers
    * arbitrary key types.
    */
  private def stringKeyedOnly(dt: DataType): Boolean = dt match {
    case MapType(kt, vt, _) => kt == StringType && stringKeyedOnly(vt)
    case ArrayType(et, _) => stringKeyedOnly(et)
    case st: StructType => st.fields.forall(f => stringKeyedOnly(f.dataType))
    case _ => true
  }

  /** Shape of a whole record frame (root struct as top-level columns).
    * Computed by the [[graft.functions.GraftExpressions.RootShape]]
    * kernel — one imperative walk per row inside whole-stage codegen —
    * rather than the declarative `transform` composition below
    * ([[rootShapeColDeclarative]]), whose higher-order functions are
    * CodegenFallback in Spark (an interpreted lambda eval per map key /
    * array element per row, the dynamic write path's per-row cost).
    */
  def rootShapeCol(schema: StructType): Column = {
    val dyn = schema.fields.filter(f => isDynamic(f.dataType)).toSeq
    if (dyn.isEmpty) lit("")
    else if (dyn.forall(f => stringKeyedOnly(f.dataType)))
      graft.functions.GraftExpressions.rootShape(
        struct(dyn.map(f => col(Flatten.quote(f.name)).as(f.name)): _*))
    else rootShapeColDeclarative(schema)
  }

  /** The declarative formulation — the kernel's oracle in the fuzz spec
    * and the fallback for exotic (non-string) map key types.
    */
  private[model] def rootShapeColDeclarative(schema: StructType): Column = {
    val dyn = schema.fields.filter(f => isDynamic(f.dataType)).toSeq
    if (dyn.isEmpty) lit("")
    else concat(dyn.flatMap(f =>
      Seq(shapeCol(col(Flatten.quote(f.name)), f.dataType), lit("|"))): _*)
  }

  sealed trait Shape
  case object Static extends Shape
  case object NullColl extends Shape
  final case class SStruct(children: Seq[Shape]) extends Shape // one per dynamic field, in order
  final case class SArray(n: Int, elems: Seq[Shape]) extends Shape // elems empty when element static
  final case class SMap(entries: Seq[(String, Shape)]) extends Shape // decoded keys, sorted

  /** Parse one group's concrete root shape (the `rootShapeCol` output). */
  def parseRoot(s: String, schema: StructType): Map[String, Shape] = {
    val dyn = schema.fields.filter(f => isDynamic(f.dataType)).toSeq
    var pos = 0
    val out = Map.newBuilder[String, Shape]
    dyn.foreach { f =>
      val (sh, p) = parse(s, pos, f.dataType)
      require(p < s.length && s.charAt(p) == '|', s"shape parse desync at $p in '$s'")
      pos = p + 1
      out += f.name -> sh
    }
    out.result()
  }

  private def decodeKey(tok: String): String =
    new String(java.util.Base64.getDecoder.decode(tok), java.nio.charset.StandardCharsets.UTF_8)

  /** Recursive-descent parse of one value's shape; returns (shape, next pos). */
  private[model] def parse(s: String, pos0: Int, dt: DataType): (Shape, Int) = dt match {
    case st: StructType =>
      val dyn = st.fields.filter(f => isDynamic(f.dataType)).toSeq
      if (dyn.isEmpty) (Static, pos0)
      else {
        require(s.charAt(pos0) == '(', s"expected ( at $pos0 in '$s'")
        var pos = pos0 + 1
        val children = dyn.map { f =>
          val (sh, p) = parse(s, pos, f.dataType)
          require(s.charAt(p) == ',', s"expected , at $p in '$s'")
          pos = p + 1
          sh
        }
        require(s.charAt(pos) == ')', s"expected ) at $pos in '$s'")
        (SStruct(children), pos + 1)
      }
    case ArrayType(et, _) =>
      if (s.charAt(pos0) == 'N') (NullColl, pos0 + 1)
      else {
        require(s.charAt(pos0) == '[', s"expected [ at $pos0 in '$s'")
        var pos = pos0 + 1
        val numEnd = s.indexWhere(c => c == ']' || c == ':', pos)
        val n = s.substring(pos, numEnd).toInt
        pos = numEnd
        if (s.charAt(pos) == ']') (SArray(n, Nil), pos + 1)
        else { // ':' — per-element shapes
          pos += 1
          val elems = (0 until n).map { i =>
            val (sh, p) = parse(s, pos, et)
            pos = p
            if (i < n - 1) { require(s.charAt(pos) == ';', s"expected ; at $pos"); pos += 1 }
            sh
          }
          require(s.charAt(pos) == ']', s"expected ] at $pos in '$s'")
          (SArray(n, elems), pos + 1)
        }
      }
    case MapType(_, vt, _) =>
      if (s.charAt(pos0) == 'N') (NullColl, pos0 + 1)
      else {
        require(s.charAt(pos0) == '{', s"expected { at $pos0 in '$s'")
        var pos = pos0 + 1
        val entries = Seq.newBuilder[(String, Shape)]
        while (s.charAt(pos) != '}') {
          require(s.charAt(pos) == 'k', s"expected key marker at $pos in '$s'")
          pos += 1
          val keyEnd = s.indexWhere(c => "=;}".contains(c), pos)
          val key = decodeKey(s.substring(pos, keyEnd))
          pos = keyEnd
          val sh =
            if (s.charAt(pos) == '=') {
              val (x, p) = parse(s, pos + 1, vt)
              pos = p
              x
            } else Static
          entries += key -> sh
          if (s.charAt(pos) == ';') pos += 1
        }
        (SMap(entries.result()), pos + 1)
      }
    case _ => (Static, pos0)
  }

  /** Expanded output columns for a value `c` of type `dt` whose concrete
    * shape is `shape`, as (name, column) pairs — dotted names rooted at
    * `name`, reference flatten semantics (schema order, sorted map keys,
    * binary → unpadded base64, everything cast to its CSV string form).
    * `exclude` filters both whole subtrees and individual expanded names.
    */
  def expand(c: Column, name: String, dt: DataType, shape: Shape,
      exclude: String => Boolean): Seq[(String, Column)] =
    (dt, shape) match {
      // exclusion applies to flattened LEAF names, dynamic-collection node
      // names and their entry/index names — NOT bare struct prefixes,
      // matching the static csvColumns path and the reference's
      // leaf-prefix excludeFields check (CsvAvroConverterTest.kt:69-84)
      case (st: StructType, sh) =>
        val childShapes: Map[String, Shape] = sh match {
          case SStruct(children) =>
            st.fields.filter(f => isDynamic(f.dataType)).map(_.name).zip(children).toMap
          case _ => Map.empty
        }
        st.fields.toSeq.flatMap { f =>
          expand(c.getField(f.name), s"$name.${f.name}", f.dataType,
            childShapes.getOrElse(f.name, Static), exclude)
        }
      case (_: ArrayType, _) | (_: MapType, _) if exclude(name) => Nil
      case (_: ArrayType, NullColl) | (_: MapType, NullColl) => Nil
      case (ArrayType(et, _), SArray(n, elems)) =>
        (0 until math.max(0, n)).filterNot(i => exclude(s"$name.$i")).flatMap { i =>
          expand(get(c, lit(i)), s"$name.$i", et,
            if (elems.isEmpty) Static else elems(i), exclude)
        }
      case (MapType(_, vt, _), SMap(entries)) =>
        entries.filterNot { case (k, _) => exclude(s"$name.$k") }.flatMap { case (k, sh) =>
          expand(try_element_at(c, lit(k)), s"$name.$k", vt, sh, exclude)
        }
      // a dynamic type whose group shape is Static can only mean an
      // all-null / absent subtree within this group — no columns
      case (_: ArrayType, Static) | (_: MapType, Static) => Nil
      case (BinaryType, _) =>
        if (exclude(name)) Nil
        else Seq(name -> regexp_replace(base64(c), "=+$", ""))
      case (NullType, _) =>
        if (exclude(name)) Nil else Seq(name -> lit(null).cast(StringType))
      case _ =>
        if (exclude(name)) Nil else Seq(name -> c.cast(StringType))
    }

  /** Root-level expansion over a record frame. */
  def expandRoot(schema: StructType, shapes: Map[String, Shape],
      exclude: String => Boolean): Seq[(String, Column)] =
    schema.fields.toSeq.flatMap { f =>
      expand(col(Flatten.quote(f.name)), f.name, f.dataType,
        shapes.getOrElse(f.name, Static), exclude)
    }
}
