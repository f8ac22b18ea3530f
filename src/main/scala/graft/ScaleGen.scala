package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic NATIVE scale-factor generator for larger-scale oracle
  * runs (`Verify`'s native pass, `tools/native_verify.sh`): the TESTDATA
  * tooling is not shipped, so this re-creates its tables at bigger sf
  * from the OBSERVED sf0.1 schemas and distributions (TESTDATA.md;
  * distribution probe in PLANS.md round-15) —
  * real cardinalities, real file counts, and natural parquet row-group
  * layout, as opposed to a ×10 replication of sf0.1.
  *
  * Everything derives from xxhash64 of the row id — no RNG state, no
  * driver loops — so generation is one distributed projection per table
  * and the same (dir, sf) is bit-identical across runs.
  *
  * Mirrored structure that the heavy queries' work depends on:
  *  - documents: 31-word vocabulary, 10-100 tokens/doc, lang skew
  *    (en 41%, 4×~15%), 20 contiguous sources, ~5% of docs are token-level
  *    mutations (8% substitution — tuned so the planted pairs land at
  *    jaccard ≥ 0.5 like the base corpus: 256 such pairs / 5000 docs at
  *    sf0.1, this generator ~230/5000) of a uniformly random earlier
  *    doc, a rate CONSTANT per doc so pair counts grow linearly like a
  *    real corpus;
  *  - embeddings: 10 balanced clusters of unit-normalized 64-dim vectors;
  *  - TPC-H-ish customer/orders/lineitem with the observed segment/status/
  *    flag splits, date ranges, and ~4 lineitems per order.
  */
object ScaleGen {

  /** CLI for the standing native-verification flow (tools/native_verify.sh):
    * `graft.ScaleGen <outDir> <sfRatio> [baseDir]` — generate all ten
    * tables into outDir at the given ratio (1.0 = sf0.1 cardinalities).
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.ScaleGen <outDir> <sfRatio> [baseDir]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    generate(spark, args(0), args(1).toDouble,
      baseDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1")
    println(f"[scalegen] generated ratio=${args(1)} at ${args(0)} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Uniform in [0,1) derived from (expr, salt). */
  private def u(c: Column, salt: String): Column =
    pmod(xxhash64(c, lit(salt)), lit(1L << 24)).cast("double") / (1L << 24).toDouble

  private def pick(c: Column, salt: String, choices: Seq[String]): Column = {
    val arr = array(choices.map(lit): _*)
    element_at(arr, (pmod(xxhash64(c, lit(salt)), lit(choices.size)) + 1).cast("int"))
  }

  /** The deterministic token array of document `id` (pure function of the
    * id, so a near-dup can rebuild its partner's tokens without a join).
    */
  private def toks(id: Column): Column = {
    val n = (lit(10) + pmod(xxhash64(id, lit("len")), lit(91))).cast("int")
    val vocabArr = array(Vocab.map(lit): _*)
    transform(sequence(lit(1), n), j =>
      element_at(vocabArr,
        (pmod(xxhash64(id, j, lit("tok")), lit(Vocab.size)) + 1).cast("int")))
  }

  /** Generate ALL ten TESTDATA tables into `outDir` (documents, embeddings,
    * customer, supplier, part, orders, lineitem, events, nation, region) —
    * enough for the FULL oracle query set, not just a heavy
    * subset — scaled so `sfRatio` = 1.0 reproduces sf0.1's cardinalities
    * (10.0 = native sf1). `baseDir` supplies the fixed-cardinality
    * dimensions (nation/region copy through unscaled). Returns outDir.
    */
  def generate(spark: SparkSession, outDir: String, sfRatio: Double,
      baseDir: String): String = {
    val nDocs = (5000 * sfRatio).toLong
    val nEmb = (2000 * sfRatio).toLong
    val nCust = (15000 * sfRatio).toLong
    val nOrd = (150000 * sfRatio).toLong
    // DERIVED, not independently truncated: lineitem's (orderkey, linenumber)
    // uniqueness construction needs nLine = 4·nOrd EXACTLY — a fractional
    // sfRatio truncating the two independently would leave tail rows
    // wrapping onto order 0 with duplicate linenumbers
    val nLine = 4 * nOrd
    val nPart = (20000 * sfRatio).toLong
    val nSupp = (1000 * sfRatio).toLong
    def parts(rows: Long): Int =
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (rows / 200000L).toInt + 1))
    def write(df: DataFrame, name: String, rows: Long): Unit =
      df.repartition(parts(rows)).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // ---- documents: ~5% near-dup mutations of a random earlier doc
    val id = col("id")
    val isDup = (u(id, "dup") < 0.05) && (id > 0)
    val partner = pmod(xxhash64(id, lit("part")), greatest(id, lit(1L)))
    val baseToks = when(isDup, toks(partner)).otherwise(toks(id))
    val vocabArr = array(Vocab.map(lit): _*)
    val mutated = when(isDup,
      zip_with(baseToks, sequence(lit(1), size(baseToks)), (t, j) =>
        when(pmod(xxhash64(id, j, lit("mut")), lit(100)) < 8,
          element_at(vocabArr,
            (pmod(xxhash64(id, j, lit("mut2")), lit(Vocab.size)) + 1).cast("int")))
          .otherwise(t)))
      .otherwise(baseToks)
    val text = concat_ws(" ", mutated)
    val lang = when(u(id, "lang") < 0.41, "en")
      .otherwise(pick(id, "lang2", Seq("zh", "es", "fr", "de")))
    val docs = spark.range(nDocs).select(
      id.as("doc_id"), text.as("text"), lang.as("lang"),
      concat(lit("src"), floor(id / lit(math.max(1L, nDocs / 20)))
        .cast("long")).as("source"),
      length(text).as("n_chars"))
    write(docs, "documents", nDocs)

    // ---- embeddings: 10 clusters, unit-normalized 64-dim
    val label = pmod(xxhash64(id, lit("lbl")), lit(10)).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), k => {
      val center = u(label.cast("long") * 64 + k.cast("long"), "ctr") * 2.0 - 1.0
      val noise = u(id * 64 + k.cast("long"), "nz") * 2.0 - 1.0
      center + noise * lit(0.5)
    })
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    val emb = spark.range(nEmb).select(
      id.as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      label.as("label"))
    write(emb, "embeddings", nEmb)

    // ---- TPC-H-ish
    val cust = spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(xxhash64(id, lit("nat")), lit(25)).cast("int").as("c_nationkey"),
      round(u(id, "bal") * 11000 - 1000, 2).as("c_acctbal"),
      pick(id, "seg", Seq("BUILDING", "AUTOMOBILE", "MACHINERY",
        "HOUSEHOLD", "FURNITURE")).as("c_mktsegment"))
    write(cust, "customer", nCust)

    val ords = spark.range(nOrd).select(
      id.as("o_orderkey"),
      pmod(xxhash64(id, lit("cust")), lit(nCust)).as("o_custkey"),
      pick(id, "stat", Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(id, "tot") * 100000 + 1000, 2).as("o_totalprice"),
      to_timestamp(date_add(to_date(lit("1995-01-01")),
        (u(id, "od") * 2404).cast("int"))).as("o_orderdate"),
      pick(id, "prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    write(ords, "orders", nOrd)

    // (l_orderkey, l_linenumber) is UNIQUE by construction: exactly 4 lines
    // per order (the observed ~4 average) with 4 DISTINCT linenumbers from
    // a per-order (base + i·stride) mod 7 walk (stride coprime to 7 ⇒ no
    // repeats). The base data's duplicate (order, line) pairs make any
    // cross-engine ORDER BY over those two columns tie-UNSTABLE — single-
    // file data happens to agree, but a multi-file native dir diverges on
    // part-file read order (q_flatten_nested caught this at ratio 1.0).
    val ordKey = pmod(floor(id / 4), lit(math.max(1L, nOrd)))
    val lineNo = (pmod(
      pmod(xxhash64(ordKey, lit("lb")), lit(7)) +
        pmod(id, lit(4)) * (pmod(xxhash64(ordKey, lit("ls")), lit(6)) + 1),
      lit(7)) + 1).cast("int")
    val li = spark.range(nLine).select(
      ordKey.as("l_orderkey"),
      pmod(xxhash64(id, lit("pk")), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(id, lit("sk")), lit(nSupp)).as("l_suppkey"),
      lineNo.as("l_linenumber"),
      (pmod(xxhash64(id, lit("qty")), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(id, "px") * 104099 + 901, 2).as("l_extendedprice"),
      round(u(id, "disc") * 0.1, 2).as("l_discount"),
      round(u(id, "tax") * 0.08, 2).as("l_tax"),
      pick(id, "rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, "ls", Seq("O", "F")).as("l_linestatus"),
      to_timestamp(date_add(to_date(lit("1995-01-02")),
        (u(id, "sd") * 2498).cast("int"))).as("l_shipdate"))
    write(li, "lineitem", nLine)

    // ---- part: observed name/brand/type/size/price shapes (p_retailprice
    // is the key-periodic 900 + (key mod 1000)/10 ramp the base data shows)
    val partDf = spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(id, "adj", Seq("red", "small", "hot", "cold", "old", "new",
          "large", "blue")),
        pick(id, "noun", Seq("gear", "gizmo", "widget", "ring", "plate",
          "anvil", "bolt", "rod"))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(id, lit("brand")), lit(25)) + 1).cast("int")).as("p_brand"),
      pick(id, "ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (pmod(xxhash64(id, lit("size")), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)).cast("double") / 10.0).as("p_retailprice"))
    write(partDf, "part", nPart)

    // ---- supplier
    val supp = spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(xxhash64(id, lit("snat")), lit(25)).cast("int").as("s_nationkey"),
      round(u(id, "sbal") * 11000 - 1000, 2).as("s_acctbal"))
    write(supp, "supplier", nSupp)

    // ---- events: the observed 30-day stream (sf0.1: 100k events, 1.5k
    // users, ~exponential inter-arrival mean 25.9 s, value ~Exp(mean 50),
    // props = {"k": 0..99}). Scaling grows DENSITY (more users → more
    // events/day) over the fixed span, like a real product's stream; ts is
    // a jittered monotone grid (gap ∈ (0, 2·mean), never negative —
    // cumsum-of-exponentials would need a window, not a projection).
    // Written as TIMESTAMP_NTZ to mirror the base data's physical type
    // (isAdjustedToUTC=false; Tables.normalizeEventsTs handles both).
    val nEvents = (100000 * sfRatio).toLong
    val nUsers = math.max(1L, (1500 * sfRatio).toLong)
    val spanMicros = 30L * 86400 * 1000000
    val meanGapMicros = spanMicros.toDouble / nEvents
    val startMicros = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val events = spark.range(nEvents).select(
      id.as("event_id"),
      timestamp_micros(lit(startMicros) +
        ((id.cast("double") + u(id, "jit")) * meanGapMicros).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(id, lit("usr")), lit(nUsers)).as("user_id"),
      pick(id, "et", Seq("view", "click", "purchase", "signup", "error"))
        .as("event_type"),
      round(-log(lit(1.0) - u(id, "val")) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}",
        pmod(xxhash64(id, lit("prop")), lit(100)).cast("int")).as("props"))
    write(events, "events", nEvents)

    // fixed-cardinality dimensions copy through from the base testdata
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    outDir
  }
}
