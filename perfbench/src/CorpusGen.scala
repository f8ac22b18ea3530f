package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables for the query workloads: `graft.ScaleGen`'s recipe
  * (documents with planted near-duplicates, clustered embeddings,
  * TPC-H-ish orders, the events stream) with the seed mixed into every hash
  * salt, plus the two fixed dimension tables the recipe copies from a base
  * directory, so a run needs nothing outside its own work directory.
  *
  * One addition to the recipe: a share of documents (`exactShare`) are
  * verbatim copies of a random earlier document. They are the planted
  * duplicates the streaming check holds the near-dedup loop to.
  *
  * `ratio` = 1.0 reproduces sf0.1 cardinalities (5000 documents). Only
  * the tables in `tables` are written.
  */
object CorpusGen {
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val ExactShare = 0.03

  def generate(spark: SparkSession, outDir: String, ratio: Double, seed: Long,
      tables: Set[String]): Unit = {
    def salt(s: String): Column = lit(s"$s#$seed")
    def h(cs: Column*)(s: String): Column = xxhash64((cs :+ salt(s)): _*)
    def u(c: Column, s: String): Column =
      pmod(h(c)(s), lit(1L << 24)).cast("double") / (1L << 24).toDouble
    def pick(c: Column, s: String, choices: Seq[String]): Column =
      element_at(array(choices.map(lit): _*), (pmod(h(c)(s), lit(choices.size)) + 1).cast("int"))
    val vocabArr = array(Vocab.map(lit): _*)
    def toks(id: Column): Column = {
      val n = (lit(10) + pmod(h(id)("len"), lit(91))).cast("int")
      transform(sequence(lit(1), n), j =>
        element_at(vocabArr, (pmod(h(id, j)("tok"), lit(Vocab.size)) + 1).cast("int")))
    }
    val nDocs = (5000 * ratio).toLong
    val nEmb = (2000 * ratio).toLong
    val nCust = (15000 * ratio).toLong
    val nOrd = (150000 * ratio).toLong
    val nLine = 4 * nOrd
    val nPart = (20000 * ratio).toLong
    val nSupp = (1000 * ratio).toLong
    val nEvents = (100000 * ratio).toLong
    val nUsers = math.max(1L, (1500 * ratio).toLong)
    def write(df: => DataFrame, name: String, rows: Long): Unit =
      if (tables(name)) df.coalesce(math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (rows / 200000L).toInt + 1)))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val id = col("id")
    val isDup = (u(id, "dup") < 0.05) && (id > 0)
    val isExact = !isDup && (u(id, "exact") < ExactShare) && (id > 0)
    val partner = pmod(h(id)("part"), greatest(id, lit(1L)))
    val baseToks = when(isDup || isExact, toks(partner)).otherwise(toks(id))
    val mutated = when(isDup,
      zip_with(baseToks, sequence(lit(1), size(baseToks)), (t, j) =>
        when(pmod(h(id, j)("mut"), lit(100)) < 8,
          element_at(vocabArr, (pmod(h(id, j)("mut2"), lit(Vocab.size)) + 1).cast("int")))
          .otherwise(t)))
      .otherwise(baseToks)
    val text = concat_ws(" ", mutated)
    val lang = when(u(id, "lang") < 0.41, "en").otherwise(pick(id, "lang2", Seq("zh", "es", "fr", "de")))
    write(spark.range(nDocs).select(
      id.as("doc_id"), text.as("text"), lang.as("lang"),
      concat(lit("src"), floor(id / lit(math.max(1L, nDocs / 20))).cast("long")).as("source"),
      length(text).cast("long").as("n_chars")), "documents", nDocs)

    val label = pmod(h(id)("lbl"), lit(10)).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), k => {
      val center = u(label.cast("long") * 64 + k.cast("long"), "ctr") * 2.0 - 1.0
      val noise = u(id * 64 + k.cast("long"), "nz") * 2.0 - 1.0
      center + noise * lit(0.5)
    })
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    write(spark.range(nEmb).select(id.as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"), label.as("label")),
      "embeddings", nEmb)

    write(spark.range(nCust).select(
      id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
      pmod(h(id)("nat"), lit(25)).cast("int").as("c_nationkey"),
      round(u(id, "bal") * 11000 - 1000, 2).as("c_acctbal"),
      pick(id, "seg", Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"))
        .as("c_mktsegment")), "customer", nCust)

    write(spark.range(nOrd).select(
      id.as("o_orderkey"), pmod(h(id)("cust"), lit(nCust)).as("o_custkey"),
      pick(id, "stat", Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(id, "tot") * 100000 + 1000, 2).as("o_totalprice"),
      to_timestamp(date_add(to_date(lit("1995-01-01")), (u(id, "od") * 2404).cast("int")))
        .as("o_orderdate"),
      pick(id, "prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders", nOrd)

    // (l_orderkey, l_linenumber) unique: 4 lines per order, distinct
    // linenumbers from a (base + i·stride) mod 7 walk, stride coprime to 7
    val ordKey = pmod(floor(id / 4), lit(math.max(1L, nOrd)))
    val lineNo = (pmod(pmod(h(ordKey)("lb"), lit(7)) +
      pmod(id, lit(4)) * (pmod(h(ordKey)("ls"), lit(6)) + 1), lit(7)) + 1).cast("int")
    write(spark.range(nLine).select(
      ordKey.as("l_orderkey"), pmod(h(id)("pk"), lit(nPart)).as("l_partkey"),
      pmod(h(id)("sk"), lit(nSupp)).as("l_suppkey"), lineNo.as("l_linenumber"),
      (pmod(h(id)("qty"), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(id, "px") * 104099 + 901, 2).as("l_extendedprice"),
      round(u(id, "disc") * 0.1, 2).as("l_discount"),
      round(u(id, "tax") * 0.08, 2).as("l_tax"),
      pick(id, "rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, "ls", Seq("O", "F")).as("l_linestatus"),
      to_timestamp(date_add(to_date(lit("1995-01-02")), (u(id, "sd") * 2498).cast("int")))
        .as("l_shipdate")), "lineitem", nLine)

    write(spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(id, "adj", Seq("red", "small", "hot", "cold", "old", "new", "large", "blue")),
        pick(id, "noun", Seq("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), (pmod(h(id)("brand"), lit(25)) + 1).cast("int")).as("p_brand"),
      pick(id, "ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pmod(h(id)("size"), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)).cast("double") / 10.0).as("p_retailprice")), "part", nPart)

    write(spark.range(nSupp).select(
      id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(id)("snat"), lit(25)).cast("int").as("s_nationkey"),
      round(u(id, "sbal") * 11000 - 1000, 2).as("s_acctbal")), "supplier", nSupp)

    // 30-day stream: density grows with ratio, ts a jittered monotone grid
    val spanMicros = 30L * 86400 * 1000000
    val meanGap = spanMicros.toDouble / nEvents
    val start = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    write(spark.range(nEvents).select(
      id.as("event_id"),
      timestamp_micros(lit(start) + ((id.cast("double") + u(id, "jit")) * meanGap).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(id)("usr"), lit(nUsers)).as("user_id"),
      pick(id, "et", Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - u(id, "val")) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pmod(h(id)("prop"), lit(100)).cast("int")).as("props")),
      "events", nEvents)

    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")),
      "nation", 25)
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), "region", 5)
  }
}
