package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-workload generator for the scale rehearsal
  * (VERDICT r4 task 1): writes a directory with the SAME file names,
  * schemas and value domains as the driver's testdata, at an arbitrary
  * row multiplier, so every `SparkEntry.queries` entry runs on it
  * unchanged. Two dirs from the same generator at 1× and N× rows give a
  * per-query scaling-ratio table where the ONLY variable is data size —
  * content statistics (dup density, vocabulary, cluster structure, key
  * domains, date ranges) are scale-invariant by construction.
  *
  * Everything is a pure hash of the row id (the DocsSource pattern,
  * sources/DocsSource.scala): `spark.range` + xxhash64-derived columns,
  * no RNG, no driver-side data. Cross-table consistency is by shared
  * derivation (a lineitem's shipdate = orderDate(l_orderkey) + hash
  * days, recomputed from the key, not joined). Planted structure, at
  * the same DENSITY at every scale so per-row work is comparable:
  *
  *   - documents: row i ≡ 0 (mod 250) reuses row (i DIV 2)'s text
  *     verbatim (exact dup, ~0.4% — testdata sf0.1 has 8/5000); row
  *     i ≡ 0 (mod 97) appends one word to that text (near dup, same
  *     shingle set ± 2 — what MinHash/SimHash/ngram must catch).
  *   - embeddings: 10 label-keyed cluster centers + per-row noise
  *     (the IVF/LSH structure); row i ≡ 0 (mod 40) is row (i-20)'s
  *     vector plus 0.5% jitter (the cosine near-dup pairs).
  *
  * Usage: runMain graft.ScaleGen <outDir> <mult> [docsMult] [embMult] [skew] [paras]
  * where mult scales the sf0.1-equivalent base counts (600k lineitem,
  * 150k orders, 100k events, 15k customer, …); docsMult/embMult default
  * to mult but are separately amplifiable (the rehearsal runs docs at
  * 200× = 1M and embeddings at 50× = 100k per the round-4 verdict).
  *
  * The literal 5th arg `skew` (round-7 rehearsal) plants ONE hot key in
  * each fact table's join column — ~20% of orders land on custkey 0 and
  * ~20% of events on user_id 0 — leaving every other content statistic
  * identical, so a skewed-vs-uniform ratio at the same mult isolates
  * what the hot key costs, and a skewed x1 → x10 ratio shows whether
  * AQE/salting keeps the skewed plans linear. This is the planted-skew
  * twin of the uniform rehearsal: uniform scaling never fires AQE's
  * skew handling, so without it the skew-join machinery is only ever
  * exercised at sf0.1 fixture scale.
  */
object ScaleGen {

  // sf0.1-equivalent base row counts (TESTDATA.md)
  private val BaseLineitem = 600000L
  private val BaseOrders = 150000L
  private val BaseCustomer = 15000L
  private val BasePart = 20000L
  private val BaseSupplier = 1000L
  private val BaseEvents = 100000L
  private val BaseUsers = 1500L
  private val BaseDocs = 5000L
  private val BaseEmb = 2000L

  /** pmod(xxhash64(seed, cols…), n): the one hash primitive. pmod (not
    * abs) because xxhash64 can return Long.MinValue, whose abs throws
    * under ANSI. */
  private def hmod(seed: String, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(n))

  /** Order date as a pure function of the order KEY — shared by the
    * orders and lineitem generators so date correlations (ship after
    * order, q3/q4/q5 date-range selectivity) hold without a join. Spans
    * 1995-01-01..2001-07-31 like the testdata. */
  private def orderDate(key: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1995-01-01")),
      hmod("od", 2404, key).cast("int"))

  private val Vocab: Seq[String] = Seq(
    "spark", "query", "table", "join", "agg", "scan", "filter", "hash",
    "merge", "sort", "batch", "stream", "column", "row", "key", "value",
    "index", "cache", "shuffle", "vector", "group", "order", "line",
    "part", "customer", "fast", "slow", "big", "small", "the", "a")

  private def money(seed: String, lo: Double, hi: Double, id: Column): Column =
    round(lit(lo) + hmod(seed, ((hi - lo) * 100).toLong + 1, id) / 100.0, 2)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <outDir> <mult> [docsMult] [embMult] [skew]")
    val outDir = args(0)
    val mult = args(1).toDouble
    val docsMult = if (args.length > 2) args(2).toDouble else mult
    val embMult = if (args.length > 3) args(3).toDouble else mult
    val skew = args.drop(4).contains("skew")
    val paras = args.drop(4).contains("paras")
    val spark = GraftSession.forMain(partitions = Some("32"))
    spark.sparkContext.setLogLevel("WARN")
    write(spark, outDir, mult, docsMult, embMult, skew, paras)
    spark.stop()
  }

  def write(spark: SparkSession, outDir: String, mult: Double,
      docsMult: Double, embMult: Double, skew: Boolean = false,
      paras: Boolean = false): Unit = {
    def n(base: Long, m: Double): Long = math.max(1L, (base * m).toLong)
    val nLi = n(BaseLineitem, mult); val nOrd = n(BaseOrders, mult)
    val nCust = n(BaseCustomer, mult); val nPart = n(BasePart, mult)
    val nSupp = n(BaseSupplier, mult); val nEv = n(BaseEvents, mult)
    val nUsers = n(BaseUsers, mult)
    val nDocs = n(BaseDocs, docsMult); val nEmb = n(BaseEmb, embMult)
    // file counts: ~1M rows per output file for the big tables (what a
    // sane 100 TB layout looks like in miniature); 1 file for dims
    def parts(rows: Long): Int = math.max(1, (rows / 1000000L).toInt)

    def save(df: DataFrame, name: String, nParts: Int): Unit =
      df.repartition(nParts)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val id = col("id")

    save(spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name")),
      "region", 1)

    save(spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")),
      "nation", 1)

    save(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod("sn", 25, id).cast("int").as("s_nationkey"),
      money("sb", -999.99, 9999.99, id).as("s_acctbal")),
      "supplier", parts(nSupp))

    save(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hmod("cn", 25, id).cast("int").as("c_nationkey"),
      money("cb", -999.99, 9999.99, id).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").map(lit): _*),
        hmod("cm", 5, id).cast("int") + 1).as("c_mktsegment")),
      "customer", parts(nCust))

    save(spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        element_at(array(Vocab.map(lit): _*), hmod("pn1", 31, id).cast("int") + 1),
        element_at(array(Vocab.map(lit): _*), hmod("pn2", 31, id).cast("int") + 1))
        .as("p_name"),
      concat(lit("Brand#"), hmod("pb", 25, id) + 1).as("p_brand"),
      element_at(array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD").map(lit): _*), hmod("pt", 6, id).cast("int") + 1).as("p_type"),
      (hmod("ps", 50, id) + 1).cast("int").as("p_size"),
      money("pr", 900.0, 999.9, id).as("p_retailprice")),
      "part", parts(nPart))

    // skew mode: rows whose "sk" hash lands in 1 of 5 buckets (~20%)
    // redirect their foreign key to key 0 — one hot customer / user
    // holding a fifth of the fact table, the shape AQE's skew-join
    // split and the salted-join rewrite exist for
    def hot(seed: String, normal: Column): Column =
      if (!skew) normal else when(hmod(seed, 5, id) === 0, lit(0L)).otherwise(normal)

    save(spark.range(nOrd).select(
      id.as("o_orderkey"),
      hot("sk", hmod("oc", nCust, id)).as("o_custkey"),
      // ~45% O / 45% F / 10% P, like the testdata's 3-valued status
      element_at(array(lit("O"), lit("F"), lit("P")),
        when(hmod("os", 20, id) < 9, 1).when(hmod("os", 20, id) < 18, 2)
          .otherwise(3)).as("o_orderstatus"),
      money("ot", 1000.0, 500000.0, id).as("o_totalprice"),
      orderDate(id).cast("timestamp").as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        hmod("op", 5, id).cast("int") + 1).as("o_orderpriority")),
      "orders", parts(nOrd))

    // exactly 4 lines per order (testdata averages 4); shipdate derives
    // from the SAME orderDate(key) the orders generator used, 1..95 days
    // later — the q3/q4 ship-after-order correlation holds by derivation
    val lOrderkey = expr("id DIV 4")
    save(spark.range(nLi).select(
      lOrderkey.as("l_orderkey"),
      hmod("lp", nPart, id).as("l_partkey"),
      hmod("ls", nSupp, id).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (hmod("lq", 50, id) + 1).cast("double").as("l_quantity"),
      money("le", 901.0, 99901.0, id).as("l_extendedprice"),
      round(hmod("ld", 11, id) / 100.0, 2).as("l_discount"),
      round(hmod("lt", 9, id) / 100.0, 2).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        hmod("lr", 3, id).cast("int") + 1).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        hmod("ll", 2, id).cast("int") + 1).as("l_linestatus"),
      date_add(orderDate(lOrderkey), (hmod("sd", 95, id) + 1).cast("int"))
        .cast("timestamp").as("l_shipdate")),
      "lineitem", parts(nLi))

    // events: ts is a µs TIMESTAMP_NTZ column — byte-identical physical
    // shape to the current driver testdata (timestamp[us],
    // isAdjustedToUTC=false), so the rehearsal dirs and the graded data
    // go through the SAME Tables.events branch. The TIMESTAMP→NTZ cast
    // is an exact digit relabel under this session's pinned UTC tz.
    // (The sniffing reader also accepts tz-adjusted TIMESTAMP and the
    // pre-round-6 ns-INT64 shape, covered by TablesFormatSpec.)
    // 30-day span like the testdata.
    val evUs = lit(1704067200000000L) + hmod("et", 2592000000000L, id)
    save(spark.range(nEv).select(
      id.as("event_id"),
      timestamp_micros(evUs).cast("timestamp_ntz").as("ts"),
      hot("sku", hmod("eu", nUsers, id)).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup",
        "error").map(lit): _*), hmod("ev", 5, id).cast("int") + 1)
        .as("event_type"),
      money("ew", 0.0, 560.0, id).as("value"),
      concat(lit("{\"k\": "), hmod("ek", 100, id), lit("}")).as("props")),
      "events", parts(nEv))

    // documents: word-salad over a corpus-size-scaled vocabulary, 8..92
    // words (~44..550 chars). VOCABULARY DIVERSITY SCALES WITH docsMult
    // (31 base words × docsMult suffixed variants): a real 200× crawl
    // has ~200× the vocabulary, not 200× denser reuse of the same 31
    // words — a fixed vocab at 1M docs collapses the shingle universe
    // to ~30k, every band minimum is shared by thousands of docs, and
    // the minhash candidate join goes quadratic (measured: the first
    // x10 rehearsal spilled 79 GB and filled the disk). Constant
    // per-shingle df across scales is the content invariant the
    // scaling-ratio table needs.
    //
    // Seed redirection plants the dup structure: a planted row derives
    // its text from an earlier row's seed. The target is a FIXED OFFSET
    // back (not id/2): an id≡0 (mod 97) row's half is itself ≡0 (mod
    // 97) whenever id is even, so a divisor-derived target chains onto
    // another redirected row and the pair never materializes; id-41 /
    // id-123 can't hit the same rule again (41 and 123 aren't multiples
    // of 97 / 250), so the target is a plain row except for rare
    // cross-rule hits, and density is uniform at every scale.
    val vocabArr = array(Vocab.map(lit): _*)
    val vocabScale = math.max(1L, docsMult.round)
    val isExact = id % 250 === 0 && id > 123
    val isNear = id % 97 === 0 && id > 41 && !isExact
    val seed = when(isExact, id - 123).when(isNear, id - 41).otherwise(id)
    val nWords = (hmod("nw", 85, seed) + 8).cast("int")
    def word(j: Column): Column = {
      val wid = hmod("w", 31L * vocabScale, seed, j)
      // wid < 31·docsMult ≪ 2^53, so double division is exact here
      concat(element_at(vocabArr, pmod(wid, lit(31)).cast("int") + 1),
        lit("_"), floor(wid / 31.0).cast("long"))
    }
    // paras mode (round-12): inject an explicit paragraph-break token
    // between words (~every 12 words, hash-placed from the SEED so
    // exact/near-dup rows share paragraph structure with their source
    // row — whole duplicated paragraphs exist by construction). A
    // SEPARATE mode, not a change to the standard dirs: the x10/x100
    // tables were measured on marker-free text and must stay
    // re-runnable bit-identically.
    def wordAt(j: Column): Column =
      if (!paras) word(j)
      else when(j > 0 && hmod("pb", 12, seed, j) === 0,
        concat(lit("<p> "), word(j))).otherwise(word(j))
    val baseText = array_join(
      transform(sequence(lit(0), nWords - 1), j => wordAt(j)), " ")
    // near dups (not exact) append one word: shingle set ± 2
    val text0 = when(isNear, concat(baseText, lit(" shuffle")))
      .otherwise(baseText)
    save(spark.range(nDocs).select(
      id.as("doc_id"),
      text0.as("text"),
      // 40% en, 15% each zh/es/fr/de — the testdata's mix
      when(hmod("lg", 20, id) < 8, "en").when(hmod("lg", 20, id) < 11, "zh")
        .when(hmod("lg", 20, id) < 14, "es").when(hmod("lg", 20, id) < 17, "fr")
        .otherwise("de").as("lang"),
      concat(lit("src"), id % 20).as("source"),
      length(text0).cast("long").as("n_chars")),
      // ~300 B/row → ~256 MB per file (splittable parquet row groups
      // inside; the spread guard sees bytes/maxPartitionBytes splits)
      "documents", math.max(1, (nDocs * 300 / (256L << 20)).toInt))

    // embeddings: 64-dim, 10 hash-derived cluster centers + noise
    // (±~0.23 like the testdata); every 40th row = row (i-20)'s vector
    // + 0.5% jitter (the cosine near-dup pairs dedup_embed must find)
    val isDup = id % 40 === 0 && id >= 40
    val eSeed = when(isDup, id - 20).otherwise(id)
    val eLabel = hmod("lab", 10, eSeed)
    def dim(j: Column): Column = {
      val center = (hmod("ec", 2001, eLabel, j) / 1000.0 - 1.0) * 0.15
      val noise = (hmod("en", 2001, eSeed, j) / 1000.0 - 1.0) * 0.08
      val jitter = when(isDup, (hmod("ej", 2001, id, j) / 1000.0 - 1.0) * 0.005)
        .otherwise(lit(0.0))
      (center + noise + jitter).cast("float")
    }
    save(spark.range(nEmb).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => dim(j)).as("embedding"),
      eLabel.cast("int").as("label")),
      "embeddings", math.max(1, (nEmb * 280 / (256L << 20)).toInt))

    println(s"SCALEGEN_DONE $outDir lineitem=$nLi orders=$nOrd customer=$nCust " +
      s"part=$nPart supplier=$nSupp events=$nEv documents=$nDocs embeddings=$nEmb " +
      s"skew=$skew paras=$paras")
  }
}
