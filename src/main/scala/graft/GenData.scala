package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator (round-7 verdict "next"
  * 1): everything above sf0.1 in `/root/testdata` is an ARGUED scale
  * claim until measured, so this main regenerates the three
  * LLM-pipeline tables (`documents`, `embeddings`, `events`) at an
  * arbitrary scale factor with the same schemas and the same
  * distributional shape as the driver's tables (vocabulary, text
  * length 10–100 words, lang/source mix, exact-dup and near-dup
  * rates, unit-norm 64-dim embeddings, 30-day event stream) — so the
  * d/s/t/w/km/p/mm families can be benched at 10–30× the committed
  * bench scale.
  *
  * Every value is a pure function of (row id, salt) through a
  * splitmix64 mix — no RNG state, so any row count, partitioning, or
  * re-run yields identical values. Generation runs distributed
  * (`spark.range(n, parts)` → map), and the output is written as
  * multi-part parquet — unlike the single-row-group driver files, so
  * scans parallelize natively.
  *
  * Usage: `runMain graft.GenData <outDir> <sf>` — row counts are
  * sf-proportional to the driver's tables (sf0.1 = 5k docs / 2k vecs
  * / 100k events).
  */
object GenData {

  // ----- splitmix64: the standard 64-bit finalizer, pure per (id, salt)
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from (id, salt). */
  private def u(id: Long, salt: Long): Double =
    ((mix(id * 0x100000001b3L + salt) >>> 11).toDouble) / (1L << 53).toDouble

  private def nextInt(id: Long, salt: Long, bound: Int): Int =
    (u(id, salt) * bound).toInt

  /** The driver tables' 31-word vocabulary (dumped from sf0.1). */
  private val baseVocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Vocabulary scaled so SHINGLE COLLISION DENSITY stays constant as
    * the corpus grows — the property real corpora have (vocabulary
    * grows with scale) and the one the driver's own sf0.001→sf0.1
    * tables exhibit (per-shingle df stays small). With a FIXED vocab,
    * the 3-gram shingle space is constant, per-shingle df grows
    * linearly with docs, and every posting-list family (d03→d08/d09/
    * p06) is QUADRATIC in the data, not the engine — the first sf1
    * run measured exactly that (d03 23×, d08 165× at 10× data).
    * Growing the vocab by cbrt(docs/5000) keeps the 3-gram space
    * proportional to the corpus, i.e. constant df. At ≤5k docs this
    * is exactly the driver vocabulary.
    */
  private def vocabFor(nDocs: Long): Array[String] = {
    val target = math.max(baseVocab.length,
      math.ceil(baseVocab.length *
        math.cbrt(nDocs / 5000.0)).toInt)
    Array.tabulate(target) { i =>
      if (i < baseVocab.length) baseVocab(i)
      else baseVocab(i % baseVocab.length) + (i / baseVocab.length)
    }
  }

  private val langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  /** UTF-8 words for the `rich` corpus: 2-byte Latin accents and
    * 3-byte CJK, exercising the byte-level tokenizer's multi-byte
    * path (written as escapes so the source stays ASCII).
    */
  private val utf8Words = Array(
    "caf\u00e9", "na\u00efve", "\u00fcber", "r\u00e9sum\u00e9",
    "se\u00f1or", "Z\u00fcrich", "\u4e2d\u6587",
    "\u65e5\u672c\u8a9e")

  private val punctMarks = Array(".", ",", "!", "?", ";", ":")

  /** `rich` decoration of one drawn word (deterministic per (id, word
    * index)): a mix of capitalization, ALLCAPS, digit tokens, UTF-8
    * words and attached trailing punctuation — the shape real crawled
    * text has and the driver's lowercase-ascii tables lack. This is
    * the byte-level BPE family's honest test surface (punctuation and
    * digits pre-tokenize to their own tokens; case and multi-byte
    * scripts hit distinct byte symbols).
    */
  private def decorate(id: Long, i: Int, w: String,
      level: Int = 1): String = {
    val wide = level >= 2
    val r = u(id, 9000 + i)
    val w1 =
      if (r < 0.03) utf8Words(nextInt(id, 9100 + i, utf8Words.length))
      else if (r < 0.08)
        (1 + nextInt(id, 9200 + i, if (wide) 99999 else 9999)).toString
      else if (r < 0.10) w.toUpperCase
      else if (r < 0.35) w.capitalize
      else if (level == 3 && r < 0.95)
        // `vstress`: 60% of draws (r in [0.35,0.95)) land in a 50M-id letters pool —
        // nearly every instance is corpus-unique, so the distinct-word
        // dictionary grows ~linearly with the corpus (≥5M distinct at
        // sf3). This is the BPE trainer's driver-collect stress
        // surface: past the driver budget `Text.bpeTrainAt` hands the
        // dictionary to the executor-side trainer.
        alphaWord(nextInt(id, 9500 + i, 50000000))
      else if (wide && r < 0.50)
        alphaWord(nextInt(id, 9500 + i, 40000))
      else w
    if (u(id, 9300 + i) < 0.12)
      w1 + punctMarks(nextInt(id, 9400 + i, punctMarks.length))
    else w1
  }

  /** Letters-only synthetic word for the `wide` class (a mixed
    * alphanumeric string would PRE-TOKENIZE into separate letter and
    * digit tokens under the BPE word pattern, collapsing the intended
    * vocabulary). Base-26 over a–z; 40k ids → ≤4 chars (`wide`),
    * 50M ids → ≤6 chars (`vstress`).
    */
  private def alphaWord(n0: Int): String = {
    var n = n0
    val sb = new StringBuilder
    var more = true
    while (more) {
      sb += ('a' + n % 26).toChar
      n /= 26
      more = n > 0
    }
    sb.result()
  }

  /** Base (non-duplicate) text for a doc id: 10–100 vocab words.
    * `zipf=false` draws words uniformly (the driver tables' shape);
    * `zipf=true` draws log-uniformly over the rank (≈ Zipf-1) — the
    * shape REAL text has, where a few words dominate and shingle
    * document frequency is heavily skewed. The Zipf corpus is the
    * honest stress case for posting-list dedup (hot shingles) and the
    * value case for prefix filtering (d19). `rich=true` additionally
    * decorates words ([[decorate]]); it composes with either draw.
    */
  private def rawWords(id: Long, vocab: Array[String],
      zipf: Boolean, deco: Int): Array[String] = {
    val n = 10 + nextInt(id, 2, 91)
    Array.tabulate(n) { i =>
      val w =
        if (zipf)
          vocab((math.pow(vocab.length.toDouble, u(id, 100 + i)) - 1).toInt
            .min(vocab.length - 1))
        else vocab(nextInt(id, 100 + i, vocab.length))
      if (deco > 0) decorate(id, i, w, deco) else w
    }
  }

  /** Final text: ~0.2% exact duplicates and ~0.6% near-duplicates
    * (every 7th word swapped) of an earlier donor doc — the structure
    * the dedup families mine; rates mirror the driver tables' 8 dup
    * pairs per 5k docs.
    */
  private def textFor(id: Long, vocab: Array[String],
      zipf: Boolean, deco: Int): String = {
    val r = u(id, 1)
    if (id >= 10 && r < 0.002) {
      rawWords(id - 1 - (nextInt(id, 4, 8)), vocab, zipf, deco).mkString(" ")
    } else if (id >= 10 && r < 0.008) {
      val w = rawWords(id - 1 - nextInt(id, 5, 8), vocab, zipf, deco)
      Array.tabulate(w.length) { i =>
        if (i % 7 == 3) vocab(nextInt(id, 5000 + i, vocab.length)) else w(i)
      }.mkString(" ")
    } else rawWords(id, vocab, zipf, deco).mkString(" ")
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Ev(event_id: Long, tsMicros: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  private val eventTypes =
    Array("view", "click", "purchase", "signup", "error")

  // ----- TPC-H-ish star schema (value shapes dumped from sf0.1) -----
  final case class Cust(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supp(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdateMicros: Long,
      o_orderpriority: String)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdateMicros: Long)

  private val segments = Array(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Array("O", "P", "F")
  private val partAdj = Array(
    "red", "small", "hot", "cold", "old", "new", "large", "blue")
  private val partNoun = Array(
    "gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
  private val partTypes = Array(
    "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val regions = Array(
    "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val returnFlags = Array("A", "N", "R")

  private def money(id: Long, salt: Long, lo: Double, hi: Double): Double =
    math.floor((lo + u(id, salt) * (hi - lo)) * 100) / 100

  private def dateMicros(id: Long, salt: Long): Long = {
    val base = java.time.Instant.parse("1995-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val spanDays = 2400L
    base + (u(id, salt) * spanDays).toLong * 86400L * 1000000L
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    // optional flags after <sf>: "zipf" (log-uniform word ranks —
    // real-text df skew) and/or "rich" (mixed-case/punctuation/digit/
    // UTF-8 decoration — the byte-level tokenizer's test surface) or
    // "wide" (rich + 5-digit tokens + a 40k letters-only synthetic
    // pool: ~100k distinct words, merge budget ≫ 32768 — the ONLY
    // class whose vocabulary can sustain the t30 production-size
    // train without exhausting; rich/zipf corpora stay byte-identical)
    // or "vstress" (wide with 60% of draws from a 50M-id letters
    // pool: the distinct-word dictionary grows ~linearly with the
    // corpus — ≥5M distinct words at sf3 — the BPE trainer's
    // driver-collect vocabulary-stress surface)
    val flags = args.drop(2).toSet
    val zipf = flags.contains("zipf")
    val deco = if (flags.contains("vstress")) 3
      else if (flags.contains("wide")) 2
      else if (flags.contains("rich")) 1 else 0
    val parts = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.configure(
      SparkSession.builder()
        .master(s"local[$parts]")
        .config("spark.sql.shuffle.partitions", parts)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = math.max(1500L, (15000 * sf).toLong)

    val vocab = vocabFor(nDocs)
    spark.range(0, nDocs, 1, parts).as[Long].map { id =>
      val text = textFor(id, vocab, zipf, deco)
      Doc(id, text, langs(nextInt(id, 6, langs.length)),
        s"src${nextInt(id, 7, 20)}", text.length.toLong)
    }.write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    val dim = 64
    spark.range(0, nVecs, 1, parts).as[Long].map { id =>
      // Box–Muller gaussian per axis, then L2-normalize (driver vecs
      // are unit-norm)
      val g = Array.tabulate(dim) { i =>
        val u1 = math.max(u(id, 200 + 2 * i), 1e-12)
        val u2 = u(id, 201 + 2 * i)
        math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      Vec(id, g.map(x => (x / norm).toFloat), nextInt(id, 3, 10))
    }.write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    val baseMicros = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val spanMicros = 30L * 24 * 3600 * 1000000L
    spark.range(0, nEvents, 1, parts).as[Long].map { id =>
      Ev(id, baseMicros + (u(id, 10) * spanMicros).toLong,
        nextInt(id, 11, nUsers.toInt).toLong,
        eventTypes(nextInt(id, 12, eventTypes.length)),
        math.floor(math.min(-50.0 * math.log1p(-u(id, 13)), 600.0) * 100) / 100,
        s"""{"k": ${nextInt(id, 14, 100)}}""")
    }.select(col("event_id"), timestamp_micros(col("tsMicros")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")

    // ----- TPC-H-ish star schema, sf-proportional to the driver's -----
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLines = (6000000 * sf).toLong

    Seq.tabulate(regions.length)(i => (i, regions(i)))
      .toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/region.parquet")
    Seq.tabulate(25)(i => (i, s"NATION_$i", i % regions.length))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/nation.parquet")

    spark.range(0, nCust, 1, parts).as[Long].map { id =>
      Cust(id, f"Customer#$id%09d", nextInt(id, 20, 25),
        money(id, 21, -1000, 10000), segments(nextInt(id, 22, 5)))
    }.write.mode(SaveMode.Overwrite).parquet(s"$outDir/customer.parquet")

    spark.range(0, nSupp, 1, parts).as[Long].map { id =>
      Supp(id, f"Supplier#$id%09d", nextInt(id, 30, 25),
        money(id, 31, 0, 10000))
    }.write.mode(SaveMode.Overwrite).parquet(s"$outDir/supplier.parquet")

    spark.range(0, nPart, 1, parts).as[Long].map { id =>
      Part(id,
        s"${partAdj(nextInt(id, 40, 8))} ${partNoun(nextInt(id, 41, 8))}",
        s"Brand#${nextInt(id, 42, 25)}", partTypes(nextInt(id, 43, 6)),
        1 + nextInt(id, 44, 50), 900.0 + (id % 1000) * 0.1)
    }.write.mode(SaveMode.Overwrite).parquet(s"$outDir/part.parquet")

    spark.range(0, nOrders, 1, parts).as[Long].map { id =>
      Order(id, nextInt(id, 50, nCust.toInt).toLong,
        statuses(nextInt(id, 51, 3)), money(id, 52, 1000, 500000),
        dateMicros(id, 53), priorities(nextInt(id, 54, 5)))
    }.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        timestamp_micros(col("o_orderdateMicros")).as("o_orderdate"),
        col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")

    spark.range(0, nLines, 1, parts).as[Long].map { id =>
      Line(nextInt(id, 60, nOrders.toInt).toLong,
        nextInt(id, 61, nPart.toInt).toLong,
        nextInt(id, 62, nSupp.toInt).toLong,
        1 + nextInt(id, 63, 7), (1 + nextInt(id, 64, 50)).toDouble,
        money(id, 65, 900, 105000), nextInt(id, 66, 11) * 0.01,
        nextInt(id, 67, 9) * 0.01, returnFlags(nextInt(id, 68, 3)),
        if (u(id, 69) < 0.5) "F" else "O", dateMicros(id, 70))
    }.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"),
        timestamp_micros(col("l_shipdateMicros")).as("l_shipdate"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")

    println(s"GENDATA sf=$sf docs=$nDocs vecs=$nVecs events=$nEvents " +
      s"lineitem=$nLines -> $outDir")
    spark.stop()
    sys.exit(0)
  }
}
