package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for every input the benchmark hands the engine.
  *
  * The tables have the shape of the sf0.1 star schema (same table and
  * column names, same row counts) so the engine's `sfDir`-based entry
  * points read them unchanged. The same seed always yields the same
  * rows; nothing here is timed. */
object Inputs {

  // ------------------------------------------------------------ text

  /** A fixed pseudo-word vocabulary. The eight Gopher stop words take
    * the most frequent Zipf ranks, so real prose statistics hold. */
  val stopWords: Vector[String] =
    Vector("the", "of", "and", "to", "that", "with", "be", "have")
  val vocab: Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ren", "sta", "vo", "qui", "dra",
      "pel", "nor", "tis", "gan", "bru", "fe", "xo", "lum", "sor", "ath")
    val r = new scala.util.Random(7)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 1500)
      words += (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString
    stopWords ++ words.toVector
  }
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  def word(r: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
  }

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String)

  val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")

  /** One page: newline-separated sentences, a share wrapped in HTML
    * markup at line starts (so C4's terminal-punctuation rule still
    * sees the sentence end), and planted boilerplate so every curation
    * gate has real work. */
  private def page(id: Long, r: scala.util.Random): String = {
    val nLines = 3 + r.nextInt(12)
    val lines = (0 until nLines).map { _ =>
      val ws = Seq.fill(3 + r.nextInt(12))(word(r)).mkString(" ")
      val end = r.nextInt(10) match {
        case 0 => ""; case 1 => "!"; case 2 => "?"; case _ => "."
      }
      ws + end
    }.toBuffer
    if (r.nextInt(20) == 0) lines(0) = lines(0) + " javascript required."
    if (r.nextInt(50) == 0) lines += "lorem ipsum dolor sit amet."
    if (r.nextInt(50) == 0) lines += "config { key value }."
    r.nextInt(100) match {
      case x if x < 3 => // navigation page: markup heavy, few words
        (Seq("<html><body><nav>") ++ Seq.fill(30)(
          s"""<a href="https://example.org/n/${r.nextInt(999)}">${word(r)}</a>""")
          ++ Seq("</nav></body></html>")).mkString("\n")
      case x if x < 33 =>
        (Seq("<html><head><script>var n = 1 < 2;</script></head><body>")
          ++ lines.map(l => s"""<p class="c">$l""")
          ++ Seq(s"""<a href="https://example.org/d/$id">source</a></body></html>"""))
          .mkString("\n")
      case _ => lines.mkString("\n")
    }
  }

  /** Word-level edit of a page: ~6% of words replaced, so a copy stays
    * a near duplicate (3-shingle Jaccard well above 0.3). */
  private def nearCopy(text: String, r: scala.util.Random): String =
    text.split("\n", -1).map(_.split(" ", -1).map { w =>
      if (r.nextInt(100) < 6 && !w.startsWith("<")) word(r) else w
    }.mkString(" ")).mkString("\n")

  final case class Corpus(docs: Seq[Doc], copies: Seq[(Long, Long)],
                          bench: Seq[Doc])

  /** sf0.1-sized corpus (5000 pages) plus near-duplicate copies of a
    * seed-chosen 20% of them, and a 60-doc benchmark set for
    * decontamination: half 12-word excerpts of corpus prose, half fresh
    * text. */
  def corpus(seed: Long, nBase: Int = 5000): Corpus = {
    val r = new scala.util.Random(seed * 7919 + 1)
    val base = (0 until nBase).map { i =>
      Doc(i.toLong, page(i.toLong, r), langs(r.nextInt(langs.size)),
        s"src${r.nextInt(20)}")
    }
    val picked = r.shuffle(base.indices.toVector).take(nBase / 5).sorted
    val copies = picked.zipWithIndex.map { case (b, j) =>
      val d = base(b)
      (Doc(nBase.toLong + j, nearCopy(d.text, r), d.lang,
        if (r.nextBoolean()) d.source else s"src${r.nextInt(20)}"), d.docId)
    }
    val bench = (0 until 60).map { j =>
      val text =
        if (j % 2 == 0) {
          // a 12-word window of a page's prose: markup shared by every
          // HTML page would contaminate them all at once
          val ws = base(r.nextInt(nBase)).text.split("\\s+")
            .filterNot(w => w.exists("<>=".contains(_)))
          val at = r.nextInt(math.max(1, ws.length - 12))
          ws.slice(at, at + 12).mkString(" ")
        } else Seq.fill(20)(word(r)).mkString(" ") + "."
      Doc(10000000L + j, text, "en", "bench")
    }
    Corpus(base ++ copies.map(_._1), copies.map { case (c, o) => (c.docId, o) },
      bench)
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // ------------------------------------------------------- embeddings

  /** 64-d unit vectors around 10 cluster centres (sf0.1 shape). */
  def embeddings(seed: Long, n: Int, idBase: Long,
                 centres: Array[Array[Double]],
                 r: scala.util.Random): Array[(Long, Array[Float], Int)] =
    Array.tabulate(n) { i =>
      val c = r.nextInt(centres.length)
      val v = centres(c).map(_ + 0.09 * r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (idBase + i, v.map(x => (x / nrm).toFloat), c)
    }

  /** The 10 cluster centres are fixed across seeds, so every seed fills
    * the index's cells alike; a seed draws the points around them. */
  val centres: Array[Array[Double]] = {
    val r = new scala.util.Random(5)
    Array.fill(10) {
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  def vectorFrame(spark: SparkSession,
                  rows: Seq[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, e, l) => (id, e.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
  }

  // ------------------------------------------------------ star schema

  /** Uniform [0, 1) from (seed, salt, key) — order-independent, so a
    * table reads the same however Spark partitions its generation. */
  private def u(seed: Long, salt: Int, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(1000000007L))
      .cast("double") / 1000000007.0

  private def pick(xs: Seq[String], x: Column): Column =
    element_at(typedLit(xs), (floor(x * xs.size) + 1).cast("int"))

  /** The TPC-H-ish tables at scale factor `sf` (sf0.1 = 150k orders,
    * ~600k lines). Orders come without `o_totalprice`: [[withTotals]]
    * sets it to the sum of the lines' charged cents, so a totals
    * reconciliation of untouched data has zero diffs. Lineitem
    * carries a `l_linekey` surrogate (orderkey × 8 + linenumber), the
    * single-column key a package upsert needs. */
  def starSchema(spark: SparkSession, seed: Long,
                 sf: Double): Map[String, DataFrame] = {
    def rows(sf01: Long): Long = math.max(1L, math.round(sf01 * sf / 0.1))
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        col("id") / 5.0).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(rows(15000)).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(seed, 1, col("id")) * 25).cast("int").as("c_nationkey"),
      round(u(seed, 2, col("id")) * 10000 - 999, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), u(seed, 3, col("id"))).as("c_mktsegment"))
    val supplier = spark.range(rows(1000)).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(seed, 4, col("id")) * 25).cast("int").as("s_nationkey"),
      round(u(seed, 5, col("id")) * 10000 - 999, 2).as("s_acctbal"))
    val part = spark.range(rows(20000)).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("large", "small", "hot", "cold", "shiny"),
        u(seed, 6, col("id"))), pick(Seq("ring", "bolt", "gear", "pipe"),
        u(seed, 7, col("id")))).as("p_name"),
      concat(lit("Brand#"), floor(u(seed, 8, col("id")) * 50)).as("p_brand"),
      pick(Seq("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"),
        u(seed, 9, col("id"))).as("p_type"),
      (floor(u(seed, 10, col("id")) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
    val day0 = to_timestamp(lit("1992-01-01 00:00:00"))
    val ordersNoTotal = spark.range(rows(150000)).select(col("id").as("o_orderkey"),
      floor(u(seed, 11, col("id")) * rows(15000)).cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), u(seed, 12, col("id"))).as("o_orderstatus"),
      timestamp_seconds(unix_seconds(day0) +
        floor(u(seed, 13, col("id")) * 2400) * 86400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, 14, col("id"))).as("o_orderpriority"),
      (floor(u(seed, 15, col("id")) * 7) + 1).cast("int").as("n_lines"))
    val lineitem = ordersNoTotal
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .withColumn("lk", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(col("lk").as("l_linekey"), col("l_orderkey"),
        floor(u(seed, 16, col("lk")) * rows(20000)).cast("long").as("l_partkey"),
        floor(u(seed, 17, col("lk")) * rows(1000)).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u(seed, 18, col("lk")) * 50) + 1).as("l_quantity"),
        round((floor(u(seed, 18, col("lk")) * 50) + 1) *
          (lit(900.0) + floor(u(seed, 19, col("lk")) * 110000) / 100.0), 2)
          .as("l_extendedprice"),
        (floor(u(seed, 20, col("lk")) * 11) / 100.0).as("l_discount"),
        (floor(u(seed, 21, col("lk")) * 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), u(seed, 22, col("lk"))).as("l_returnflag"),
        pick(Seq("F", "O"), u(seed, 23, col("lk"))).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (floor(u(seed, 24, col("lk")) * 120) + 1) * 86400).as("l_shipdate"))
    val orders = ordersNoTotal.drop("n_lines")
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem)
  }

  /** Charged cents of one line — the same expression the totals
    * reconciliation applies. */
  val lineCents: Column = expr(
    "cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) as bigint)")

  /** Orders with `o_totalprice` set to the sum of their lines' cents. */
  def withTotals(orders: DataFrame, lines: DataFrame): DataFrame =
    orders.drop("o_totalprice").join(
      lines.groupBy(col("l_orderkey").as("o_orderkey"))
        .agg((sum(lineCents) / 100.0).as("o_totalprice")),
      Seq("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
}
