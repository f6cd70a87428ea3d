package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("text_stats: ratios derive from the exact counts") {
    val r = TextAnalysis.textStats(spark, sf)
      .filter(col("doc_id") === 0).collect().head
    val stop = r.getAs[Long]("n_stop"); val words = r.getAs[Long]("n_words")
    assert(r.getAs[Double]("stop_ratio") ==
      math.round(stop.toDouble / words * 10000) / 10000.0)
    assert(words > 0 && r.getAs[Long]("n_chars_calc") > 0)
  }

  test("lang_id: chinese text routes to zh, default routes to en") {
    import spark.implicits._
    // same CASE rule as the operator, exercised on crafted rows
    val df = Seq((1L, "中文文本", "zh"),
        (2L, "the cat and the dog is here", "en"))
      .toDF("doc_id", "text", "lang")
    df.createOrReplaceTempView("documents_crafted")
    val zh = size(regexp_extract_all(col("text"),
      lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    val out = df.withColumn("c_zh", zh)
      .withColumn("c_en", lit(0)).withColumn("c_de", lit(0))
      .withColumn("c_fr", lit(0)).withColumn("c_es", lit(0))
      .withColumn("pred", expr(TextAnalysis.langCaseSql))
      .collect().map(r => r.getAs[String]("pred"))
    assert(out.toSeq == Seq("zh", "en"))
  }

  test("token_count: bpe tokens >= whitespace tokens") {
    val rows = TextAnalysis.tokenCount(spark, sf).collect()
    assert(rows.forall(r =>
      r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens")))
  }

  test("doc_fingerprint: equal shingle sets, equal fingerprints") {
    val fp = TextAnalysis.docFingerprint(spark, sf)
    assert(fp.select("fingerprint").distinct().count() ==
      fp.count()) // this corpus has no exact dup shingle sets
    assert(fp.collect().forall(_.getAs[String]("fingerprint").length == 64))
  }

  test("doc_winnow: shared substrings yield shared fingerprints") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a.replace("lazy", "very") // one word differs
    val c = "completely unrelated content with different characters xyz"
    val fps = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.Winnow.winnowFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(x: Set[Long], y: Set[Long]) =
      (x intersect y).size.toDouble / math.min(x.size, y.size)
    assert(overlap(fps(1L), fps(2L)) > 0.5,
      s"near-identical docs must share fingerprints: ${overlap(fps(1L), fps(2L))}")
    assert(overlap(fps(1L), fps(3L)) < 0.2,
      s"unrelated docs must not: ${overlap(fps(1L), fps(3L))}")
  }

  test("text_shingles: bounded by length-2") {
    val joined = TextAnalysis.textShingles(spark, sf)
      .join(Tables.load(spark, sf, "documents"), "doc_id")
    assert(joined.filter(
      col("n_shingles3") > length(col("text")) - 2).count() == 0)
  }

  test("seq_pack: distributed prefix sums equal a single global cumsum") {
    import org.apache.spark.sql.expressions.Window
    val got = TextAnalysis.seqPack(spark, sf, maxTokens = 512, nRanges = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // naive reference: one global window (fine at spec scale)
    val naive = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("seq_id",
        expr("(sum(n_tok) OVER (ORDER BY doc_id) - n_tok) div 512"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == naive.toSeq)
    // packing is a partition of the corpus: every doc lands exactly once
    assert(got.map(_._2).sum ==
      Tables.load(spark, sf, "documents").count())
  }

  test("ngram_lm: top-3 next words by count with deterministic tie-break") {
    val rows = TextAnalysis.ngramLm(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // brute force on the tiny SF
    val words = Tables.load(spark, sf, "documents")
      .select(graft.functions.TextShingles.words(col("text")).as("w"))
      .collect().map(_.getSeq[String](0))
    val counts = words.flatMap(w => w.zip(w.tail))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= 5L)
    val expect = counts.toSeq.map { case ((w1, w2), n) => (w1, w2, n) }
      .groupBy(_._1).toSeq.flatMap { case (w1, g) =>
        g.sortBy { case (_, w2, n) => (-n, w2) }.take(3).zipWithIndex
          .map { case ((a, b, n), i) => (a, b, n, i + 1) }
      }.sortBy(r => (r._1, r._4))
    assert(rows.toSeq == expect)
  }

  test("seq_pack: empty input packs to zero sequences, not an NPE") {
    import spark.implicits._
    val empty = Tables.load(spark, sf, "documents").filter(col("doc_id") < 0)
    // route through the operator on a filtered-to-empty corpus
    val before = TextAnalysis.seqPack(spark, sf).count()
    assert(before > 0)
    // direct empty-frame path: build a view-equivalent via the same SF
    // dir but an always-false pushdown filter
    val dirWithNoDocs = java.nio.file.Files
      .createTempDirectory("graft-empty-docs").toString
    empty.write.mode("overwrite")
      .parquet(s"$dirWithNoDocs/documents.parquet")
    assert(TextAnalysis.seqPack(spark, dirWithNoDocs).count() == 0)
  }

  test("source_kl: identical usage gives 0; a planted drift is positive") {
    import spark.implicits._
    // two sources with IDENTICAL word distributions -> both KL = 0
    val same = Seq(("a", "x x y"), ("b", "x x y")).toDF("source", "text")
    val klSame = TextAnalysis.sourceKlFrom(same, topK = 10).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl4")).toMap
    assert(klSame == Map("a" -> 0.0, "b" -> 0.0))
    // hand-check: corpus = {x:3, y:3}; source a = {x:2, y:1},
    // b = {x:1, y:2} -> KL(a||c) = 2/3 ln(4/3) + 1/3 ln(2/3)
    val drift = Seq(("a", "x x y"), ("b", "x y y")).toDF("source", "text")
    val got = TextAnalysis.sourceKlFrom(drift, topK = 10).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_topk_tokens"),
        r.getAs[Double]("kl4"))).toList
    val expect = BigDecimal(
      2.0 / 3 * math.log((2.0 * 6) / (3.0 * 3))
        + 1.0 / 3 * math.log((1.0 * 6) / (3.0 * 3)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == List(("a", 3L, expect), ("b", 3L, expect)), s"got $got")
    // fixture corpus: KL is non-negative for every source
    val fix = TextAnalysis.sourceKl(spark, sf).collect()
    assert(fix.nonEmpty)
    assert(fix.forall(_.getAs[Double]("kl4") >= 0.0))
  }

  test("source_psi: identical distributions give 0; shift and skips counted") {
    import spark.implicits._
    // two sources with identical length histograms -> PSI 0, no skips
    val same = Seq(("a", 100L), ("a", 300L), ("b", 100L), ("b", 300L))
      .toDF("source", "n_chars")
    val g0 = TextAnalysis.sourcePsiFrom(same, binWidth = 256).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getDouble(4),
        r.getBoolean(5)))
    assert(g0.toSeq == Seq(("a", 0L, 0.0, false), ("b", 0L, 0.0, false)))
    // source a only short docs, b only long: each misses the other's
    // bin entirely -> skipped bins counted, PSI from the shared algebra
    val split = Seq(("a", 100L), ("a", 120L), ("b", 300L), ("b", 320L))
      .toDF("source", "n_chars")
    val g1 = TextAnalysis.sourcePsiFrom(split, binWidth = 256).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    // each source: its own bin p_s=1 vs p_g=1/2 -> term (1-1/2)ln(2)
    val expect = BigDecimal(0.5 * math.log(2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g1.toSeq == Seq(("a", 1L, 1L, expect, expect > 0.2),
      ("b", 1L, 1L, expect, expect > 0.2)), s"got ${g1.toSeq}")
    // fixture corpus: one row per source, finite PSI
    val fix = TextAnalysis.sourcePsi(spark, sf).collect()
    assert(fix.nonEmpty)
    assert(fix.forall(r => !r.getAs[Double]("psi4").isNaN))
  }

  test("pack_efficiency: a doc spanning 3+ windows counts interior windows") {
    import spark.implicits._
    // r10 ADVICE: n_seqs from countDistinct(seq_id) counted only doc
    // START windows, so a long doc's interior windows vanished and
    // mean_fill4 could exceed 1.0. Contiguous packing of 5005 tokens at
    // maxTokens=1024 fills exactly ceil(5005/1024)=5 sequences.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-longdoc").toString
    Seq((1L, Seq.fill(5000)("w").mkString(" ")), (2L, "a b c"), (3L, "d e"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.packEfficiency(spark, dir, maxTokens = 1024L)
      .collect().head
    assert(r.getAs[Long]("total_tokens") == 5005L)
    assert(r.getAs[Long]("n_seqs") == 5L,
      s"interior windows must count: got n_seqs=${r.getAs[Long]("n_seqs")}")
    assert(r.getAs[Double]("mean_fill4") <= 1.0)
  }

  test("charset_gate: replacement and control chars counted exactly; tab/newline clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "perfectly clean text"),
      (2L, "bad �� decode"),
      (3L, "bellcontrol"),
      (4L, "tabs\tand\nnewlines\rok")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.charsetGateFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getBoolean(5))))
      .toMap
    assert(got(1L) == ((0L, 0L, true)))
    assert(got(2L) == ((2L, 0L, false)))
    assert(got(3L) == ((0L, 1L, false)))
    assert(got(4L) == ((0L, 0L, true))) // whitespace controls are fine
  }

  test("pii_scrub: counts and redacted digests are exact on hand-built rows") {
    import spark.implicits._
    import java.security.MessageDigest
    def sha(s: String) = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "mail a.user+tag@sub.example.org and bob@x.co today"),
      (2L, "server 192.168.0.1 talked to 10.0.0.7"),
      (3L, "nothing sensitive here"),
      (4L, "mixed: eve@corp.io from 172.16.254.3")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrubFrom(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_emails") == 2 && r(1L).getAs[Long]("n_ips") == 0)
    assert(r(1L).getAs[String]("scrubbed_sha") ==
      sha("mail <EMAIL> and <EMAIL> today"))
    assert(r(2L).getAs[Long]("n_ips") == 2 &&
      r(2L).getAs[String]("scrubbed_sha") ==
        sha("server <IP> talked to <IP>"))
    assert(!r(3L).getAs[Boolean]("had_pii") &&
      r(3L).getAs[String]("scrubbed_sha") == sha("nothing sensitive here"))
    assert(r(4L).getAs[String]("scrubbed_sha") ==
      sha("mixed: <EMAIL> from <IP>"))
  }

  test("lm_perplexity: common-bigram docs score below novel-bigram docs") {
    import spark.implicits._
    val docs = (Seq((1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "the cat sat"), (4L, "the cat sat")) :+
      (5L, "zq xv qqj pw")).toDF("doc_id", "text")
    val r = TextAnalysis.perplexityFrom(docs).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_nll")).toMap
    // docs 1-4 share every bigram (c2=4); doc 5's are singletons
    assert(r(1L) == r(4L))
    assert(r(5L) > r(1L), s"novel ${r(5L)} must exceed common ${r(1L)}")
    // decimal-summed NLL: re-evaluation is bit-identical
    val again = TextAnalysis.perplexityFrom(docs).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_nll")).toMap
    assert(r == again)
  }

  test("lm_perplexity_kn: valid probabilities, novel bigrams cost more, exact replay") {
    import spark.implicits._
    val docs = (Seq((1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "the cat sat"), (4L, "the dog sat")) :+
      (5L, "zq xv qqj pw")).toDF("doc_id", "text")
    val r = TextAnalysis.perplexityKnFrom(docs).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_nll_kn")).toMap
    // p ≤ 1 per term ⇒ nll ≥ 0; common-bigram docs beat singleton docs
    assert(r.values.forall(_ >= 0.0), r)
    assert(r(1L) == r(2L) && r(2L) == r(3L))
    assert(r(5L) > r(1L), s"novel ${r(5L)} must exceed common ${r(1L)}")
    // deterministic re-evaluation (decimal-summed, order-independent)
    val again = TextAnalysis.perplexityKnFrom(docs.repartition(5)).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_nll_kn")).toMap
    assert(r == again)
    // hand replay of one bigram's term: doc 5's "zq xv" — c2=1, c1=1,
    // nf=1 (zq precedes only xv), np=1 (xv follows only zq), tt = the
    // distinct bigram type count
    val tt = Seq("the cat", "cat sat", "the dog", "dog sat",
      "zq xv", "xv qqj", "qqj pw").length
    def term(c2: Long, c1: Long, nf: Long, np: Long): Double = {
      val raw = -math.log((c2 - 0.75) / c1 + 0.75 * nf / c1 * (np.toDouble / tt))
      java.math.BigDecimal.valueOf(raw)
        .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    // all three of doc 5's bigrams are singletons with nf=np=1
    val want5 = java.math.BigDecimal.valueOf(
      term(1, 1, 1, 1) * 3 / 3)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r(5L) == want5, s"${r(5L)} vs $want5")
  }

  test("html_strip: recovers the wrapped text exactly, counts tags/links") {
    import spark.implicits._
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "<html><head><script>if (a<b) { x(); }</script></head>" +
        "<body><p>hello  world</p><a href=\"u\">l</a></body></html>"),
      (2L, "plain text stays  intact"),
      (3L, "<style>p { color: red; }</style><div>styled</div>")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.htmlStripFrom(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: script block (with its inner '<') gone, text + link label
    assert(r(1L).getAs[String]("clean_sha") == sha("hello world l"))
    assert(r(1L).getAs[Long]("n_links") == 1)
    assert(r(1L).getAs[Long]("n_words_clean") == 3)
    // doc 2: untouched but whitespace-collapsed
    assert(r(2L).getAs[String]("clean_sha") == sha("plain text stays intact"))
    assert(r(2L).getAs[Long]("n_tags") == 0)
    // doc 3: style block dropped wholesale, div text kept
    assert(r(3L).getAs[String]("clean_sha") == sha("styled"))
  }

  test("tfidf_embed: hand-checked buckets/signs/weights, partition-invariant") {
    import spark.implicits._
    import graft.functions.KrHashF
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Seq((1L, "aa bb aa"), (2L, "bb cc")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfEmbedFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keys.forall { case (_, b) => b >= 0 && b < 64 })
    // independent replay: h from the same KR kernel, idf = ln((N+1)/(df+1))+1
    def h(t: String) =
      KrHashF.hashUtf8(UTF8String.fromString(t), KrHashF.B, KrHashF.M)
    def weight(tf: Long, df: Long): Double =
      tf * (math.log((2 + 1.0) / (df + 1.0)) + 1.0)
    def signOf(t: String) = if ((h(t) / 64) % 2 == 0) 1.0 else -1.0
    def r8(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP)
    def r6(x: java.math.BigDecimal) = x.doubleValue() match {
      case d => java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    // doc 1: aa×2 (df=1), bb×1 (df=2); doc 2: bb×1, cc×1 (df=1)
    val expected = Map(
      (1L, h("aa") % 64) -> r8(signOf("aa") * weight(2, 1)),
      (1L, h("bb") % 64) -> r8(signOf("bb") * weight(1, 2)),
      (2L, h("bb") % 64) -> r8(signOf("bb") * weight(1, 2)),
      (2L, h("cc") % 64) -> r8(signOf("cc") * weight(1, 1)))
      .map { case (k, v) => k -> r6(v) } // no bucket collisions here
    assert(Set(h("aa") % 64, h("bb") % 64, h("cc") % 64).size == 3,
      "fixture tokens must not collide for the hand check")
    assert(out == expected, s"$out vs $expected")
    val re = TextAnalysis.tfidfEmbedFrom(docs.repartition(4)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(re == out)
  }

  test("perplexity_buckets: per-lang thirds, ties never split, monotone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat", "en"), (2L, "the cat sat", "en"),
      (3L, "the dog ran fast", "en"), (4L, "a b a b a b", "en"),
      (5L, "zq xv qqj pw", "en"), (6L, "mixed words here now", "en"),
      (7L, "one two three", "xx"), (8L, "four five six", "xx"),
      (9L, "seven eight nine", "xx")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBucketsFrom(docs).collect()
    assert(out.length == 9)
    val nll4 = (r: org.apache.spark.sql.Row) =>
      math.round(r.getAs[Double]("avg_nll") * 10000)
    // ties (same lang + 4-dp score) never split across buckets
    out.groupBy(r => (r.getAs[String]("lang"), nll4(r))).values.foreach(g =>
      assert(g.map(_.getAs[String]("ppl_bucket")).distinct.length == 1))
    // buckets are monotone in avg_nll within each language
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    out.groupBy(_.getAs[String]("lang")).values.foreach { rows =>
      val b = rows.sortBy(_.getAs[Double]("avg_nll"))
        .map(r => rank(r.getAs[String]("ppl_bucket")))
      assert(b.zip(b.tail).forall { case (lo, hi) => lo <= hi })
    }
    // independent driver-side replay of the group-END assignment rule
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val n = rows.length
      var cum = 0
      rows.groupBy(nll4).toSeq.sortBy(_._1).foreach { case (_, g) =>
        cum += g.length
        val want = if (cum * 3 <= n) "head"
                   else if (cum * 3 <= 2 * n) "middle" else "tail"
        assert(g.forall(_.getAs[String]("ppl_bucket") == want))
      }
    }
  }

  test("quality_repetition: flags looping docs, passes diverse ones, exact fracs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"),          // one word everywhere
      (2L, "alpha beta gamma delta epsilon"),    // fully diverse
      (3L, "go stop go stop go stop go stop"),   // duplicated bigrams
      (4L, "one"),                               // no 2-grams at all
      (5L, "")                                   // degenerate
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionFrom(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("top_word_frac") == 1.0 &&
      r(1L).getAs[Boolean]("repetitive"))
    // 4 distinct of 4 bigrams → dup2 = 0; five distinct words → 0.2 top
    assert(r(2L).getAs[Double]("dup2_frac") == 0.0 &&
      !r(2L).getAs[Boolean]("repetitive"))
    // "go stop"×4 + "stop go"×3 = 7 bigrams, 2 distinct → 1 - 2/7
    assert(r(3L).getAs[Double]("dup2_frac") == 0.7143 &&
      r(3L).getAs[Boolean]("repetitive"))
    // single word: gram lists empty, top frac 1, no NPE/descending seq
    assert(r(4L).getAs[Double]("dup2_frac") == 0.0 &&
      r(4L).getAs[Double]("dup3_frac") == 0.0)
    assert(r(5L).getAs[Long]("n_words") == 1L) // split("") = [""]
  }

  test("vocab_coverage: top-k by count, exact cumulative coverage, TakeOrdered plan") {
    val words = Tables.load(spark, sf, "documents")
      .select(col("text")).collect().flatMap(
        _.getString(0).trim.toLowerCase.split("\\s+"))
    val counts = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = words.length.toLong
    val expect = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(100)
    val got = TextAnalysis.vocabCoverage(spark, sf).collect()
    assert(got.map(r => (r.getString(1), r.getLong(2))).toSeq == expect)
    // ranks dense from 1; cum_frac = prefix sum / total, rounded to 4
    assert(got.map(_.getInt(0)).toSeq == (1 to got.length))
    var cum = 0L
    got.foreach { r =>
      cum += r.getLong(2)
      assert(r.getDouble(3) ==
        BigDecimal(cum.toDouble / total)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the top-k must be a per-partition heap merge, not a global sort
    val plan = planOf(TextAnalysis.vocabCoverage(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan TakeOrderedAndProject:\n$plan")
  }

  test("word_pmi: PMI matches a hand-rolled reference on the tiny SF") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("text")).collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nW = docs.map(_.length.toLong).sum
    val bigrams = docs.filter(_.length >= 2)
      .flatMap(w => w.zip(w.tail))
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nB = bigrams.length.toLong
    def pmi(p: (String, String)): Double = {
      val raw = math.log((c2(p).toDouble * nW * nW)
        / (nB.toDouble * uni(p._1) * uni(p._2)))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = c2.keys.filter(c2(_) >= 5L).toSeq
      .map(p => (p._1, p._2, c2(p), uni(p._1), uni(p._2), pmi(p)))
      .sortBy { case (w1, w2, _, _, _, s) => (-s, w1, w2) }.take(50)
    val got = TextAnalysis.wordPmi(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == expect)
  }

  test("quality_model: sigmoid of the fixed linear form over textStats features") {
    val stats = TextAnalysis.textStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    val got = TextAnalysis.qualityModel(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getBoolean(2)))).toMap
    assert(got.size == stats.length)
    stats.foreach { case (id, nWords, stopR, punctR) =>
      val z = -2.0 + 0.9 * math.log(nWords + 1.0) + 3.0 * stopR - 8.0 * punctR
      val score = BigDecimal(1.0 / (1.0 + math.exp(-z)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (s, acc) = got(id)
      assert(s == score, s"doc $id: $s != $score")
      assert(acc == (score >= 0.5))
    }
  }

  test("inverted_index: df/cf/span/checksum equal a brute-force reference") {
    def knuth(id: Long): Long = {
      val a = ((id % 4294967296L) + 4294967296L) % 4294967296L
      val a1 = a / 65536L; val a0 = a % 65536L
      (a0 * 2654435761L % 4294967296L +
        a1 * 2654435761L % 65536L * 65536L) % 4294967296L
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+")))
    val byTerm = docs.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(_._1)
    val expect = byTerm.map { case (term, occ) =>
      val ids = occ.map(_._2)
      val distinctIds = ids.distinct
      (term, (distinctIds.length.toLong, ids.length.toLong,
        distinctIds.min, distinctIds.max,
        (distinctIds.map(i => BigInt(knuth(i))).sum
          mod BigInt(2305843009213693951L)).toLong))
    }
    val got = TextAnalysis.invertedIndex(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
    val expectTop = expect.toSeq
      .sortBy { case (t, (df, _, _, _, _)) => (-df, t) }.take(50)
    assert(got.toSeq == expectTop)
  }

  test("quality_funnel: each gate rejects exactly its planted doc, in order") {
    import spark.implicits._
    val stop10 = "the and is of to the and is of to"
    val docs = Seq(
      (1L, "en", "a b c d e"),                            // < 10 words
      (2L, "en", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // no stopwords
      (3L, "en", "the the the the the the the the the the and is"), // modal
      (4L, "de", s"$stop10 w1 w2"),                       // lang mismatch
      (5L, "en", s"$stop10 w1 w2"))                       // survives
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.qualityFunnelFrom(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "min_length", 5L, 1L, 4L),
      (2, "quality", 4L, 1L, 3L),
      (3, "repetition", 3L, 1L, 2L),
      (4, "lang_match", 2L, 1L, 1L)))
  }

  test("bpe_train: merges equal an independent BPE reference on a toy corpus") {
    import spark.implicits._
    // Sennrich et al.'s worked example shape: frequencies force a known
    // merge order
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainFrom(docs, nMerges = 4, maxWords = 100)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))

    // independent reference implementation (plain Scala)
    var vocab: Map[Vector[String], Long] = Map(
      Vector("l", "o", "w") -> 5L, Vector("l", "o", "w", "e", "r") -> 2L,
      Vector("n", "e", "w", "e", "s", "t") -> 6L,
      Vector("w", "i", "d", "e", "s", "t") -> 3L)
    val expect = (1 to 4).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      val ((l, r), cnt) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      vocab = vocab.map { case (syms, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == l && x == r) {
            out.remove(out.length - 1); out += (l + r)
          } else out += x
        }
        out.toVector -> f
      }
      (step, l, r, cnt)
    }
    assert(got.toSeq == expect)
  }

  test("bpe_encode: learned merges shrink tokens; counts consistent") {
    val rows = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nWords, nChars, nToks, comp) =>
      // tokens bounded by chars (merges only shrink) and by words below
      assert(nToks <= nChars, s"doc $id")
      assert(nToks >= nWords, s"doc $id")
      assert(comp == math.round(nChars.toDouble / nToks * 10000) / 10000.0)
    }
    // the merges actually fire somewhere: corpus-level compression > 1
    val (tc, tt) = (rows.map(_._3).sum, rows.map(_._4).sum)
    assert(tc.toDouble / tt > 1.0, s"chars=$tc tokens=$tt")
  }

  test("source_mix_report: shares and entropy equal a reference; monolingual source = 0 bits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "en", "one two three"), (2L, "a", "en", "four five"),
      (3L, "b", "en", "six"), (4L, "b", "de", "sieben acht"),
      (5L, "b", "fr", "neuf"), (6L, "b", "fr", "dix elf zwolf"))
      .toDF("doc_id", "source", "lang", "text")
    val got = TextAnalysis.sourceMixReportFrom(docs).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") == ((2L, 1L, 5L, r4(5.0 / 12), 0.0)))
    // b: langs en 1/4, de 1/4, fr 2/4 -> 1.5 bits
    val (nd, nl, toks, share, ent) = got("b")
    assert((nd, nl, toks) == ((4L, 3L, 7L)) && share == r4(7.0 / 12))
    assert(math.abs(ent - 1.5) < 1e-9, s"entropy $ent")
  }

  test("text_normalize: decomposed and singleton code points compose to NFC") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii stays"),       // already NFC - unchanged
      (2L, "cafe\u0301"),              // e + combining acute -> e-acute
      (3L, "unit \u212B"),             // ANGSTROM SIGN -> U+00C5
      (4L, "ring A\u030A"),            // A + combining ring -> U+00C5
      (5L, "  spaced\t out  ")         // whitespace collapse + trim
    ).toDF("doc_id", "text")
    val got = TextAnalysis.textNormalizeFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getString(4)))).toMap
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((17L, 17L, false, sha("plain ascii stays"))))
    assert(got(2L) == ((5L, 4L, true, sha("caf\u00E9"))))
    assert(got(3L) == ((6L, 6L, true, sha("unit \u00C5"))))
    assert(got(4L) == ((7L, 6L, true, sha("ring \u00C5"))))
    assert(got(5L) == ((15L, 10L, true, sha("spaced out"))))
  }

  test("quality_calibration: deciles partition the corpus, means in bounds") {
    val rows = TextAnalysis.qualityCalibration(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    val n = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._2).sum == n, "every doc lands in exactly one decile")
    rows.foreach { case (d, nd, mean, ok, rate) =>
      assert(d >= 0 && d <= 9)
      // decile means sit inside their bucket (top bucket includes 1.0)
      assert(mean >= d / 10.0 - 1e-9, s"decile $d mean $mean")
      assert(mean <= (d + 1) / 10.0 + (if (d == 9) 0.1 else 1e-9))
      assert(ok <= nd)
      assert(rate == math.round(ok.toDouble / nd * 10000) / 10000.0)
    }
  }

  test("bpe_fertility: exact rollup of bpe_encode by language") {
    val perDoc = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    val langs = Tables.load(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val expect = perDoc.groupBy { case (id, _) => langs(id) }
      .map { case (lang, rows) =>
        val (w, c, t) = (rows.map(_._2._1).sum, rows.map(_._2._2).sum,
          rows.map(_._2._3).sum)
        lang -> (rows.size.toLong, w, t, c,
          math.round(t.toDouble / w * 10000) / 10000.0,
          math.round(c.toDouble / t * 10000) / 10000.0)
      }
    val got = TextAnalysis.bpeFertility(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(got == expect)
    // fertility is a sane tokenizer metric: >= 1 token per word
    got.values.foreach { case (_, _, _, _, fert, _) => assert(fert >= 1.0) }
  }

  test("unigram tokenizer: deterministic hard-EM training, full " +
      "coverage, engine DP equals the trainer's Viterbi, EM uses the " +
      "multi-char pieces it keeps") {
    val wf = Seq(("thequick", 10L), ("thebrown", 8L), ("quick", 6L),
      ("fox", 5L), ("the", 20L), ("lazy", 3L), ("dog", 2L))
    val m1 = TextAnalysis.trainUnigram(wf)
    val m2 = TextAnalysis.trainUnigram(wf)
    assert(m1 == m2, "training must be run-to-run deterministic")
    val lp = m1.map { case (p, _, l) => p -> l }.toMap
    // coverage: every single char survives EM, so ANY [a-z]+ word
    // segments — including one the trainer never saw
    ('a' to 'z').foreach(c => assert(lp.contains(c.toString), s"$c"))
    val unseen = graft.functions.Unigram.viterbiPieces("zzyzx", lp, 4)
    assert(unseen.mkString == "zzyzx")
    // counts are positive and probs negative; multi-char pieces exist
    m1.foreach { case (p, c, l) => assert(c >= 1 && l < 0, s"$p") }
    assert(m1.exists(_._1.length > 1),
      "EM must keep at least one multi-char piece on this corpus")
    // the trained model actually compresses: frequent words segment
    // into fewer pieces than characters
    val pcs = graft.functions.Unigram.viterbiPieces("thequick", lp, 4)
    assert(pcs.mkString == "thequick" && pcs.length < 8, pcs.toString)
    // engine DP == trainer Viterbi token count, word for word
    import spark.implicits._
    val docs = wf.zipWithIndex
      .map { case ((w, _), i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = graft.api.Graft.unigramEncode(docs, lp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    wf.zipWithIndex.foreach { case ((w, _), i) =>
      assert(got(i.toLong) ==
        graft.functions.Unigram.viterbiPieces(w, lp, 4).length.toLong,
        s"word $w: engine DP disagrees with the trainer's Viterbi")
    }
    // fixture form: bpe-comparable shape, sane metrics, deterministic
    val fx = TextAnalysis.unigramEncode(spark, sf).collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      assert(r.getLong(3) >= r.getLong(1), "at least one token per word")
      assert(r.getLong(3) <= r.getLong(2), "at most one token per char")
    }
    // model artifact: encode off the artifact equals train-inline, and
    // a non-artifact dir fails loudly
    val fromArtifact = TextAnalysis.unigramEncodeArtifact(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromArtifact == fx.map(_.toString).toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.readUnigramModel(spark,
        TextAnalysis.sharedBpeRulesDir(spark, sf))
    }
    val comparison = TextAnalysis.tokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6)).toMap
    val langs = comparison.keys.map(_._1).toSet
    langs.foreach { l =>
      assert(comparison.contains((l, "bpe"))
        && comparison.contains((l, "unigram")),
        s"both tokenizers must be priced for $l")
      assert(comparison((l, "unigram")) >= 1.0)
    }
  }

  test("tokenizers on mixed-case text: case folds before both encodes; " +
      "fertility reports the skipped mass exactly") {
    import spark.implicits._
    // mixed-case words fold to their lowercase twins BEFORE the
    // [a-z]+ admission filter — 'The'/'QUICK' encode exactly like
    // 'the'/'quick'; digit/punctuation tokens are skipped, and the
    // fertility table must say so instead of silently describing a
    // subset (VERDICT-r18 #5)
    val mixed = Seq((1L, "The QUICK brown FOX likes 42 data-sets"),
      (2L, "the quick brown fox likes 42 data-sets"))
      .toDF("doc_id", "text")
    val lp = TextAnalysis.unigramTrainFrom(mixed)
    val uni = graft.api.Graft.unigramEncode(mixed, lp).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(uni(0) == uni(1),
      "mixed-case doc must encode identically to its lowercased twin")
    assert(uni(0)._1 == 5L, "5 encodable words (42 and data-sets skip)")
    val bpe = TextAnalysis.bpeEncodeFromRules(mixed,
      TextAnalysis.readBpeRules(spark,
        TextAnalysis.sharedBpeRulesDir(spark, sf))).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bpe(0) == bpe(1), "BPE likewise case-folds before encoding")
    // fertility's skipped columns: fixture corpus, exact reference
    val words = Tables.load(spark, sf, "documents")
      .selectExpr("lang", "explode(split(lower(trim(text)), '\\\\s+')) AS w")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val refSkipped = words.groupBy(_._1).map { case (l, ws) =>
      l -> ws.count(w => !w._2.matches("^[a-z]+$")).toLong
    }
    val fert = TextAnalysis.tokenizerFertility(spark, sf).collect()
    fert.foreach { r =>
      val (lang, nWords) = (r.getString(0), r.getLong(3))
      val (nSkip, share) = (r.getLong(8), r.getDouble(9))
      assert(nSkip == refSkipped(lang),
        s"$lang skipped: $nSkip vs ${refSkipped(lang)}")
      val expect = BigDecimal(nSkip.toDouble / (nSkip + nWords))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(share == expect, s"$lang skipped_share")
    }
  }

  test("trained tokenizer models are pinned at sf0.01: BPE merge rules " +
      "and the unigram (piece, cnt, lp) table hash unchanged") {
    // the oracles inline the models the engine trains, so the 250-query
    // gate cannot see a training change; these hashes can
    val sf01 = new java.io.File(sf).getParent + "/sf0.01"
    def sha(rows: Seq[Any]) = java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(rows.map(_.toString).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val bpe = TextAnalysis.bpeTrain(spark, sf01).collect().toSeq
    val uni = TextAnalysis.trainUnigram(TextAnalysis.wordFreqs(
      Tables.load(spark, sf01, "documents"), 2000))
    assert(sha(bpe) == "f64e76238c6077693c21b62c06f65b02b5a22ce0aed10a81c3fe3ad21dec13e4", bpe.mkString(" "))
    assert(sha(uni) == "1b5dc33152f09a83fdd973f67189234ef08535f184960a3d7e8f8ab808a26065", uni.take(10).mkString(" "))
  }

  /** Runs `body` and returns the Spark jobs it started. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try body
    finally {
      org.apache.spark.sql.graftbridge.CatalystBridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("a unigram model without every single-letter piece is refused, " +
      "naming the missing letter, before any Spark job") {
    import spark.implicits._
    // "cab" segments as ca·b, but "bc" cannot: no piece ends in c
    val lp = ('a' to 'z').filter(_ != 'c').map(_.toString -> -3000000L)
      .toMap + ("ca" -> -2000000L)
    val docs = Seq((1L, "cab ab bc")).toDF("doc_id", "text")
    var err: IllegalArgumentException = null
    val jobs = jobsDuring {
      err = intercept[IllegalArgumentException](
        graft.api.Graft.unigramEncode(docs, lp).collect())
    }
    assert(err.getMessage.endsWith("missing: c"), err.getMessage)
    assert(jobs == 0, s"$jobs Spark jobs ran before the refusal")
  }

  test("both tokenizer trainers refuse a word table over 20000 words " +
      "before any Spark job") {
    val docs = Tables.load(spark, sf, "documents")
    val jobs = jobsDuring {
      intercept[IllegalArgumentException](
        TextAnalysis.bpeTrainFrom(docs, 5, maxWords = 20001))
      intercept[IllegalArgumentException](
        TextAnalysis.unigramTrainFrom(docs, maxWords = 20001))
    }
    assert(jobs == 0, s"$jobs Spark jobs ran before the refusal")
  }

  test("bpe rules artifact: encode off the artifact equals train-inline") {
    val dir = graft.operators.ExportImport.scratch("bpe-rules-spec")
    TextAnalysis.bpeRulesToDir(spark, sf, dir)
    val rules = TextAnalysis.readBpeRules(spark, dir)
    assert(rules.count() > 0 && rules.columns.toSeq ==
      Seq("step", "left", "right", "pair_freq"))
    val fromArtifact = TextAnalysis.bpeEncodeFromRules(
      Tables.load(spark, sf, "documents"), rules)
      .collect().map(_.toString).toSeq
    val inline = TextAnalysis.bpeEncode(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromArtifact == inline)
    // a non-artifact dir fails loudly, not with wrong columns downstream
    val bad = graft.operators.ExportImport.scratch("bpe-rules-bad")
    Tables.load(spark, sf, "documents").limit(1).write
      .mode("overwrite").parquet(bad)
    intercept[IllegalArgumentException](TextAnalysis.readBpeRules(spark, bad))
  }

  test("corpus_report reconciles cell-by-cell with its drill-down operators") {
    val r = TextAnalysis.corpusReport(spark, sf).collect().head
    val stats = TextAnalysis.textStats(spark, sf).collect()
    val ents = TextAnalysis.charEntropy(spark, sf).collect()
    assert(r.getLong(0) == stats.length)
    // decimal mean of the SAME 4-dp per-doc quality values
    val meanQ = stats.map(s => BigDecimal(s.getDouble(7))).sum /
      stats.length
    assert(r.getDouble(3) == (meanQ.setScale(4,
      BigDecimal.RoundingMode.HALF_UP)).toDouble)
    val flagged = ents.count(_.getBoolean(3))
    assert(r.getDouble(5) ==
      math.round(flagged.toDouble / ents.length * 10000) / 10000.0)
    val srcs = Tables.load(spark, sf, "documents")
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(r.getLong(7) == srcs.length)
    assert(r.getDouble(8) ==
      math.round(srcs.max.toDouble / stats.length * 10000) / 10000.0)
  }

  test("char_entropy: kernel edge cases + map-only plan") {
    import graft.functions.CharEntropyF
    def h(s: String) = CharEntropyF.entropy(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(h("") == 0.0)
    assert(h("aaaa") == 0.0) // one symbol: no uncertainty
    assert(math.abs(h("ab") - 1.0) < 1e-12) // fair coin
    assert(math.abs(h("abcd") - 2.0) < 1e-12)
    // surrogate pairs counted as single code points
    assert(h("😀😀") == 0.0)
    // natural language sits in the expected band on real data
    val df = TextAnalysis.charEntropy(spark, sf)
    val vals = df.collect().map(_.getDouble(1))
    assert(vals.forall(v => v >= 0.0 && v <= 8.0))
    assert(vals.count(v => v >= 3.0 && v <= 5.0) > vals.length / 2)
    // the gate is ONE map-only scan: no exchange anywhere in the plan
    // (the orderBy is the driver-contract presentation sort; check the
    // unsorted form, which is what a pipeline composes)
    val plan = Tables.load(spark, sf, "documents")
      .select(graft.functions.CharEntropyF.charEntropy(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("zipf_fit: natural text slopes negative with a real fit") {
    val rows = TextAnalysis.zipfFit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0, s"slope must be negative: $r")
      val r2 = r.getDouble(3)
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r")
    }
  }

  test("lang_confusion: cells partition the corpus; shares sum to 1") {
    val cells = TextAnalysis.langConfusion(spark, sf).collect()
    val total = cells.map(_.getLong(2)).sum
    assert(total == Tables.load(spark, sf, "documents").count())
    cells.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val share = rs.map(_.getDouble(3)).sum
      assert(math.abs(share - 1.0) < 2e-4 * rs.length, s"$lang shares: $share")
    }
  }
}
