package graft

import org.apache.spark.sql.functions._
import graft.operators.{Blob, Dedup}
import graft.functions.TextShingles

class DedupSpec extends SparkSpec {

  test("dedup_exact: one cluster per distinct normalized content") {
    val df = Dedup.dedupExact(spark, sf)
    assert(df.count() ==
      Tables.load(spark, sf, "documents")
        .select(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
        .distinct().count())
  }

  test("dedup_minhash: finds the planted near-dup pairs, no cartesian") {
    val df = Dedup.dedupMinhash(spark, sf)
    val pairs = df.collect()
    assert(pairs.nonEmpty, "sf0.001 documents contain planted near-dups")
    assert(pairs.forall(_.getAs[Double]("j4") >= 0.5))
    assertNoCartesian(Dedup.dedupMinhash(spark, sf))
  }

  test("dedup_minhash: LSH recall is total on planted dups (vs all-pairs)") {
    // brute-force reference on the tiny SF only
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(TextShingles.jaccard(col("sh_a"), col("sh_b")) >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.toSet == brute.toSet)
  }

  test("dedup_ngram_exactjoin: exact same pairs as brute force (prefix filter is lossless)") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(TextShingles.jaccard(col("sh_a"), col("sh_b")) >= 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val pf = Dedup.dedupNgramExactjoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pf.toSet == brute.toSet)
    assertNoCartesian(Dedup.dedupNgramExactjoin(spark, sf))
  }

  test("dedup_ngram_exactjoin: PPJoin positional filter is in the plan") {
    // the positional prune is what keeps the verify stage sized by the
    // true near-dup mass (596k -> far fewer candidates on the sf0.1
    // vintage); a refactor that drops it would still be CORRECT (the
    // exact-Jaccard verify masks it), so pin its presence in the plan:
    // the candidate join's filter must compare against least(na-pa, nb-pb).
    // Since r20 the sfDir wrapper SERVES from the session pair artifact
    // (its plan is a parquet read), so the pin targets the
    // self-contained core — the plan the artifact BUILD executes.
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    val p = planOf(Dedup.dedupNgramExactjoinFrom(docs, 0.3))
    assert(p.contains("least("),
      s"candidate join must carry the positional filter (least(na-pa, nb-pb) bound):\n$p")
  }

  test("dedup_minhash: bucket cap is observable, zero capped on testdata") {
    val df = Dedup.dedupMinhash(spark, sf)
    df.collect()
    val metrics = df.queryExecution.observedMetrics("dedup_minhash_buckets")
    assert(metrics.getAs[Long]("n_capped_buckets") == 0L,
      s"testdata must not hit the bucket cap: $metrics")
    assert(metrics.getAs[Int]("max_bucket_size") >= 2)
  }

  test("dedup_simhash: near-identical docs collide, distant docs don't") {
    import spark.implicits._
    // planted: 1↔2 differ by one word in 500 (few bit-votes swing, so
    // Hamming lands within the guaranteed ≤7 band window); 3 is unrelated
    val base = (1 to 500).map(i => s"tok$i").mkString(" ")
    val near = (1 to 500).map(i => if (i == 250) "changed" else s"tok$i")
      .mkString(" ")
    val far = (1 to 500).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    val pairs = Dedup.dedupSimhashFrom(docs, maxHamming = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-identical docs must collide: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"unrelated docs must not collide: $pairs")
    // and on real data: hits respect the hamming bound
    assert(Dedup.dedupSimhash(spark, sf).collect()
      .forall(_.getAs[Int]("hamming") <= 5))
  }

  test("dedup_simhash: banded pairs equal brute-force all-pairs (pigeonhole is lossless)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        transform(col("sh"), s => graft.functions.KrHashF.krHash(s)).as("hx"))
      .select(col("doc_id"),
        graft.functions.SimHash.simhashFingerprint(col("hx"), 54).as("fp"))
    val a = docs.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(expr("bit_count(fp_a ^ fp_b)") <= 5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banded must equal brute: extra=${banded -- brute} missing=${brute -- banded}")
  }

  test("dedup_clusters: components are closed over pairs, canonical is min id") {
    import spark.implicits._
    // hand graph: {1-2, 2-3} one chain, {5-6} a pair, 9 a singleton
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clustersFromPairs(nodes, pairs, maxIters = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (5L, 5L, 2L, true), (6L, 5L, 2L, false),
      (9L, 9L, 1L, true)))
    // real data: every doc labeled, cluster members agree with pairs
    val real = Dedup.dedupClusters(spark, sf).collect()
    assert(real.length ==
      Tables.load(spark, sf, "documents").count())
    val byCluster = real.groupBy(_.getLong(1))
    assert(byCluster.forall { case (cid, ms) =>
      ms.map(_.getLong(0)).min == cid && ms.forall(_.getLong(2) == ms.length)
    })
  }

  test("dedup_corpus: kept set = survivors of exact dedup minus non-canonical near-dups") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = base.replace("w30", "x")        // near-dup of 1
    val docs = Seq(
      (1L, base), (2L, near), (3L, base),       // 3 = exact dup of 1
      (4L, "something else entirely different here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpusKept(docs, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L),
      s"exact dup 3 and near dup 2 must fold into 1: $kept")
    // the audit query balances on real data
    val r = Dedup.dedupCorpus(spark, sf).collect().head
    assert(r.getLong(0) ==
      r.getLong(1) + r.getLong(2) + r.getLong(3))
  }

  test("blob_base64: canonical (unwrapped) base64, round-trip ok") {
    val rows = Blob.blobBase64(spark, sf).collect()
    assert(rows.forall(_.getAs[Boolean]("ok")))
    assert(rows.forall(!_.getAs[String]("b64").contains("\r")))
  }

  test("para_dedup: first occurrence wins globally; docs reassemble in order") {
    import spark.implicits._
    val paras = Seq(
      (1L, 0, "shared paragraph"), (1L, 1, "unique to one"),
      (2L, 0, "shared paragraph"), (2L, 1, "unique to two"),
      (3L, 0, "unique to three"), (3L, 1, "shared paragraph")
    ).toDF("doc_id", "pos", "para")
    val got = Dedup.paraDedupFrom(paras).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 owns the shared para (first occurrence); 2 and 3 lose it
    assert(got(1L) == ((2L, 2L, sha("shared paragraph\nunique to one"))))
    assert(got(2L) == ((2L, 1L, sha("unique to two"))))
    assert(got(3L) == ((2L, 1L, sha("unique to three"))))
  }

  test("line_dedup: boilerplate above the DF threshold drops from EVERY doc") {
    import spark.implicits._
    val lines = Seq(
      (1L, 0, "cookie banner"), (1L, 1, "real content one"),
      (2L, 0, "cookie banner"), (2L, 1, "real content two"),
      (3L, 0, "cookie banner"), (3L, 1, "shared twice"),
      (4L, 0, "shared twice"), (4L, 1, "real content four")
    ).toDF("doc_id", "pos", "line")
    val got = Dedup.lineDedupFrom(lines, maxDf = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // "cookie banner" has df=3 > 2: dropped from ALL docs, unlike
    // para_dedup no doc keeps a first occurrence; "shared twice" df=2 stays
    assert(got(1L) == ((2L, 1L, sha("real content one"))))
    assert(got(2L) == ((2L, 1L, sha("real content two"))))
    assert(got(3L) == ((2L, 1L, sha("shared twice"))))
    assert(got(4L) == ((2L, 2L, sha("shared twice\nreal content four"))))
  }

  test("dedup_eval: exact duplicates are always candidates; disjoint docs never are") {
    import spark.implicits._
    val mk = (s: String) => s.split(" ").toSeq
      .sliding(3).map(_.mkString(" ")).toSeq.distinct
    val docs = Seq(
      (1L, mk("alpha beta gamma delta epsilon zeta eta theta")),
      (2L, mk("alpha beta gamma delta epsilon zeta eta theta")), // dup of 1
      (3L, mk("one two three four five six seven eight nine"))   // unrelated
    ).toDF("doc_id", "sh")
    val r = Dedup.dedupEvalFrom(docs, tau = 0.5, bands = 16, rowsPerBand = 4)
      .collect().head
    // identical shingle sets share every band -> candidate AND truth
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
    // invariants on the fixture corpus: hits bounded, rates in [0,1]
    val f = Dedup.dedupEval(spark, sf).collect().head
    assert(f.getLong(2) <= math.min(f.getLong(0), f.getLong(1)))
    assert(f.getDouble(3) >= 0 && f.getDouble(3) <= 1
      && f.getDouble(4) >= 0 && f.getDouble(4) <= 1)
  }

  test("dedup_eval_sweep: band nesting makes candidates/recall monotone in bands") {
    val rows = Dedup.dedupEvalSweep(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("b8r8", "b16r4", "b32r2"))
    // a 4-row band is a pair of 2-row bands: matching the coarse band
    // implies matching both fine ones, so candidate sets NEST —
    // n_cand and n_hit must be non-decreasing as bands multiply
    def cand(g: String) = rows(g)._2
    def hit(g: String) = rows(g)._3
    assert(cand("b8r8") <= cand("b16r4") && cand("b16r4") <= cand("b32r2"),
      s"candidates must nest: $rows")
    assert(hit("b8r8") <= hit("b16r4") && hit("b16r4") <= hit("b32r2"))
    // truth is geometry-independent (same slice, same tau)
    assert(rows.values.map(_._1).toSet.size == 1)
  }

  test("dedup_clusters: reliable-checkpoint rounds equal the in-memory cut") {
    val pairs = Dedup.dedupNgramExactjoin(spark, sf, 0.3)
      .select("id_a", "id_b")
    val nodes = Tables.load(spark, sf, "documents").select(col("doc_id"))
    // a bound of 4 edge rows makes this small graph run contraction rounds
    val inMem = Dedup.connectedComponents(nodes, pairs, 20, None, 4)
      .collect().map(_.toString).toSeq
    assert(Dedup.lastContractionRounds > 0, "must run contraction rounds")
    val roundZero = Dedup.clustersFromPairs(nodes, pairs, 20)
      .collect().map(_.toString).toSeq
    assert(inMem == roundZero)
    val dir = graft.operators.ExportImport.scratch("ckpt-clusters")
    // start empty: a run directory left by an earlier JVM is not this run's
    val stale = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try stale.sorted(java.util.Comparator.reverseOrder())
      .filter(_ != java.nio.file.Paths.get(dir))
      .forEach(p => java.nio.file.Files.delete(p))
    finally stale.close()
    val ckpt = Dedup.connectedComponents(nodes, pairs, 20, Some(dir), 4)
      .collect().map(_.toString).toSeq
    assert(inMem == ckpt)
    // the checkpoint actually wrote durable round state
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable checkpoint must write files")
    // ...into one per-run directory that is deleted at JVM exit
    val runs = new java.io.File(dir).listFiles().toSeq
    assert(runs.size == 1 && runs.head.isDirectory &&
      runs.head.getName.startsWith("run-"), s"checkpoint run dirs: $runs")
    val run = new org.apache.hadoop.fs.Path(runs.head.getAbsolutePath)
    val fs = run.getFileSystem(graft.sources.FsIO.sessionConf)
    assert(fs.cancelDeleteOnExit(run), s"$run is not deleted at exit")
    fs.deleteOnExit(run)
  }

  private def clusterRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong,
      r.getLong(2), r.getBoolean(3))).toSeq

  test("dedup_clusters: contraction rounds equal round zero for int and " +
      "long ids") {
    import spark.implicits._
    val edges = (0 until 300).filter(_ % 5 != 0)
      .map(i => (i % 200, (i * 7 + 3) % 200))
      .filter { case (a, b) => a != b } ++ Seq((250, 251), (251, 252))
    val nodes = (0 until 260).toDF("doc_id")
    val pairs = edges.toDF("id_a", "id_b")
    for (t <- Seq("int", "long")) {
      val n = nodes.select(col("doc_id").cast(t))
      val p = pairs.select(col("id_a").cast(t), col("id_b").cast(t))
      val rounds = Dedup.connectedComponents(n, p, 40, None, 20)
      assert(Dedup.lastContractionRounds > 0, s"$t: must run rounds")
      val roundZero = Dedup.clustersFromPairs(n, p, 40)
      assert(Dedup.lastContractionRounds == 0, s"$t: must run none")
      // the caller's id type survives either way
      for (df <- Seq(rounds, roundZero))
        assert(df.schema("cluster_id").dataType.simpleString ==
          (if (t == "int") "int" else "bigint"), df.schema)
      val got = clusterRows(rounds)
      assert(got == clusterRows(roundZero), t)
      assert(got.map(_._2).distinct.size < 260, "graph must merge")
    }
  }

  test("dedup_clusters: a chain and a random graph contract to the " +
      "round-zero components") {
    for ((name, (nodes, pairs)) <- Seq(
        "chain" -> GraphGen.chain(spark, 1500),
        "random" -> GraphGen.random(spark, 2000, 1400, 7L))) {
      val rounds = clusterRows(
        Dedup.connectedComponents(nodes, pairs, 40, None, 100))
      val r = Dedup.lastContractionRounds
      assert(r >= 2, s"$name: ran $r rounds")
      assert(rounds == clusterRows(Dedup.clustersFromPairs(nodes, pairs, 40)),
        name)
      assert(rounds.size == (if (name == "chain") 1500 else 2000))
    }
  }

  test("dedup_clusters: the last round's jobs list no more stages than " +
      "the first round's") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    // per SQL execution: its call site ("localCheckpoint at
    // Dedup.scala:…"); per job: its execution and the stages it lists.
    // A round that drags its predecessors' lineage along lists more
    // stages every round.
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobs.add((id, e.stageInfos.size)))
    }
    val sc = spark.sparkContext
    val (nodes, pairs) = GraphGen.chain(spark, 2000)
    sc.addSparkListener(listener)
    try {
      Dedup.connectedComponents(nodes, pairs, 40, None, 60).collect()
      org.apache.spark.sql.graftbridge.CatalystBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    val rounds = Dedup.lastContractionRounds
    assert(rounds >= 4, s"ran $rounds rounds")
    // the most stages one job of an execution lists, per execution in
    // order, grouped by call site; a round's sites run once per round
    val perExec = jobs.asScala.toSeq.groupBy(_._1).toSeq
      .map { case (id, js) => (id.toLong, sites.get(id), js.map(_._2).max) }
      .sortBy(_._1)
    val bySite = perExec.groupBy(_._2).filter(_._2.size >= rounds)
    assert(bySite.size >= 2, s"per-round call sites: $perExec")
    bySite.foreach { case (site, execs) =>
      assert(execs.last._3 <= execs.head._3,
        s"$site: stages per job by round ${execs.map(_._3)}")
    }
  }

  test("dedup_clusters: rounds that miss the bound within maxIters fail " +
      "loudly") {
    val (nodes, pairs) = GraphGen.chain(spark, 1000)
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(nodes, pairs, 2, None, 10))
    assert(e.getMessage.contains(
      "did not contract to 10 edge rows in 2 rounds"), e.getMessage)
  }

  test("dedup_threshold_sweep: counts are monotone non-increasing in tau") {
    val rows = Dedup.dedupThresholdSweep(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(0.3, 0.5, 0.7))
    // higher threshold -> subset of pairs -> counts can only shrink
    rows.sliding(2).foreach { case Array((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1)
    }
    // the 0.3 row must equal the standalone exact join at 0.3
    assert(rows.head._2 == Dedup.dedupNgramExactjoin(spark, sf, 0.3).count())
  }

  test("simhash_plan: exact recall rationals, pigeonhole rows, " +
      "data-driven candidate volume") {
    val rows = Dedup.simhashPlan(spark, sf).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((2, 27), (3, 18), (6, 9), (9, 6), (18, 3), (27, 2), (54, 1)))
    rows.foreach { r =>
      val (bands, bits) = (r.getInt(0), r.getInt(1))
      assert(r.getInt(2) == bands - 1, "exact radius is bands - 1")
      val (num, den) = (r.getLong(7), r.getLong(8))
      assert(num > 0 && num <= den, s"recall rational in (0, 1]: $num/$den")
      // the published rational IS the double curve
      val d = Dedup.plannedBandRecall(bands, bits, 54, 10)
      assert(math.abs(num.toDouble / den.toDouble - d) < 1e-12)
      // pigeonhole: 10 differing bits cannot hit > 10 bands
      if (bands > 10) assert(num == den, s"$bands bands must be exact at 10")
      else assert(num < den, s"$bands bands cannot be exact at 10")
      // the engine's own 6x9 default is exact through its radius-5
      // contract (the planner CONFIRMS dedup_simhash's geometry)
      if (bands > 5) assert(r.getDouble(4) == 1.0,
        s"$bands bands must publish recall 1.0 at h=5")
    }
    // candidate volume replays against driver-side band-bucket counts
    // over the SAME fingerprints (collected once via the shared
    // derivation; the fp values themselves are pinned by the
    // dedup_simhash oracle)
    val fps = Dedup.simhashFps(
      Tables.load(spark, sf, "documents").select(col("doc_id"),
        TextShingles.shingles3(TextShingles.words(col("text"))).as("sh")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fps.nonEmpty)
    def volume(bands: Int, bits: Int): Long =
      (0 until bands).map { b =>
        fps.groupBy { case (_, fp) => (fp >> (b * bits)) & ((1L << bits) - 1) }
          .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
      }.sum
    rows.foreach { r =>
      assert(r.getLong(3) == volume(r.getInt(0), r.getInt(1)),
        s"cand_rows mismatch at ${r.getInt(0)}x${r.getInt(1)}")
    }
    // the trade the planner navigates: 1-bit bands are the candidate
    // blow-up end, 27-bit bands the selective end
    assert(rows.last.getLong(3) >= rows.head.getLong(3),
      "54x1 must cost at least as many candidate rows as 2x27")
  }

  test("kgram_novelty: planted duplicate shingles zero out novelty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares all with 2
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"))      // fully unique
      .toDF("doc_id", "text")
    val got = Dedup.kgramNoveltyFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 1/2: every 3-shingle appears in both -> df=2 -> novelty 0
    assert(got(1L) == ((3L, 0L, 0.0)) && got(2L) == ((3L, 0L, 0.0)))
    // doc 3: all 4 shingles unique to it
    assert(got(3L) == ((4L, 4L, 1.0)))
  }

  test("exact_substr_spans: planted copied passage found, spans merge") {
    import spark.implicits._
    val passage = "one two three four five six seven eight nine ten" // 10 tokens
    val docs = Seq(
      (1L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $passage"),
      (3L, "unique words only here nothing repeated anywhere at all " +
        "completely fresh content"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpansFrom(docs, n = 8, minCount = 2)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))))
      .toMap
    // the 10-token passage = three overlapping 8-grams -> ONE merged
    // span of 10 tokens in each carrying doc; doc 3 is absent
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((18L, 1L, 10L, 10L, 0.5556)))
    assert(got(2L) == ((18L, 1L, 10L, 10L, 0.5556)))

    // WITHIN-doc repetition counts too, and adjacent spans merge: a
    // 8-token phrase repeated back-to-back = one 16-token span (only
    // the two aligned grams repeat; boundary-crossing grams are unique)
    val phrase = "a b c d e f g h"
    val twice = Seq((9L, s"$phrase $phrase")).toDF("doc_id", "text")
    val r9 = Dedup.exactSubstrSpansFrom(twice, n = 8, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(r9.toSeq == Seq((9L, 1L, 16L)))

    // plan sanity on the real fixture: bucketed join only, no cartesian
    assertNoCartesian(Dedup.exactSubstrSpans(spark, sf))
  }

  test("exact_substr_scrub: cuts exactly the spans, rebuilds the rest") {
    import spark.implicits._
    val passage = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $passage"),
      (3L, "unique words only here nothing repeated anywhere at all " +
        "completely fresh content"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrScrubFrom(docs, n = 8, minCount = 2)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), "every doc gets a scrub row")
    // the 10-token planted span is cut, the flanks survive in order
    assert(got(1L) == ((18L, 8L, 10L,
      "alpha beta gamma delta epsilon zeta eta theta")))
    assert(got(2L) == ((18L, 8L, 10L,
      "iota kappa lambda mu nu xi omicron pi")))
    // an unaffected doc passes through as its normalized token stream
    assert(got(3L)._2 == 12L && got(3L)._3 == 0L)
    assert(got(3L)._4 ==
      "unique words only here nothing repeated anywhere at all " +
        "completely fresh content")
    // removed mass reconciles with the span report, doc by doc
    val spans = Dedup.exactSubstrSpansFrom(docs, n = 8, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    spans.foreach { case (id, repeated) =>
      assert(got(id)._3 == repeated,
        s"doc $id: removed ${got(id)._3} != spans' repeated $repeated")
    }
    // the scrub is a map-side HOF over the corpus scan — no cartesian
    assertNoCartesian(Dedup.exactSubstrScrub(spark, sf))
  }

  test("scrub_report: per-source rollup reconciles with the doc-level scrub") {
    val report = Dedup.scrubReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val scrub = Dedup.exactSubstrScrub(spark, sf)
      .join(Tables.load(spark, sf, "documents").select("doc_id", "source"),
        "doc_id")
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("removed_tokens")))
    assert(report.map(_._2).sum == scrub.length)
    assert(report.map(_._4).sum == scrub.map(_._2).sum, "token totals")
    assert(report.map(_._5).sum == scrub.map(_._3).sum, "removed totals")
    val bySrc = scrub.groupBy(_._1)
    report.foreach { case (src, nDocs, affected, tot, rem) =>
      val docs = bySrc(src)
      assert(nDocs == docs.length && tot == docs.map(_._2).sum
        && rem == docs.map(_._3).sum
        && affected == docs.count(_._3 > 0), s"source $src")
    }
  }

  test("memorization_grams: planted repeated 5-gram surfaces with exact df") {
    import spark.implicits._
    val boiler = "all rights reserved by the publisher"   // 6 words
    val docs = Seq(
      (1L, s"intro text here $boiler"),
      (2L, s"$boiler and some other words"),
      (3L, s"totally unrelated content $boiler"),
      (4L, "no shared spans in this document at all"))
      .toDF("doc_id", "text")
    val got = Dedup.memorizationGramsFrom(docs, minDocs = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    // the two 5-grams inside the planted span appear in docs 1-3
    assert(got.toSeq == Seq(
      ("all rights reserved by the", 3L, 1L, 3L),
      ("rights reserved by the publisher", 3L, 1L, 3L)))
    // a repeated gram INSIDE one doc counts once (distinct per doc)
    val twice = Seq((9L, s"$boiler $boiler"), (10L, boiler), (11L, boiler))
      .toDF("doc_id", "text")
    val df9 = Dedup.memorizationGramsFrom(twice, 3, 10).collect()
    assert(df9.forall(_.getLong(1) == 3L))
  }

  test("dedup_survivorship: longest member survives, char accounting exact") {
    val rows = Dedup.dedupSurvivorship(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty, "fixture has multi-member clusters")
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .filter(_.getAs[Long]("n_members") > 1)
      .groupBy(_.getAs[Long]("cluster_id"))
    assert(rows.length == clusters.size)
    rows.foreach { case (cid, n, kept, keptChars, dropped) =>
      val members = clusters(cid).map(_.getAs[Long]("doc_id"))
      assert(members.length.toLong == n)
      // the keeper is the longest member (ties: smallest id)
      val expect = members.map(d => (-docs(d), d)).min._2
      assert(kept == expect, s"cluster $cid kept $kept expected $expect")
      assert(keptChars == docs(kept))
      assert(dropped == members.map(docs).sum - keptChars)
    }
  }

  test("source_overlap: pairs roll up to ordered source cells with shares") {
    val rows = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // cells ordered, shares sum to 1 over all cells, sources ordered
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, n, s) => a <= b && n > 0 && s > 0 })
    val total = rows.map(_._4).sum
    assert(math.abs(total - 1.0) < 0.01, s"shares sum to $total")
    // cell counts sum to the full verified pair count
    val nPairs = Dedup.dedupNgramExactjoin(spark, sf).count()
    assert(rows.map(_._3).sum == nPairs)
  }

  test("media_roundtrip: per-file export + binaryFile import is lossless") {
    val got = Blob.mediaRoundtrip(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val src = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha_hex"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == src.toSeq,
      "re-imported file fingerprints must equal the source column's")
  }

  test("media_metadata: real BMP wrap + real header parse, schema-stable") {
    val df = Blob.mediaMetadata(spark, sf)
    assert(df.columns.toSeq == Seq("doc_id", "n_bytes", "sha_hex", "mime",
      "width", "height", "frames"))
    val r = df.filter(col("doc_id") === 0).collect().head
    assert(r.getAs[String]("mime") == "image/bmp")
    assert(r.getAs[Int]("width") == 16)
    // parsed height must satisfy the container arithmetic exactly
    assert(r.getAs[Long]("n_bytes") == 54L + 48L * r.getAs[Int]("height"))
  }

  test("MediaCodec: parses a real hand-built PNG; BMP wrap round-trips") {
    import graft.sources.MediaCodec
    // minimal real PNG: signature + IHDR(640x480) — the exact byte
    // layout a libpng encoder emits for the first 24 bytes
    val png = java.nio.ByteBuffer.allocate(33)
      .put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      .putInt(13).put("IHDR".getBytes)
      .putInt(640).putInt(480)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    assert(MediaCodec.sniff(png).contains(
      MediaCodec.Dims("image/png", 640, 480, 1)))
    // BMP wrap of arbitrary bytes parses back to the written dimensions
    val payload = Array.tabulate(100)(_.toByte)
    val bmp = MediaCodec.encodeBmp(payload)
    assert(bmp.length == 54 + 48 * 3) // ceil(100/48) = 3 rows
    assert(MediaCodec.sniff(bmp).contains(
      MediaCodec.Dims("image/bmp", 16, 3, 1)))
    // payload bytes land verbatim at the pixel-array offset
    assert(bmp.slice(54, 154).toSeq == payload.toSeq)
    // truncated/garbage payloads degrade to None, never throw
    assert(MediaCodec.sniff(Array[Byte]()).isEmpty)
    assert(MediaCodec.sniff("not an image".getBytes).isEmpty)

    // frameRows parses the real header and slices exact 48-byte rows
    val rows = MediaCodec.frameRows(bmp)
    assert(rows.length == 3 && rows.forall(_._3.length == 48))
    assert(rows(0)._2 == 54 && rows(1)._2 == 102)
    assert(rows(0)._3.take(48).toSeq == payload.take(48).toSeq)

    // resizeBmpHalf: real nearest-neighbor pixels, valid re-parse
    val half = MediaCodec.resizeBmpHalf(bmp)
    assert(MediaCodec.sniff(half).contains(
      MediaCodec.Dims("image/bmp", 8, 2, 1)))
    assert(half.length == 54 + 24 * 2) // 8 px × 24 bpp = 24-byte rows
    // dst pixel (x, y) = src pixel (2x, 2y): dst row 0 col 1 ==
    // src row 0 bytes 6..8 (pixel 2), dst row 1 col 0 == src row 2 col 0
    assert(half.slice(54 + 3, 54 + 6).toSeq == bmp.slice(54 + 6, 54 + 9).toSeq)
    assert(half.slice(54 + 24, 54 + 27).toSeq
      == bmp.slice(54 + 96, 54 + 99).toSeq)
  }

  test("media frame sampling and resize: real bytes behind the arithmetic") {
    import spark.implicits._
    import graft.sources.MediaCodec
    val fs = graft.operators.Blob.mediaFrameSample(spark, sf, everyK = 4)
      .collect()
    assert(fs.nonEmpty)
    // sampled indices respect the stride; offsets follow the layout
    assert(fs.forall(r => r.getAs[Long]("frame_ix") % 4 == 0
      && r.getAs[Long]("frame_off") == 54 + 48 * r.getAs[Long]("frame_ix")))
    // the fingerprint is the sha256 of the ACTUAL container slice
    val first = fs.head
    val text = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === first.getAs[Long]("doc_id"))
      .select("text").collect().head.getString(0)
    val bmp2 = MediaCodec.encodeBmp(text.getBytes("UTF-8"))
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest(MediaCodec.frameRows(bmp2)(
        first.getAs[Long]("frame_ix").toInt)._3)
      .map("%02x".format(_)).mkString
    assert(first.getAs[String]("frame_sha") == expect)
    // resize: every row must verify ok (resized container re-parses)
    val rz = graft.operators.Blob.mediaResize(spark, sf).collect()
    assert(rz.nonEmpty && rz.forall(_.getAs[Boolean]("ok")))
  }

  test("dedup_incremental: exact vs base, exact within delta, near rules; probe-side pairs only") {
    import spark.implicits._
    val base = Seq(
      (1L, (1 to 40).map(i => s"b$i").mkString(" ")),
      (2L, "some other corpus text entirely here")).toDF("doc_id", "text")
    val nearOfBase = (1 to 40).map(i => if (i == 40) "zz" else s"b$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"f$i").mkString(" ")
    val freshNear = (1 to 40).map(i => if (i == 39) "qq" else s"f$i").mkString(" ")
    val delta = Seq(
      (10L, (1 to 40).map(i => s"b$i").mkString(" ")),  // exact dup of base 1
      (11L, nearOfBase),                                 // near-dup of base 1
      (12L, fresh),                                      // kept
      (13L, fresh),                                      // exact dup of delta 12
      (14L, freshNear)                                   // near-dup of kept delta 12
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalFrom(base, delta, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(10L -> "exact", 11L -> "near", 12L -> "kept",
      13L -> "exact", 14L -> "near"), got.toString)
    // real data: every delta doc gets exactly one decision
    val real = Dedup.dedupIncremental(spark, sf).collect()
    assert(real.length ==
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 10 >= 8).count())
    assert(real.map(_.getString(1)).forall(Set("kept", "exact", "near")))
    // null-text delta docs follow SQL null semantics: never exact-match
    // anything (not even each other), surface as their own decision row
    val nb = Seq((1L, "regular base document text here")).toDF("doc_id", "text")
    val nd = Seq((10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nullGot = Dedup.incrementalFrom(nb, nd).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(nullGot == Map(10L -> "kept", 11L -> "kept"), nullGot.toString)
  }

  test("doc_containment: pairs equal a brute-force fingerprint-set reference") {
    val fps = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.Winnow.winnowFingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    // df cap then brute-force pairwise shared counts
    val df = fps.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val kept = fps.map { case (id, s) => (id, s.filter(df(_) <= 50)) }
      .filter(_._2.nonEmpty)
    val expect = (for {
      (a, sa) <- kept; (b, sb) <- kept if a < b
      shared = (sa intersect sb).size.toLong if shared >= 2L
      cont = BigDecimal(shared.toDouble / math.min(sa.size, sb.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= 0.5
    } yield (a, b, shared, sa.size.toLong, sb.size.toLong, cont))
      .sortBy(p => (p._1, p._2))
    val got = graft.operators.Dedup.docContainment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == expect.toSeq)
  }
}
