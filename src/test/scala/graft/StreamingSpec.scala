package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.streaming.{EventStream, Sessionizer}

class StreamingSpec extends SparkSpec {

  test("event stream: windowed agg matches the batch twin (complete mode)") {
    val agg = EventStream.hourlyAgg(EventStream.readEventStream(spark, sf))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_hourly").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_hourly")
      .orderBy("hour_bucket", "event_type").collect()
    val batch = Analytics.eventsWindow(spark, sf).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ==
      batch.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq)
  }

  test("event stream: native session windows match the batch operator") {
    import graft.operators.Sessionize
    import spark.implicits._
    // session aggs are append-only: a session emits when the watermark
    // passes its close. Feed the fixture, then a far-future sentinel
    // event to flush every real session out of the state store.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStream.sessionAgg(
        input.toDF().toDF("user_id", "ts"), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions").start()
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
    try {
      input.addData(ev.toIndexedSeq: _*); q.processAllAvailable()
      val flush = new java.sql.Timestamp(
        ev.map(_._2.getTime).max + 48L * 3600 * 1000)
      input.addData((-1L, flush)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_sessions").collect()
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    val want = Sessionize.sessionizeNative(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    assert(got == want, s"sizes stream=${got.size} batch=${want.size}")
  }

  test("event stream: hopping windows match the batch sliding operator") {
    val agg = EventStream.hoppingAgg(EventStream.readEventStream(spark, sf))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_hopping").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_hopping")
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batch = Analytics.eventsHopping(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq == batch.toSeq,
      s"sizes: stream=${streamed.length} batch=${batch.length}")
  }

  test("stream-static enrich: per-segment windowed agg matches the batch twin") {
    val customers = Tables.load(spark, sf, "customer")
    val agg = EventStream.enrichedBySegment(
      EventStream.readEventStream(spark, sf), customers)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_enriched").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_enriched")
      .orderBy("hour_bucket", "c_mktsegment").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batch = Tables.load(spark, sf, "events")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_bucket"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
      .orderBy("hour_bucket", "c_mktsegment").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streaming dedup: replayed events are dropped within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
    val q = EventStream.dedupedStream(events, "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    try {
      input.addData((1L, t), (2L, t), (1L, t)) // replay of id 1
      q.processAllAvailable()
      input.addData((2L, t), (3L, t)) // replay of id 2 across batches
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("stream_dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream upsert: micro-batched CDC apply converges to latest-per-key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = graft.operators.ExportImport.scratch("stream-upsert") + "/t"
    val ckpt = graft.operators.ExportImport.scratch("stream-upsert") + "/ckpt"
    Seq(target, ckpt, target + ".staging").foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val input = MemoryStream[(Long, String, Int)]
    val q = graft.streaming.StreamUpsert.applyStream(
      input.toDF().toDF("k", "v", "ver"), target, "k", ckpt)
    try {
      input.addData((1L, "a0", 0), (2L, "b0", 0))
      q.processAllAvailable()
      input.addData((1L, "a1", 1), (3L, "c0", 0)) // update 1, insert 3
      q.processAllAvailable()
      input.addData((2L, "b2", 2)) // update 2 again
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(target)
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a1"), (2L, "b2"), (3L, "c0")))
  }

  test("stream phash: per-batch image decisions equal sequential replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-phash")
    val (baseDir, outDir, ckpt) = (root + "/base", root + "/out", root + "/ckpt")
    Seq(baseDir, outDir, ckpt).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    // crafted "images": identical text → hamming 0; far text → far code
    val mk = (seed: Int, n: Int) =>
      (0 until n).map(i => ((i * 7 + seed) % 96 + 32).toChar).mkString
    val d1 = Seq(
      (1L, mk(0, 160)),
      (2L, mk(0, 160)),          // duplicate image of 1 (in-batch rule)
      (3L, mk(37, 401)))
    val d2 = Seq(
      (10L, mk(0, 160)),         // duplicate of base 1
      (11L, mk(11, 257)))        // fresh
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamPhash.applyStream(
      input.toDF().toDF("doc_id", "text"), baseDir, outDir, ckpt)
    try {
      input.addData(d1: _*); q.processAllAvailable()
      input.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // sequential batch replay with the batch twin
    val fps = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.Blob.phashFingerprints(df)
    val b1 = d1.toDF("doc_id", "text"); val b2 = d2.toDF("doc_id", "text")
    val dec1 = graft.operators.Blob
      .mediaPhashIncrementalFrom(fps(b1).filter(lit(false)), b1).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val base1 = fps(b1.filter(col("doc_id")
      .isin(dec1.filter(_._2 == "kept").keys.toSeq: _*)))
    val dec2 = graft.operators.Blob
      .mediaPhashIncrementalFrom(base1, b2).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got == dec1 ++ dec2, s"got=$got expect=${dec1 ++ dec2}")
    assert(dec1(2L) == "near" && dec2(10L) == "near" && dec2(11L) == "kept")
    // the accumulated base holds exactly the kept fingerprints
    val baseIds = spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(baseIds == (dec1 ++ dec2).filter(_._2 == "kept").keySet)
    // at-least-once replay: re-running batch 1 (foreachBatch's crash
    // recovery) must overwrite its own partitions, not duplicate
    // decisions or base fingerprints
    val nDecisions = spark.read.parquet(outDir).count()
    graft.streaming.StreamPhash.applyBatch(b2, 1L, baseDir, outDir, 7)
    assert(spark.read.parquet(outDir).count() == nDecisions,
      "replayed batch must not duplicate decisions")
    assert(spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == baseIds,
      "replayed batch must not duplicate base fingerprints")
  }

  test("stream wav-fp dedup: per-batch decisions equal sequential " +
      "incremental replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-wavfp")
    val (baseDir, outDir, ckpt) = (root + "/base", root + "/out", root + "/ckpt")
    Seq(baseDir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, spark.sparkContext.hadoopConfiguration))
    def tone(seed: Int) =
      (0 until 120).map(i => ('a' + ((i * seed) % 26)).toChar).mkString
    val d1 = Seq(
      (1L, tone(3)),
      (2L, tone(3)),             // identical audio → fp-identical, in-batch near
      (3L, tone(7)))
    val d2 = Seq(
      (10L, tone(3)),            // duplicate of base 1
      (11L, tone(11)))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamWavFp.applyStream(
      input.toDF().toDF("doc_id", "text"), baseDir, outDir, ckpt)
    try {
      input.addData(d1: _*); q.processAllAvailable()
      input.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // sequential batch replay with the batch twin
    val b1 = d1.toDF("doc_id", "text"); val b2 = d2.toDF("doc_id", "text")
    val emptyBase = spark.range(0).select(col("id").as("doc_id"),
      col("id").as("fp"))
    val dec1 = graft.operators.Blob
      .mediaWavFpIncrementalFrom(emptyBase, b1).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val base1 = graft.operators.Blob.wavFpsOf(b1.filter(col("doc_id")
      .isin(dec1.filter(_._2 == "kept").keys.toSeq: _*)))
    val dec2 = graft.operators.Blob
      .mediaWavFpIncrementalFrom(base1, b2).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got == dec1 ++ dec2, s"got=$got expect=${dec1 ++ dec2}")
    // identical audio is near by construction; the first doc of the
    // first batch has nothing to block it
    assert(dec1(1L) == "kept" && dec1(2L) == "near" && dec2(10L) == "near")
    // the accumulated base holds exactly the kept fingerprints
    val baseIds = spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(baseIds == (dec1 ++ dec2).filter(_._2 == "kept").keySet)
    // at-least-once replay idempotence (the StreamPairs stance)
    val nDecisions = spark.read.parquet(outDir).count()
    graft.streaming.StreamWavFp.applyBatch(b2, 1L, baseDir, outDir, 7)
    assert(spark.read.parquet(outDir).count() == nDecisions,
      "replayed batch must not duplicate decisions")
    assert(spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == baseIds,
      "replayed batch must not duplicate base fingerprints")
  }

  test("stream dedup: per-batch decisions equal sequential incremental dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-dedup")
    val (baseDir, outDir, ckpt) = (root + "/base", root + "/out", root + "/ckpt")
    Seq(baseDir, outDir, ckpt).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val d1 = Seq(
      (1L, (1 to 40).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"a$i").mkString(" ")),        // exact dup of 1
      (3L, "totally different content here"))
    val nearOf1 = (1 to 40).map(i => if (i == 40) "zz" else s"a$i").mkString(" ")
    val d2 = Seq(
      (10L, nearOf1),                                        // near-dup of base 1
      (11L, (1 to 40).map(i => s"a$i").mkString(" ")),       // exact vs base
      (12L, "brand new words entirely fresh"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.applyStream(
      input.toDF().toDF("doc_id", "text"), baseDir, outDir, ckpt)
    try {
      input.addData(d1: _*); q.processAllAvailable()
      input.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // sequential batch replay: batch 1 vs empty base, batch 2 vs survivors
    val b1 = d1.toDF("doc_id", "text")
    val b2 = d2.toDF("doc_id", "text")
    val dec1 = graft.operators.Dedup
      .incrementalFrom(b1.filter(lit(false)), b1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val base1 = b1.filter(col("doc_id")
      .isin(dec1.filter(_._2 == "kept").keys.toSeq: _*))
    val dec2 = graft.operators.Dedup.incrementalFrom(base1, b2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == dec1 ++ dec2, s"got=$got expect=${dec1 ++ dec2}")
    // and the accumulated base holds exactly the survivors
    val baseIds = spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(baseIds == (dec1 ++ dec2).filter(_._2 == "kept").keySet)
    // at-least-once replay: re-running batch 1 must overwrite its own
    // partitions, not duplicate decisions or survivors (the
    // StreamPairs stance)
    val nDecisions = spark.read.parquet(outDir).count()
    graft.streaming.StreamDedup.applyBatch(b2, 1L, baseDir, outDir, 0.5)
    assert(spark.read.parquet(outDir).count() == nDecisions,
      "replayed batch must not duplicate decisions")
    assert(spark.read.parquet(baseDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == baseIds,
      "replayed batch must not duplicate survivors")
  }

  test("stream scrub: per-batch scrub equals sequential replay over prefix gram counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-scrub")
    val (countsDir, outDir, ckpt) = (root + "/counts", root + "/out", root + "/ckpt")
    Seq(countsDir, outDir, ckpt).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")   // 10 tokens
    val d1 = Seq(
      (1L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $passage"), // within-batch rep
      (3L, "plainly unique early content with no repeats at all whatsoever"))
    val d2 = Seq(
      (10L, s"later arrival copying $passage onward extra tail words here"),
      (11L, "fresh batch two text nothing shared with anything before now"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamScrub.applyStream(
      input.toDF().toDF("doc_id", "text"), countsDir, outDir, ckpt)
    try {
      input.addData(d1: _*); q.processAllAvailable()
      input.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "kept_tokens", "removed_tokens",
          "scrubbed", "fp")
        .collect().map(_.toString).toSeq.sorted
    val got = rows(spark.read.parquet(outDir))
    // sequential replay with the BATCH operators: batch 1 against its
    // own gram counts; batch 2 against the accumulated (b1+b2) counts
    val b1 = d1.toDF("doc_id", "text")
    val b2 = d2.toDF("doc_id", "text")
    def counts(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.positionalGrams(df, 8)
        .groupBy("g").agg(count(lit(1)).as("cnt"))
    val rep1 = counts(b1).filter(col("cnt") >= 2).select("g")
    val rep12 = counts(b1).unionAll(counts(b2))
      .groupBy("g").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") >= 2).select("g")
    val replay = rows(graft.operators.Dedup.scrubAgainstGrams(b1, rep1, 8)) ++
      rows(graft.operators.Dedup.scrubAgainstGrams(b2, rep12, 8))
    assert(got == replay.sorted, s"got=$got expect=${replay.sorted}")
    // at-least-once replay: re-applying batch 1 (same batchId) must
    // overwrite its own partitions, not double-count its grams
    graft.streaming.StreamScrub.applyBatch(b2, 1L, countsDir, outDir, 8, 2)
    assert(rows(spark.read.parquet(outDir)) == got,
      "a replayed batch must leave the scrub artifact unchanged")
    // semantics spot-check: batch-2 doc 10 lost the copied passage (it
    // repeats doc 1/2's grams from batch 1) and batch-1 docs kept their
    // one-batch scrub (doc 3 untouched, docs 1/2 lost the passage
    // within batch 1 already)
    val byId = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byId(10L) == 10L, s"doc 10 must lose the 10-token passage: $byId")
    assert(byId(3L) == 0L && byId(11L) == 0L)
    assert(byId(1L) == 10L && byId(2L) == 10L)
  }

  test("stream ann: per-batch top-k equals the batch serve on the same queries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-ann")
    val (outDir, ckpt) = (root + "/out", root + "/ckpt")
    Seq(outDir, ckpt).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    // query vectors = real corpus rows re-id'd (so neighbors exist);
    // two micro-batches exercise the per-batch isolation
    val corpus = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(6).collect()
      .map(r => (r.getLong(0) + 1000L, r.getSeq[Float](1).toArray))
    val (q1, q2) = (corpus.take(3).toSeq, corpus.drop(3).toSeq)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStream(
      input.toDF().toDF("vec_id", "embedding"), sf, outDir, ckpt)
    try {
      input.addData(q1: _*); q.processAllAvailable()
      input.addData(q2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.Similarity.annServe(spark, sf,
      (q1 ++ q2).toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(got == batch && got.nonEmpty)
    // per query exactly k results (corpus has >= k candidates per cell set)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.size <= 5 && rows.nonEmpty, s"query $qid: ${rows.size}")
    }
    // at-least-once replay: re-serving batch 1 overwrites its own
    // partition instead of duplicating results (the StreamPairs stance)
    val nRows = spark.read.parquet(outDir).count()
    graft.streaming.StreamAnn.applyBatch(
      q2.toDF("vec_id", "embedding"), 1L, sf, outDir, 4, 5)
    assert(spark.read.parquet(outDir).count() == nRows,
      "replayed batch must not duplicate served results")
  }

  test("stream ivf index: maintained deltas equal batch append; replay " +
      "idempotent; serving sees streamed vectors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ivfidx")
    val (dirS, dirB, ckpt) =
      (root + "/stream-idx", root + "/batch-idx", root + "/ckpt")
    Seq(dirS, dirB, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, dirS)
    Similarity.ivfIndexToDir(spark, sf, dirB)
    // new corpus vectors = real rows re-id'd; two micro-batches
    val fresh = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(6).collect()
      .map(r => (r.getLong(0) + 1000L, r.getSeq[Float](1).toArray))
    val (b1, b2) = (fresh.take(3).toSeq, fresh.drop(3).toSeq)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamIvfIndex.start(
      input.toDF().toDF("vec_id", "embedding"), dirS, ckpt)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the maintained inverted lists equal the proven batch-append form
    Similarity.ivfIndexAppend(spark, dirB,
      (b1 ++ b2).toDF("vec_id", "embedding"))
    def cells(dir: String) = Similarity.readIvfAssigned(spark, dir)
      .select("cell", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(cells(dirS) == cells(dirB))
    assert(cells(dirS).exists(_._2 >= 1000L), "streamed vectors indexed")
    // serving sees the streamed vectors with no code change, and
    // equals the batch-appended index row for row
    val queries = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    def serve(dir: String) =
      Similarity.annServeFromIndex(spark, dir, queries).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
    val got = serve(dirS)
    assert(got == serve(dirB) && got.nonEmpty)
    // at-least-once replay: re-running batch 0 overwrites its own
    // delta, leaving the index unchanged (the StreamPairs stance)
    val before = cells(dirS)
    graft.streaming.StreamIvfIndex.applyBatch(
      b1.toDF("vec_id", "embedding"), 0L, dirS)
    assert(cells(dirS) == before,
      "replayed batch must not duplicate index rows")
  }

  test("stream ann from the maintained index equals the batch artifact " +
      "serve and sees landed deltas") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ann-idx")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    Seq(dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, dir)
    // land one maintainer delta: exact copies of the first corpus
    // vectors under fresh ids — guaranteed top-k hits for the queries
    val fresh = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(3).collect()
      .map(r => (r.getLong(0) + 3000L, r.getSeq[Float](1).toArray)).toSeq
    graft.streaming.StreamIvfIndex.applyBatch(
      fresh.toDF("vec_id", "embedding"), 0L, dir)
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStreamFromIndex(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      input.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = Similarity.annServeFromIndex(spark, dir, qRows)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
    // the delta landed by the maintainer is served: each query's exact
    // copy (cosine 1.0) must appear among its neighbors
    assert(got.exists(_._2 >= 3000L),
      "streamed index deltas must be visible to the serving loop")
  }

  test("stream ann through the sq8 scan equals the batch sq8 artifact " +
      "serve and sees landed deltas — same artifact, no extra leg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ann-sq8")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    Seq(dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, dir)
    val fresh = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(3).collect()
      .map(r => (r.getLong(0) + 5000L, r.getSeq[Float](1).toArray)).toSeq
    graft.streaming.StreamIvfIndex.applyBatch(
      fresh.toDF("vec_id", "embedding"), 0L, dir)
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStreamSq8FromIndex(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      input.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = Similarity.annServeSq8FromIndex(spark, dir, qRows)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
    // maintainer deltas flow through the sq8 scan like base rows —
    // each query's exact copy (cosine 1.0) must appear
    assert(got.exists(_._2 >= 5000L),
      "streamed index deltas must be visible to the sq8 serving loop")
  }

  test("stream whitened ann from the whitened artifact equals the batch " +
      "whitened serve; a raw artifact refuses at the first batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ann-whiten")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    // the raw-artifact leg's dirs too: a checkpoint left by an earlier
    // run resumes its uncommitted batch instead of serving the new one
    Seq(dir, outDir, ckpt, root + "/raw-idx", root + "/out2",
        root + "/ckpt2").foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    Similarity.ivfWhitenIndexToDir(spark, sf, dir)
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStreamWhitenedFromIndex(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      input.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = Similarity.annServeWhitenedFromIndex(spark, dir, qRows)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty,
      "streamed whitened serving must equal the batch artifact serve")
    // a RAW artifact refuses the whitened loop loudly (marker doctrine)
    val rawDir = root + "/raw-idx"
    Similarity.ivfIndexToDir(spark, sf, rawDir)
    val input2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.StreamAnn.applyStreamWhitenedFromIndex(
      input2.toDF().toDF("vec_id", "embedding"), rawDir,
      root + "/out2", root + "/ckpt2")
    try {
      input2.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q2.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("_whiten")),
        s"raw artifact must refuse the whitened loop: $msgs")
    } finally q2.stop()
  }

  test("stream fuse: continuous hybrid retrieval off the two artifacts " +
      "equals the batch fusion per query; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Curation, Similarity}
    val root = graft.operators.ExportImport.scratch("stream-fuse")
    val (idx, bm25Dir, outDir, ckpt) =
      (root + "/idx", root + "/bm25", root + "/out", root + "/ckpt")
    Seq(idx, bm25Dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, idx)
    Curation.bm25StatsToDir(spark, sf, bm25Dir)
    val terms = Seq("data", "filter", "join")
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamFuse.applyStreamFromIndexes(
      input.toDF().toDF("vec_id", "embedding"), bm25Dir, idx, terms,
      outDir, ckpt)
    try {
      input.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.mkString("|")
    val gotDf = spark.read.parquet(outDir)
      .select("query_id", "doc_id", "lex_rank", "vec_rank", "rrf6")
    val got = gotDf.collect().map(key).toSet
    // per-query equality with the batch composition over the SAME legs
    val want = Curation.rrfFuseByQuery(
      Curation.rankedBy(
        Curation.bm25FromIndex(spark, bm25Dir, terms), col("score")),
      Similarity.annServeFromIndex(spark, idx, qRows, 4, 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("rank")))
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
    // query 0's streamed slice IS the batch operator's fused table
    // (retrieval_fuse_served builds its own artifacts, but the static
    // quantizer and the corpus stats are deterministic — same legs,
    // same combine): the streaming twin equals the oracle-checked form
    val slice0 = gotDf.filter(col("query_id") === 0L)
      .select("doc_id", "lex_rank", "vec_rank", "rrf6")
      .collect().map(key).toSet
    val batch0 = Curation.retrievalFuseServed(spark, sf)
      .collect().map(key).toSet
    assert(slice0 == batch0,
      "streamed query-0 fusion must equal retrieval_fuse_served")
    // replay idempotence: re-running a batch id overwrites, never dups
    val before = spark.read.parquet(outDir).count()
    graft.streaming.StreamFuse.applyBatch(
      qRows, 0L, bm25Dir, idx, terms, outDir, 4, 20, 10)
    assert(spark.read.parquet(outDir).count() == before,
      "replayed batch must not duplicate fused rows")
  }

  test("stream bm25 maintainer: ingested documents become servable; " +
      "maintained artifact equals the full rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Curation
    val root = graft.operators.ExportImport.scratch("stream-bm25")
    val (dir, full, ckpt) = (root + "/idx", root + "/full", root + "/ckpt")
    Seq(dir, full, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val terms = Seq("data", "filter", "join")
    // base artifact on the first slice; stream the rest in two batches
    Curation.bm25StatsBuild(spark, docs.filter(col("doc_id") % 3 === 0),
      dir)
    val rest = docs.filter(col("doc_id") % 3 =!= 0).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rest.partition(_._1 % 3 == 1)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamBm25Index.start(
      input.toDF().toDF("doc_id", "text"), dir, ckpt)
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    Curation.bm25StatsBuild(spark, docs, full)
    val got = Curation.bm25FromIndex(spark, dir, terms)
      .collect().map(_.toString).toSeq
    val want = Curation.bm25FromIndex(spark, full, terms)
      .collect().map(_.toString).toSeq
    assert(got == want && got.nonEmpty,
      "maintained lexical artifact must serve like a full rebuild")
  }

  test("stream MMR from the index artifact equals the batch MMR serve " +
      "per query across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ann-mmr")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    Seq(dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, dir)
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 4).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStreamMmrFromIndex(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      // two micro-batches: MMR is per-query independent, so batch
      // boundaries must not change any query's greedy picks
      val all = qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      input.addData(all.take(2).toSeq: _*)
      q.processAllAvailable()
      input.addData(all.drop(2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = Similarity.annMmrFromIndex(spark, dir, qRows)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty,
      s"stream-vs-batch MMR mismatch: ${got.diff(want).take(3)}")
  }

  test("stream ann from the PQ leg equals the batch IVFADC serve, sees " +
      "live deltas exactly, and refuses a compaction-stale scan table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-ann-pq")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    Seq(dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d,
        spark.sparkContext.hadoopConfiguration))
    Similarity.ivfIndexToDir(spark, sf, dir)
    Similarity.ivfPqIndexAdd(spark, dir)
    // one live maintainer delta: exact copies of the first corpus
    // vectors under fresh ids — fresh-path candidates for the queries
    val fresh = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(3).collect()
      .map(r => (r.getLong(0) + 7000L, r.getSeq[Float](1).toArray)).toSeq
    graft.streaming.StreamIvfIndex.applyBatch(
      fresh.toDF("vec_id", "embedding"), 0L, dir)
    val qRows = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamAnn.applyStreamFromPqIndex(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      input.addData(qRows.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = Similarity.annServeFromPqIndex(spark, dir, qRows)
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty,
      "streamed ADC serve must equal the batch artifact serve")
    // the exact-duplicate delta rides the fresh path to rank 1
    assert((0L until 3L).forall(i =>
      got.contains((i, i + 7000L, 1, 1.0))),
      s"fresh-path duplicates must rank first: $got")
    // compaction folds the delta; the streamed body must now refuse
    // (stale codes) until a re-sync, exactly like the batch serve
    assert(Similarity.ivfIndexCompact(spark, dir).contains(0L))
    intercept[IllegalArgumentException] {
      Similarity.annServeFromPqIndex(spark, dir, qRows).collect()
    }
  }

  test("stream decontaminate: streamed verdicts equal the batch twin " +
      "row-for-row across prefixes; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-decon")
    val (gate, outDir, ckpt) = (root + "/gate", root + "/out", root + "/ckpt")
    Seq(gate, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    Similarity.decontaminationGateToDir(spark, sf, gate)
    val corpus = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamDecontaminate.start(
      input.toDF().toDF("vec_id", "embedding"), gate, outDir, ckpt)
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val streamed = spark.read.parquet(outDir).collect().map(key).toSet
    val batch = Similarity.decontaminateSemantic(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batch && streamed.exists(_._2),
      "streamed gate verdicts must equal the batch twin row-for-row")
    // replay of batch 0 (foreachBatch is at-least-once): verdicts are
    // a pure per-doc function, so the overwritten partition is
    // identical and the union is unchanged
    graft.streaming.StreamDecontaminate.applyBatch(
      b1.toSeq.toDF("vec_id", "embedding"), 0L, gate, outDir, 0.4)
    assert(spark.read.parquet(outDir).collect().map(key).toSet == batch,
      "a replayed batch must rewrite identical verdicts")
    // a gate missing its completion marker (= the build crashed
    // between the centroid and probe writes, which may disagree)
    // refuses rather than serving silently wrong verdicts
    val (gfs, gp) = graft.streaming.StreamIO.fsFor(
      s"$gate/_gate_complete", conf)
    gfs.delete(gp, false)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamDecontaminate.applyBatch(
        b1.toSeq.toDF("vec_id", "embedding"), 2L, gate, outDir, 0.4)
    }
  }

  test("stream knn edges: maintained state equals the from-scratch " +
      "exact build after each prefix; replay idempotent; reset refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-knn-edges")
    val (dir, ckpt) = (root + "/state", root + "/ckpt")
    Seq(dir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val seed = embs.filter(col("vec_id") < 40)
    val rows = embs.orderBy("vec_id").limit(52).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val b1 = rows.slice(40, 46).map { case (id, e) => (id + 2000L, e) }
    val b2 = rows.slice(46, 52).map { case (id, e) => (id + 3000L, e) }
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamKnnEdges.start(
      input.toDF().toDF("vec_id", "embedding"), seed, dir, ckpt)
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def state() = spark.read.parquet(s"$dir/edges")
      .collect().map(_.toString).toSeq.sorted
    val got = state()
    val want = Similarity.mutualFull(Similarity.knnEdgesFullFrom(
        seed.unionByName((b1 ++ b2).toSeq.toDF("vec_id", "embedding"))))
      .collect().map(_.toString).toSeq.sorted
    assert(got == want && got.nonEmpty,
      "maintained edge state must equal the from-scratch exact build")
    // replay of the applied batch: skipped, state unchanged
    graft.streaming.StreamKnnEdges.applyBatch(
      b2.toSeq.toDF("vec_id", "embedding"), 1L, seed, dir, 5)
    assert(state() == got, "replayed batch must leave the state intact")
    // an id below the applied marker = reset checkpoint: refuse loudly
    intercept[IllegalStateException] {
      graft.streaming.StreamKnnEdges.applyBatch(
        b1.toSeq.toDF("vec_id", "embedding"), 0L, seed, dir, 5)
    }
    // the vectors accumulation takes the standard delta GC: fold, then
    // the next merge still sees every folded vector
    assert(graft.streaming.Compaction
      .compactBatched(spark, s"$dir/vectors").contains(1L))
    val b3 = rows.slice(34, 40).map { case (id, e) => (id + 4000L, e) }
    graft.streaming.StreamKnnEdges.applyBatch(
      b3.toSeq.toDF("vec_id", "embedding"), 2L, seed, dir, 5)
    val want3 = Similarity.mutualFull(Similarity.knnEdgesFullFrom(
        seed.unionByName(
          (b1 ++ b2 ++ b3).toSeq.toDF("vec_id", "embedding"))))
      .collect().map(_.toString).toSeq.sorted
    assert(state() == want3,
      "post-GC merge must still see every folded vector")
  }

  test("stream semantic dedup: per-batch decisions equal sequential " +
      "incremental replay; kept vectors join the servable index; " +
      "replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = graft.operators.ExportImport.scratch("stream-semdedup")
    val (dir, outDir, ckpt) = (root + "/idx", root + "/out", root + "/ckpt")
    Seq(dir, outDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, spark.sparkContext.hadoopConfiguration))
    // seed: the corpus index fixes the quantizer and the kept base
    Similarity.ivfIndexToDir(spark, sf, dir)
    val cents = Similarity.readIvfCentroids(spark, dir)
    // arriving vectors: corpus rows re-id'd (exact dups of the base —
    // the base-blocker leg), NEGATED corpus rows (cosine −1 to their
    // original — almost surely kept), and an in-batch repeat of the
    // first row (the smaller-delta-id blocker leg)
    val rows = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .limit(4).collect()
      .map(r => (r.getLong(0) + 2000L, r.getSeq[Float](1).toArray))
    def neg(v: (Long, Array[Float])) = (v._1 + 500L, v._2.map(x => -x))
    val b1 = Seq(rows(0), neg(rows(1)), (rows(0)._1 + 100L, rows(0)._2))
    val b2 = Seq(rows(2), neg(rows(3)), (rows(2)._1 + 100L, rows(2)._2))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamSemanticDedup.start(
      input.toDF().toDF("vec_id", "embedding"), dir, outDir, ckpt)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    // sequential replay with the batch operator: batch 1 vs the seed
    // base, batch 2 vs seed + batch-1 survivors
    val base0 = spark.read.parquet(s"$dir/assigned")
      .select("cell", "vec_id", "embedding", "nrm")
    val d1 = b1.toDF("vec_id", "embedding")
    val d2 = b2.toDF("vec_id", "embedding")
    val dec1 = Similarity.semanticDedupIncrementalFrom(base0, d1, cents, 0.4)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val kept1 = Similarity.assignWithCentroids(
      d1.filter(col("vec_id")
        .isin(dec1.filter(_._2 == "kept").keys.toSeq: _*)), cents)
    val dec2 = Similarity.semanticDedupIncrementalFrom(
        base0.unionByName(kept1), d2, cents, 0.4)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got == dec1 ++ dec2, s"got=$got expect=${dec1 ++ dec2}")
    assert(got.values.exists(_ == "near"), "exact dups must be caught")
    // the maintained index holds exactly seed + survivors — i.e. the
    // deduped corpus is immediately servable
    val idxIds = Similarity.readIvfAssigned(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseIds = base0.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idxIds == baseIds ++
      (dec1 ++ dec2).filter(_._2 == "kept").keySet)
    // at-least-once replay (the StreamPairs stance)
    val nDecisions = spark.read.parquet(outDir).count()
    graft.streaming.StreamSemanticDedup.applyBatch(d2, 1L, dir, outDir, 0.4)
    assert(spark.read.parquet(outDir).count() == nDecisions,
      "replayed batch must not duplicate decisions")
    assert(Similarity.readIvfAssigned(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet == idxIds,
      "replayed batch must not duplicate index rows")
  }

  test("sessionizer: streaming sessions equal batch sessions on real events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[Sessionizer.SessionEvent].collect().sortBy(_.ts.getTime)

    val input = MemoryStream[Sessionizer.SessionEvent]
    val q = Sessionizer.sessions(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions_real").start()
    try {
      input.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // sentinel advances watermark far past every session's gap window
      input.addData(Sessionizer.SessionEvent(-1L, -1L,
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      q.processAllAvailable()
      input.addData(Sessionizer.SessionEvent(-1L, -2L,
        java.sql.Timestamp.valueOf("2031-01-01 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_sessions_real")
      .filter(col("user_id") >= 0)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.Sessionize.sessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("start_us") + r.getAs[Long]("duration_us"),
        r.getAs[Long]("n_events"))).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("stream pairs: replayed artifact equals the full-corpus rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-pairs")
    val (corpusDir, pairsDir, ckpt) =
      (root + "/corpus", root + "/pairs", root + "/ckpt")
    Seq(corpusDir, pairsDir, ckpt).foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    val span = (1 to 30).map(i => s"w$i").mkString(" ")
    val d1 = Seq((1L, span), (2L, span + " tail"), (3L, "other words here"))
    val d2 = Seq((10L, span.replace("w30", "zz")),  // near-dup of 1/2
      (11L, "fresh unrelated content entirely"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamPairs.applyStream(
      input.toDF().toDF("doc_id", "text"), corpusDir, pairsDir, ckpt)
    try {
      input.addData(d1: _*); q.processAllAvailable()
      input.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    def artifact() = spark.read.parquet(pairsDir)
      .select("id_a", "id_b", "j4").collect().map(_.toString).toSeq.sorted
    val streamed = artifact()
    // full rebuild on everything seen so far
    val all = (d1 ++ d2).toDF("doc_id", "text")
    val rebuilt = graft.operators.Dedup.dedupNgramExactjoinFrom(
        all.select(col("doc_id"),
          graft.functions.TextShingles.shingles3(
            graft.functions.TextShingles.words(col("text"))).as("sh")),
        tau = 0.3)
      .collect().map(_.toString).toSeq.sorted
    assert(streamed.nonEmpty && streamed == rebuilt,
      s"streamed=${streamed.size} rebuilt=${rebuilt.size}")
    // at-least-once replay: re-running batch 1 (foreachBatch's crash
    // recovery) must overwrite its own partition, not duplicate pairs
    graft.streaming.StreamPairs.applyBatch(
      d2.toDF("doc_id", "text"), 1L, corpusDir, pairsDir, 0.3)
    assert(artifact() == rebuilt, "replayed batch must be idempotent")
  }

  test("stream attribution: per-purchase credits equal the batch assign") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAttribution.AttrEvent
    val evDf = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"),
        graft.operators.Filtering.cents(col("value")).as("v_c"))
    val evs = evDf.as[AttrEvent].collect().sortBy(e => (e.t, e.event_id))

    val input = MemoryStream[AttrEvent]
    val q = graft.streaming.StreamAttribution
      .attributed(input.toDS(), Set("view", "click"), 86400000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_attr").start()
    try {
      // three time-ordered micro-batches (the replay stance)
      evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("stream_attr").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val batch = graft.operators.Analytics
      .attributionAssignFrom(evDf, Seq("view", "click"), 86400000000L)
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("stream attribution: same-instant touch cannot evict the credited one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAttribution.AttrEvent
    // a touch arriving at EXACTLY the purchase's timestamp sorts before
    // the purchase by (t, event_id) but must not evict the older
    // in-window touch from the single-slot state: the batch twin
    // credits the older touch (strict t_o < t_p), so must the stream
    val evs = Seq(
      AttrEvent(1L, 7L, "view", 100L, 0L),     // the credited touch
      AttrEvent(2L, 7L, "click", 200L, 0L),    // same instant as purchase
      AttrEvent(3L, 7L, "purchase", 200L, 55L))
    val input = MemoryStream[AttrEvent]
    val q = graft.streaming.StreamAttribution
      .attributed(input.toDS(), Set("view", "click"), 86400000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_attr_corner").start()
    try {
      // all three in ONE micro-batch: the in-batch replay sort decides
      input.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_attr_corner").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val batch = graft.operators.Analytics
      .attributionAssignFrom(
        evs.toDF("event_id", "user_id", "event_type", "t", "v_c"),
        Seq("view", "click"), 86400000000L)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(batch == Set((3L, "view", 55L)), s"batch twin sanity: $batch")
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("stream path transitions: edges equal the batch lag on ordered replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamPathTransitions.PathEvent
    val evDf = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
    val evs = evDf.as[PathEvent].collect().sortBy(e => (e.t, e.event_id))

    val input = MemoryStream[PathEvent]
    val q = graft.streaming.StreamPathTransitions
      .transitions(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_paths").start()
    try {
      evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    // rolling the edge stream up reproduces the batch Markov table
    val streamed = spark.table("stream_paths")
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Analytics.pathTransitionsFrom(evDf)
      .select("prev_type", "next_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("sessionizer: gap splits and watermark timeout close sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(user: Long, id: Long, minute: Long) = Sessionizer.SessionEvent(
      user, id, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(minute.toInt)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))))

    val input = MemoryStream[Sessionizer.SessionEvent]
    val q = Sessionizer.sessions(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions").start()
    try {
      // user 1: two sessions split by a 40-minute gap; user 2: one session
      input.addData(ev(1, 1, 0), ev(1, 2, 10), ev(1, 3, 50), ev(2, 4, 0))
      q.processAllAvailable()
      // sentinel far in the future advances the watermark past all gaps
      input.addData(ev(9, 99, 10000))
      q.processAllAvailable()
      input.addData(ev(9, 100, 20000))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("stream_sessions")
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val t0 = ev(1, 1, 0).ts.getTime * 1000
    def us(minute: Long) = t0 + minute * 60000000L
    assert(out.contains((1L, us(0), us(10), 2L)), s"first session of user 1: $out")
    assert(out.contains((1L, us(50), us(50), 1L)), s"second session of user 1: $out")
    assert(out.contains((2L, us(0), us(0), 1L)), s"user 2 session: $out")
  }

  test("doc ingest: streaming gate+dedup decisions equal the batch operators") {
    import graft.streaming.DocIngest
    val out = DocIngest.cleaned(DocIngest.readDocStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_ingest").start()
    try out.processAllAvailable() finally out.stop()
    val got = spark.table("stream_ingest").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    // kept fingerprints = batch exact-dedup distinct set over the SAME
    // quality-gated population, each exactly once
    val batchKept = graft.operators.TextAnalysis.qualityFilter(spark, sf)
      .join(Tables.load(spark, sf, "documents"), "doc_id")
      .select(org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.col("text"), "\\s+", " ")))
          .cast("binary"), 256).as("h"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(got.map(_._1).toSet == batchKept, "kept fingerprint sets differ")
    assert(got.map(_._1).distinct.length == got.length, "a fingerprint was kept twice")
    // per-doc quality numbers equal the batch textStats values
    val batchQ = graft.operators.TextAnalysis.qualityFilter(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val gotByDoc = spark.table("stream_ingest").collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3)))).toMap
    gotByDoc.foreach { case (id, v) => assert(batchQ(id) == v, s"doc $id") }
  }

  test("streaming Gopher quality gate equals the batch operator per doc") {
    import graft.streaming.DocIngest
    import org.apache.spark.sql.functions.col
    val q = DocIngest.gopherGated(DocIngest.readDocStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_gopher").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_gopher").collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1))).toMap
    val batch = graft.operators.Curation.gopherQualityFrom(
      Tables.load(spark, sf, "documents").select(col("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.toSeq.drop(1))).toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (id, v) => assert(batch(id) == v, s"doc $id") }
  }

  test("streaming PII/repetition gate equals the batch operators per doc") {
    import graft.streaming.DocIngest
    import org.apache.spark.sql.functions.col
    val stream = DocIngest.readDocStream(spark, sf)
      // same deterministic PII injection as the batch pii_scrub query
      .withColumn("text",
        org.apache.spark.sql.functions.when(col("doc_id") % 7 === 0,
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(
              " contact bob@example.com from 10.1.2.3")))
          .otherwise(col("text")))
    val q = DocIngest.gated(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_gate").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_gate").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getBoolean(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getBoolean(11)))).toMap
    val gotCharset = spark.table("stream_gate").collect()
      .map(r => (r.getLong(0), (r.getLong(9), r.getLong(10),
        r.getBoolean(12)))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("text",
        org.apache.spark.sql.functions.when(col("doc_id") % 7 === 0,
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(
              " contact bob@example.com from 10.1.2.3")))
          .otherwise(col("text")))
    val pii = graft.operators.TextAnalysis.piiScrubFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getBoolean(4)))).toMap
    val rep = graft.operators.TextAnalysis.repetitionFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    val charset = graft.operators.TextAnalysis.charsetGateFrom(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3),
        r.getBoolean(5)))).toMap
    assert(got.keySet == pii.keySet && got.keySet == rep.keySet)
    got.foreach { case (id, (ne, ni, sha, had, nw, twf, d2, d3, rpt)) =>
      assert(pii(id) == ((ne, ni, sha, had)), s"pii mismatch doc $id")
      assert(rep(id) == ((nw, twf, d2, d3, rpt)), s"repetition mismatch doc $id")
      assert(charset(id) == gotCharset(id), s"charset mismatch doc $id")
    }
    // the entropy gate's streamed values equal the batch operator's,
    // per doc (PII-injected text on both sides, so identical input)
    val gotEntropy = spark.table("stream_gate").collect()
      .map(r => (r.getLong(0), (r.getDouble(13), r.getBoolean(14)))).toMap
    val batchEntropy = graft.operators.TextAnalysis.charEntropyFrom(docs)
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), !r.getBoolean(3)))).toMap
    assert(gotEntropy == batchEntropy, "entropy gate mismatch vs batch")
  }

  test("streaming EWMA state equals the batch ordered fold per user") {
    import graft.streaming.StreamEwma
    import spark.implicits._
    val typed = EventStream.readEventStream(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        graft.operators.Filtering.cents(col("value")).as("v_c"))
      .as[StreamEwma.Ev]
    val q = StreamEwma.ewma(typed)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_ewma").start()
    try q.processAllAvailable() finally q.stop()
    // update mode re-emits a user's row per batch — keep the final one
    val got = spark.table("stream_ewma").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.map(_._2).maxBy(_._1) }
    val want = Analytics.eventsEwma(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want, s"sizes: stream=${got.size} batch=${want.size}")
  }

  test("streaming drift vs a frozen reference equals the batch two-half drift") {
    import graft.streaming.StreamDrift
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
    val span = ev.agg(min("t"), max("t")).collect().head
    val mid = (span.getLong(0) + span.getLong(1)) / 2
    val ref = ev.filter(col("t") < mid)
      .groupBy("event_type").agg(count(lit(1)).as("n_a"))
    val outDir = graft.operators.ExportImport.scratch("stream-drift")
    val stream = EventStream.readEventStream(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .filter(col("t") >= mid)
    val q = StreamDrift.start(stream, ref, outDir)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir).orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val want = Analytics.driftReportFrom(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == want.toSeq,
      s"sizes stream=${got.length} batch=${want.length}")
  }

  test("drift monitor fails loudly on an empty reference, never null shares") {
    import graft.streaming.StreamDrift
    import spark.implicits._
    val emptyRef = Seq.empty[(String, Long)].toDF("event_type", "n_a")
    val counts = Seq(("click", 5L)).toDF("event_type", "n_b")
    val e = intercept[Throwable](StreamDrift.driftOf(emptyRef, counts).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("drift monitor")),
      s"expected the loud guard, got: ${messages(e).mkString(" | ")}")
  }

  test("streaming top-k heavy hitters equals the batch aggregate") {
    import graft.streaming.StreamTopK
    val q = StreamTopK.topk(EventStream.readEventStream(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_topk").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_topk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = Analytics.topkFrequent(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, s"stream=$got batch=$want")
  }

  test("stream-stream range join equals the batch bucketized pair build") {
    import graft.streaming.StreamRangeJoin
    val q = StreamRangeJoin.pairs(EventStream.readEventStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_range_join").start()
    try q.processAllAvailable() finally q.stop()
    // roll the emitted pairs up per user exactly as rangeJoinPairs does
    val got = spark.table("stream_range_join")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Analytics.rangeJoinPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want, s"stream=${got.size} pairs-users batch=${want.size}")
    assert(got.nonEmpty)
  }

  test("streaming decontamination equals the batch operator (stateless append)") {
    import graft.streaming.DocIngest
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val stream = DocIngest.readDocStream(spark, sf)
      .filter(col("doc_id") % 50 =!= 0)
    val q = DocIngest.contaminated(stream, bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_decontam").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_decontam").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    val batch = graft.operators.Curation.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"stream=$got batch=$batch")
  }

  test("streaming encode off the BPE rules artifact equals batch per doc") {
    import graft.operators.TextAnalysis
    import graft.streaming.{DocIngest, StreamEncode}
    val rulesDir = TextAnalysis.sharedBpeRulesDir(spark, sf)
    val rules = TextAnalysis.readBpeRules(spark, rulesDir)
    val q = StreamEncode.encoded(DocIngest.readDocStream(spark, sf), rules)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_encode").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val got = spark.table("stream_encode").collect().map(key).toMap
    val batch = TextAnalysis.bpeEncodeFromRules(
      Tables.load(spark, sf, "documents"), rules).collect().map(key).toMap
    assert(got == batch,
      s"per-doc mismatch: ${got.toSet.diff(batch.toSet).take(3)}")
  }

  test("streaming unigram encode off the model artifact equals batch " +
      "per doc") {
    import graft.operators.TextAnalysis
    import graft.streaming.{DocIngest, StreamEncode}
    val lp = TextAnalysis.readUnigramModel(spark,
      TextAnalysis.sharedUnigramModelDir(spark, sf))
    val q = StreamEncode
      .unigramEncoded(DocIngest.readDocStream(spark, sf), lp)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_unigram").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val got = spark.table("stream_unigram").collect().map(key).toMap
    val batch = graft.api.Graft.unigramEncode(
      Tables.load(spark, sf, "documents"), lp).collect().map(key).toMap
    assert(got == batch,
      s"per-doc mismatch: ${got.toSet.diff(batch.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming HDR quantile card equals the batch estimate leg") {
    import graft.streaming.{DocIngest, StreamQuantiles}
    val outDir = graft.operators.ExportImport.scratch("stream-quant")
    val q = StreamQuantiles.start(DocIngest.readDocStream(spark, sf), outDir)
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val got = spark.read.parquet(outDir).collect().map(key).toMap
    // histogram counts add across micro-batches, so the final
    // complete-mode state is exactly the batch histogram and the
    // published card matches the batch twin's estimate columns
    val want = graft.operators.Sketches
      .hdrQuantilesFrom(Tables.load(spark, sf, "documents"))
      .select(col("source"), col("n"), col("n_buckets"),
        col("p50_est"), col("p90_est"), col("p99_est"))
      .collect().map(key).toMap
    assert(got == want,
      s"per-source mismatch: ${got.toSet.diff(want.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming CUSUM card equals the batch change-point table") {
    import graft.streaming.{EventStream, StreamCusum}
    val outDir = graft.operators.ExportImport.scratch("stream-cusum")
    val q = StreamCusum.start(EventStream.readEventStream(spark, sf), outDir)
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))
    val got = spark.read.parquet(outDir).collect().map(key).toMap
    // day counts add across micro-batches, so the final complete-mode
    // state is exactly the batch day table and the shared finishing
    // (eventsCusumFromCounts) makes the card equal bit-for-bit
    val want = graft.operators.Analytics.eventsCusum(spark, sf)
      .collect().map(key).toMap
    assert(got == want,
      s"per-day mismatch: ${got.toSet.diff(want.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming HLL distinct equals the batch sketch per source") {
    import graft.streaming.{DocIngest, StreamDistinct}
    val q = StreamDistinct.distinctCounts(DocIngest.readDocStream(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_distinct").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))
    val got = spark.table("stream_distinct").collect().map(key).toMap
    // batch twin: the same estimate columns of hll_distinct (the HLL
    // update is idempotent, so the stream needs no pre-distinct stage
    // and still matches the batch's distinct-fed registers)
    val batch = graft.operators.Sketches
      .hllDistinctFrom(Tables.load(spark, sf, "documents"))
      .select("source", "n_regs_zero", "s_scaled", "hll_est4")
      .collect().map(key).toMap
    assert(got == batch,
      s"per-source mismatch: ${got.toSet.diff(batch.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming sketch-state maintenance equals a batch rebuild at " +
      "every prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = graft.operators.ExportImport.scratch("stream-sketches")
    val (stateDir, ckpt) = (root + "/state", root + "/ckpt")
    // scratch dirs persist across suite runs in one sandbox: a stale
    // checkpoint would dedupe the MemoryStream batches and stale state
    // would break the prefix-1 equality — start clean
    Seq(stateDir, ckpt).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, spark.sparkContext.hadoopConfiguration))
    // k small enough that the bottom-k TRIM path is exercised by the
    // merge (not just array concatenation)
    val k = 8
    def doc(src: String, i: Int) =
      (src, (1 to 12).map(j => s"tok${(i * 7 + j) % 23}").mkString(" "))
    val b1 = (1 to 15).map(i => doc(if (i % 2 == 0) "web" else "books", i))
    val b2 = (16 to 25).map(i => doc(if (i % 3 == 0) "code" else "web", i))
    val b3 = (26 to 30).map(i => doc("books", i))
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.StreamSketches.start(
      input.toDF().toDF("source", "text"), stateDir, ckpt, k)
    def stateRows() = spark.read.parquet(stateDir)
      .collect().map(_.toString).toSeq.sorted
    def rebuilt(rows: Seq[(String, String)]) = graft.operators.Sketches
      .sketchStatesOf(rows.toDF("source", "text"), k)
      .collect().map(_.toString).toSeq.sorted
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // prefix 1: first batch state IS the batch build over batch 1
      assert(stateRows() == rebuilt(b1), "prefix-1 state mismatch")
      input.addData(b2: _*); q.processAllAvailable()
      // prefix 2: union/max/add merge == one pass over b1 ++ b2 —
      // including a source ("code") absent from the stored state
      assert(stateRows() == rebuilt(b1 ++ b2), "prefix-2 state mismatch")
      input.addData(b3: _*); q.processAllAvailable()
      // prefix 3: including a batch whose sources all already exist
      assert(stateRows() == rebuilt(b1 ++ b2 ++ b3),
        "prefix-3 state mismatch")
    } finally q.stop()
    // the composed sketch consumers read the MAINTAINED artifact
    // exactly as a batch-built one
    val viaArtifact = graft.operators.Sketches
      .readSketchStates(spark, stateDir)
      .select("source", "mk").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).length).toMap
    assert(viaArtifact.keySet == Set("web", "books", "code"))
    assert(viaArtifact.values.forall(_ <= k), "bottom-k state stays <= k")
    assert(viaArtifact("web") == k,
      "a source with > k distinct shingles must hold a FULL sketch")
    // at-least-once replay: HDR cell counts ADD (not idempotent), so a
    // replayed batch must be detected by the in-artifact marker and
    // skipped — state stays the 3-batch truth
    val before = stateRows()
    graft.streaming.StreamSketches.applyBatch(
      b3.toDF("source", "text"), 2L, stateDir, k)
    assert(stateRows() == before,
      "replayed batch must not double-merge the histogram counts")
  }

  test("stream sketches: a swap interrupted between delete and rename " +
      "is repaired on the next entry") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-sketches-crash")
    val stateDir = root + "/state"
    val staged = stateDir + ".staging"
    Seq(stateDir, staged).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    val k = 8
    def batchOf(lo: Int, hi: Int) = (lo to hi)
      .map(i => ("web", (1 to 12).map(j => s"tok${(i * 7 + j) % 23}")
        .mkString(" ")))
      .toDF("source", "text")
    graft.streaming.StreamSketches.applyBatch(batchOf(1, 10), 0L, stateDir, k)
    graft.streaming.StreamSketches.applyBatch(batchOf(11, 20), 1L, stateDir, k)
    def stateRows() = spark.read.parquet(stateDir)
      .collect().map(_.toString).toSeq.sorted
    val committed = stateRows()
    // simulate the crash window: batch 1's swap deleted stateDir but
    // died before the rename — the staged dir (data + _applied_batch
    // marker, exactly what swapInto would have renamed) is the only
    // copy of the accumulated state
    val (fs, sp) = graft.streaming.StreamIO.fsFor(stateDir, conf)
    assert(fs.rename(sp, new org.apache.hadoop.fs.Path(staged)),
      "test setup: could not simulate the crash window")
    // foreachBatch replays batch 1: entry must complete the swap, then
    // skip on the recovered marker — NOT rebuild from the replay alone
    graft.streaming.StreamSketches.applyBatch(batchOf(11, 20), 1L, stateDir, k)
    assert(stateRows() == committed,
      "recovery must restore the accumulated state, replay must skip")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staged)),
      "the staged dir is consumed by the recovery")
    // and the stream continues normally past the repaired swap
    graft.streaming.StreamSketches.applyBatch(batchOf(21, 25), 2L, stateDir, k)
    val want = graft.operators.Sketches.sketchStatesOf(
      batchOf(1, 25), k).collect().map(_.toString).toSeq.sorted
    assert(stateRows() == want, "post-recovery state == batch rebuild")
  }

  test("stream sketches: a reset checkpoint against a live artifact " +
      "fails loudly instead of silently skipping every batch") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-sketches-reset")
    val stateDir = root + "/state"
    Seq(stateDir, stateDir + ".staging").foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    val docs = Seq(("web", "a b c d e f g h")).toDF("source", "text")
    graft.streaming.StreamSketches.applyBatch(docs, 0L, stateDir, 8)
    graft.streaming.StreamSketches.applyBatch(docs, 3L, stateDir, 8)
    // a FRESH checkpoint restarts batch ids at 0 while the artifact's
    // marker says 3: every batch would be "already applied" (r13's
    // silent-loss mode) — the writer must refuse
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamSketches.applyBatch(docs, 0L, stateDir, 8)
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
  }

  test("stream upsert: a swap interrupted between delete and rename " +
      "is repaired on the next entry") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-upsert-crash")
    val target = root + "/t"
    val staged = target + ".staging"
    Seq(target, staged).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    graft.streaming.StreamUpsert.applyBatch(
      Seq((1L, "a0", 0)).toDF("k", "v", "ver"), target, "k")
    graft.streaming.StreamUpsert.applyBatch(
      Seq((2L, "b0", 0)).toDF("k", "v", "ver"), target, "k")
    // crash window: batch 1's swap deleted the target but died before
    // the rename; the staged dir (with Spark's _SUCCESS) is the only
    // full copy of the accumulated table
    val (fs, tp) = graft.streaming.StreamIO.fsFor(target, conf)
    assert(fs.rename(tp, new org.apache.hadoop.fs.Path(staged)),
      "test setup: could not simulate the crash window")
    // the replayed batch must merge into the RECOVERED table (upsert is
    // idempotent) — without recovery the result would be batch 1 alone
    graft.streaming.StreamUpsert.applyBatch(
      Seq((2L, "b0", 0)).toDF("k", "v", "ver"), target, "k")
    val got = spark.read.parquet(target).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a0"), (2L, "b0")),
      s"recovery must keep pre-crash rows: $got")
  }

  test("artifact compaction: batch_id partitions fold to one, readers " +
      "unchanged, folded replay skips, reset refused") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-dedup-gc")
    val (baseDir, outDir) = (root + "/base", root + "/out")
    Seq(baseDir, outDir, baseDir + ".compact-staging",
        outDir + ".compact-staging")
      .foreach(d => graft.streaming.StreamIO.deleteRecursively(d, conf))
    def doc(i: Int) =
      (i.toLong, (1 to 12).map(j => s"tok${(i * 7 + j) % 23}").mkString(" "))
    val b0 = (1 to 8).map(doc).toDF("doc_id", "text")
    val b1 = (9 to 14).map(doc).toDF("doc_id", "text")
    graft.streaming.StreamDedup.applyBatch(b0, 0L, baseDir, outDir, 0.5)
    graft.streaming.StreamDedup.applyBatch(b1, 1L, baseDir, outDir, 0.5)
    def rows(d: String) = spark.read.parquet(d).drop("batch_id")
      .collect().map(_.toString).toSeq.sorted
    def nParts(d: String) = {
      val (fs, p) = graft.streaming.StreamIO.fsFor(d, conf)
      fs.listStatus(p).count(_.getPath.getName.startsWith("batch_id="))
    }
    val (decisions, corpus) = (rows(outDir), rows(baseDir))
    assert(nParts(baseDir) == 2 && nParts(outDir) == 2)
    // fold both artifacts of the pair
    assert(graft.streaming.Compaction.compactBatched(spark, baseDir)
      .contains(1L))
    assert(graft.streaming.Compaction.compactBatched(spark, outDir)
      .contains(1L))
    assert(nParts(baseDir) == 1 && nParts(outDir) == 1,
      "fold must collapse to a single partition")
    assert(rows(outDir) == decisions && rows(baseDir) == corpus,
      "readers must see identical rows through the fold")
    // replay of the folded batch: every write skipped
    graft.streaming.StreamDedup.applyBatch(b1, 1L, baseDir, outDir, 0.5)
    assert(nParts(baseDir) == 1 && rows(outDir) == decisions,
      "folded replay must be a no-op")
    // an id below the watermark = reset checkpoint: refuse loudly
    intercept[IllegalStateException] {
      graft.streaming.StreamDedup.applyBatch(b0, 0L, baseDir, outDir, 0.5)
    }
    // the stream continues past the fold; decisions equal the batch twin
    val b2 = (15 to 18).map(doc).toDF("doc_id", "text")
    graft.streaming.StreamDedup.applyBatch(b2, 2L, baseDir, outDir, 0.5)
    assert(nParts(baseDir) == 2 && nParts(outDir) == 2)
    val keptBase = graft.operators.Dedup.incrementalFrom(
      spark.read.parquet(baseDir).filter(col("batch_id") === 1)
        .select("doc_id", "text"),
      b2, 0.5).collect().map(_.toString).toSeq.sorted
    val gotB2 = spark.read.parquet(outDir)
      .filter(col("batch_id") === 2).drop("batch_id")
      .collect().map(_.toString).toSeq.sorted
    assert(gotB2 == keptBase,
      "post-fold batch must be decided against the folded base")
    // nothing to fold on an empty/one-partition dir
    assert(graft.streaming.Compaction
      .compactBatched(spark, root + "/nope").isEmpty)
  }

  test("compaction: a stale staging tree from a pre-swap crash cannot " +
      "duplicate folded rows") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.ExportImport.scratch("stream-compact-crash")
    val dir = root + "/acc"
    val staged = dir + ".compact-staging"
    Seq(dir, staged).foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/batch_id=0")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/batch_id=1")
    // crash window: a prior compaction staged its fold (through batch
    // 1) but died BEFORE the marker/swap; the stale staged partition
    // must not survive into the next fold's swap
    spark.read.parquet(dir).drop("batch_id")
      .write.parquet(s"$staged/batch_id=1")
    // a new batch lands after the crash → the next fold watermark is 2
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/batch_id=2")
    assert(graft.streaming.Compaction.compactBatched(spark, dir)
      .contains(2L))
    val got = spark.read.parquet(dir).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"stale staged partition must not duplicate folded rows: $got")
  }

  test("streaming artifact writers resolve probes/marker/swap through " +
      "the Hadoop FileSystem of a non-file scheme") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    val root = graft.operators.ExportImport.scratch("stream-mockfs")
    val stateDir = "graftmock:" + root + "/state"
    Seq(stateDir, stateDir + ".staging").foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    val k = 8
    def batchOf(lo: Int, hi: Int) = (lo to hi)
      .map(i => ("web", (1 to 12).map(j => s"tok${(i * 7 + j) % 23}")
        .mkString(" ")))
      .toDF("source", "text")
    // two merges + a replay, all against a URI java.nio cannot touch:
    // existence probe, prior-state read, staged write, marker, swap
    graft.streaming.StreamSketches.applyBatch(batchOf(1, 10), 0L, stateDir, k)
    graft.streaming.StreamSketches.applyBatch(batchOf(11, 20), 1L, stateDir, k)
    graft.streaming.StreamSketches.applyBatch(batchOf(11, 20), 1L, stateDir, k)
    val got = graft.operators.Sketches.readSketchStates(spark, stateDir)
      .collect().map(_.toString).toSeq.sorted
    val want = graft.operators.Sketches.sketchStatesOf(batchOf(1, 20), k)
      .collect().map(_.toString).toSeq.sorted
    assert(got == want, "DFS-addressed maintained state == batch rebuild")
    // the upsert swap idiom on the same scheme
    val target = "graftmock:" + root + "/t"
    Seq(target, target + ".staging").foreach(d =>
      graft.streaming.StreamIO.deleteRecursively(d, conf))
    graft.streaming.StreamUpsert.applyBatch(
      Seq((1L, "a0", 0)).toDF("k", "v", "ver"), target, "k")
    graft.streaming.StreamUpsert.applyBatch(
      Seq((1L, "a1", 1), (2L, "b0", 0)).toDF("k", "v", "ver"), target, "k")
    val rows = spark.read.parquet(target).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a1"), (2L, "b0")))
  }

  test("ivf index maintenance on a non-file scheme: read-after-compact " +
      "serves identically, rebuild swaps/versions through the same FS") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[GraftMockFileSystem].getName)
    val root = graft.operators.ExportImport.scratch("stream-mockfs-ivf")
    val dir = "graftmock:" + root + "/idx"
    graft.streaming.StreamIO.deleteRecursively(dir, conf)
    def vecsOf(lo: Int, hi: Int, off: Float) = (lo to hi).map { i =>
      (i.toLong,
        Array.tabulate(8)(j => ((i * 7 + j) % 5 - 2).toFloat + off))
    }.toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.staticCentroids(4, 8)
    graft.operators.Similarity.ivfIndexBuild(spark, vecsOf(0, 39, 0f),
      dir, cents)
    graft.streaming.StreamIvfIndex.applyBatch(vecsOf(100, 119, 0.5f),
      0L, dir)
    val queries = vecsOf(0, 4, 0f)
    def serve() = graft.operators.Similarity
      .annServeFromIndex(spark, dir, queries, nProbe = 2, k = 3)
      .collect().map(_.toString).toSeq.sorted
    val before = serve()
    assert(before.nonEmpty)
    assert(graft.operators.Similarity.ivfIndexCompact(spark, dir)
      .contains(0L))
    // a reader arriving right after the swap window sees the full
    // folded index — the serving-continuity contract
    assert(serve() == before, "read-after-compact must serve identically")
    // the retrain action over the same scheme: whole-artifact swap,
    // version bump, baseline reset — all through the Hadoop FS API
    assert(graft.operators.Similarity.ivfIndexRebuild(spark, dir,
      nCells = 4) == 2L)
    assert(graft.operators.Similarity
      .readIvfQuantizerVersion(spark, dir).contains(2L))
    assert(serve().nonEmpty, "read-after-rebuild must serve")
    assert(graft.operators.Similarity.ivfDriftFromIndex(spark, dir)
      .collect().forall(r => r.getAs[Double]("psi4") == 0.0),
      "rebuild must reset the drift baseline on the DFS artifact")
  }
}

/** [[org.apache.hadoop.fs.RawLocalFileSystem]] re-registered under a
  * non-`file:` scheme: the StreamingSpec stand-in for an HDFS/S3
  * filesystem in this zero-egress sandbox. A writer that still probed
  * or swapped via `java.nio.file` would reject `graftmock:` URIs
  * outright, so passing through this FS proves the whole maintenance
  * path speaks the Hadoop FileSystem API. */
class GraftMockFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
}
