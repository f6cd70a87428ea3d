package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.Graft

object AnnServing {
  val raw = "Similarity.annServeFromIndex"
  val sq8 = "Similarity.annServeSq8FromIndex"
  val pq = "Similarity.annServeFromPqIndex"
  val mmr = "Similarity.mmrSelectFromIndex"
  /** The codec mix, with its share of every 16 requests (~30/30/25/15%). */
  val mix: Seq[(String, Int)] = Seq(raw -> 5, sq8 -> 5, pq -> 4, mmr -> 2)
  /** A fixed interleaving of the mix: request n uses slot n mod 16, so
    * every run serves the same codec shares whatever its seed. */
  val schedule: Vector[String] = {
    val left = scala.collection.mutable.Map(mix: _*)
    Vector.tabulate(mix.map(_._2).sum) { i =>
      val c = mix.map(_._1).maxBy(c => (left(c), -mix.indexWhere(_._1 == c)))
      left(c) -= 1
      c
    }
  }
  val layerExtra: Seq[(String, String)] =
    ("Similarity.rows_read_per_result" -> "ratio") +: mix.map(c => s"${c._1}.recall" -> "ratio")
}

/** Short, latency-bound ANN requests from a warm IVF index: a closed
  * loop of two clients, each waiting for its reply. Rounds of serving
  * alternate with an append of a seed-drawn delta, so each round sees a
  * fixed index and later rounds serve more index fragments. Recall is
  * measured against brute-force truth over the current corpus,
  * computed in plain Scala outside the timed region. */
final class AnnServing extends Workload {
  import AnnServing._
  val name = "ann_serving"
  val spans: Seq[String] = Seq("Similarity.buildIvfIndex", "Similarity.addPqIndex") ++
    mix.map(_._1) ++ Seq("Similarity.appendIvfIndex")

  private val k = 5
  private val nProbe = 4
  private val perRequest = 4
  private val clients = 2
  private val roundSize = schedule.size
  private val minRequests = 48
  private val deltaSize = 100

  private val centres = Inputs.centres
  /** The corpus the index holds right now: id -> unit vector. */
  private val corpus = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var index: String = _

  def prepare(ctx: Ctx): Unit = {
    val base = Inputs.embeddings(ctx.seed, 2000, 0L, centres,
      new scala.util.Random(ctx.seed * 101 + 7))
    base.foreach { case (id, e, _) => corpus(id) = e }
    Inputs.vectorFrame(ctx.spark, base.toSeq).repartition(4)
      .write.mode("overwrite").parquet(ctx.dir("input/sf/embeddings.parquet"))
  }

  override def setupRepeats: Int = 2
  override def setup(ctx: Ctx, attempt: Int): Unit = {
    index = ctx.dir(s"index-$attempt")
    ctx.tracer.span("Similarity.buildIvfIndex") {
      Graft.buildIvfIndex(ctx.spark, ctx.dir("input/sf"), index)
    }
    ctx.tracer.span("Similarity.addPqIndex") { Graft.addPqIndex(ctx.spark, index) }
  }

  /** One request: its codec from the schedule, its query vectors drawn
    * from (seed, req).
    * Once deltas exist, half the queries sit next to appended vectors,
    * so serving after an append is exercised, not diluted. */
  private def request(seed: Long, req: Long, ids: IndexedSeq[Long],
                      appended: IndexedSeq[Long]): (String, Seq[(Long, Array[Float])]) = {
    val r = new scala.util.Random(seed * 1000003L + req)
    val codec = schedule(math.floorMod(req - 1, schedule.size.toLong).toInt)
    val qs = (0 until perRequest).map { j =>
      val pool = if (j % 2 == 1 && appended.nonEmpty) appended else ids
      val src = corpus(pool(r.nextInt(pool.size)))
      val v = src.map(_ + 0.05f * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (50000000L + req * 16 + j, v.map(_ / n))
    }
    (codec, qs)
  }

  private def serve(ctx: Ctx, codec: String, qs: Seq[(Long, Array[Float])]): Array[Row] = {
    val spark = ctx.spark
    import spark.implicits._
    val q = qs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val tr = ctx.tracer
    tr.span(codec) {
      val df: DataFrame = tr.construct(codec match {
        case `raw` => Graft.annServeFromIndex(spark, index, q, nProbe, k)
        case `sq8` => Graft.annServeSq8FromIndex(spark, index, q, nProbe, k)
        case `pq` => Graft.annServeFromPqIndex(spark, index, q, nProbe, k)
        case `mmr` => Graft.mmrSelectFromIndex(spark, index, q, nProbe, k)
      })
      df.select("query_id", "neighbor_id").collect()
    }
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Exact top-k ids over the corpus as it stood for a round. */
  private def truth(v: Array[Float], ids: IndexedSeq[Long]): Set[Long] =
    ids.iterator.map(id => (cos(v, corpus(id)), id)).toSeq
      .sortBy(x => (-x._1, x._2)).take(k).map(_._2).toSet

  private final case class Served(req: Long, codec: String, ms: Double,
                                  qs: Seq[(Long, Array[Float])], rows: Array[Row])

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val served = new java.util.concurrent.ConcurrentLinkedQueue[Served]()
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val failed = new AtomicLong(0)
    val appendMs = mutable.Buffer.empty[Double]
    val hits = mutable.Map.empty[String, Long]
    val asked = mutable.Map.empty[String, Long]
    val malformed = mutable.Buffer.empty[Long]
    // recall split: the first measured round is served before any append
    val phaseHits = mutable.Map.empty[(String, Boolean), Long]
    val phaseAsked = mutable.Map.empty[(String, Boolean), Long]

    /** Requests (from, to] from both clients, each taking the next
      * request number once its previous reply is in. */
    def serveRound(from: Long, to: Long, ids: IndexedSeq[Long],
                   appended: IndexedSeq[Long]): Unit = {
      val next = new AtomicLong(from)
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          var req = next.incrementAndGet()
          while (req <= to) {
            val (codec, qs) = request(seed, req, ids, appended)
            val q0 = System.nanoTime()
            try {
              val rows = ctx.asOp(req)(serve(ctx, codec, qs))
              val ms = (System.nanoTime() - q0) / 1e6
              latencies.add(req -> ms)
              served.add(Served(req, codec, ms, qs, rows))
            } catch {
              case NonFatal(e) =>
                failed.incrementAndGet()
                latencies.add(req -> Double.PositiveInfinity)
                System.err.println(s"request $req ($codec) failed: $e")
            }
            req = next.incrementAndGet()
          }
        }, s"client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // warm JIT, code generation and both clients' interleaving on one
    // untimed round of the whole codec schedule (requests -15..0)
    serveRound(-roundSize, 0, corpus.keys.toIndexedSeq, IndexedSeq.empty)
    val warmFailed = failed.getAndSet(0)
    served.clear()
    latencies.clear()

    var serveS = 0.0
    var round = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    ctx.tracer.measuring(while (round * roundSize < minRequests ||
        (elapsed < ctx.seconds && round < 40)) {
      round += 1
      val ids = corpus.keys.toIndexedSeq
      val appended = ids.filter(_ >= 1000000L)
      val end = round.toLong * roundSize
      val r0 = System.nanoTime()
      serveRound(end - roundSize, end, ids, appended)
      serveS += (System.nanoTime() - r0) / 1e9
      // append a delta between rounds: writes run beside reads, phased
      val delta = Inputs.embeddings(seed, deltaSize, 1000000L + round * 1000L, centres,
        new scala.util.Random(seed * 977 + round))
      val a0 = System.nanoTime()
      try {
        ctx.tracer.span("Similarity.appendIvfIndex", 1000000L + round) {
          Graft.appendIvfIndex(spark, index, Inputs.vectorFrame(spark, delta.toSeq)
            .select("vec_id", "embedding"))
        }
        appendMs += (System.nanoTime() - a0) / 1e6
        delta.foreach { case (id, e, _) => corpus(id) = e }
      } catch {
        case NonFatal(e) =>
          failed.incrementAndGet()
          appendMs += Double.PositiveInfinity
          System.err.println(s"append $round failed: $e")
      }
      // recall against the corpus this round's requests saw
      val idSet = ids.toSet
      served.asScala.filter(s => s.req > end - roundSize && s.req <= end).foreach { s =>
        val ok = s.qs.map { case (qid, v) =>
          val got = s.rows.filter(_.getLong(0) == qid).map(_.getLong(1)).toSet
          (got.size == k && got.forall(idSet), (got & truth(v, ids)).size)
        }
        hits(s.codec) = hits.getOrElse(s.codec, 0L) + ok.map(_._2).sum
        asked(s.codec) = asked.getOrElse(s.codec, 0L) + perRequest * k
        val phase = (s.codec, round == 1)
        phaseHits(phase) = phaseHits.getOrElse(phase, 0L) + ok.map(_._2).sum
        phaseAsked(phase) = phaseAsked.getOrElse(phase, 0L) + perRequest * k
        if (!ok.forall(_._1)) malformed += s.req
      }
    })
    val lat = latencies.asScala.toSeq.sortBy(_._1)

    val recall = mix.map { case (c, _) =>
      c -> hits.getOrElse(c, 0L).toDouble / math.max(1L, asked.getOrElse(c, 0L)) }.toMap
    val topk = Seq(raw, sq8, pq)
    val answerRecall = topk.map(hits.getOrElse(_, 0L)).sum.toDouble /
      math.max(1L, topk.map(asked.getOrElse(_, 0L)).sum)

    ctx.tracer.drain()
    val tracedServes = ctx.tracer.spans.asScala.filter(s => s.req > 0 && mix.exists(_._1 == s.name))
    val resultRows = served.asScala.map(s => s.req -> s.rows.length.toLong).toMap
    val rowsRead = tracedServes.map(s => ctx.tracer.tasksOf(s).recordsRead).sum
    val rowsOut = tracedServes.map(s => resultRows.getOrElse(s.req, 0L)).sum

    val checks = Seq(
      Check("warm_up_served", warmFailed == 0,
        s"$warmFailed of $roundSize untimed warm-up requests failed"),
      Check("replies_well_formed", malformed.isEmpty,
        s"${served.size} replies, each query with $k distinct ids from the current corpus" +
          (if (malformed.isEmpty) "" else s"; malformed requests ${malformed.take(10)}")),
      Check(s"recall_raw_codec", recall(raw) >= 0.5,
        f"raw IVF recall@$k ${recall(raw)}%.4f over ${asked.getOrElse(raw, 0L)} answers"))
    val byCodec = served.asScala.groupBy(_.codec)
    Outcome(lat.map(_._2), lat.map(l => ctx.traced(l._1)), lat.size + appendMs.size,
      failed.get, appendMs.toSeq, Fs.bytes(index).toDouble / corpus.size, answerRecall,
      serveS, checks,
      Seq(("serve_p50_ms", Stats.quantile(lat.map(_._2), 0.5), "ms"),
        ("serve_p95_ms", Stats.quantile(lat.map(_._2), 0.95), "ms"),
        ("serve_qps", lat.count(!_._2.isInfinite) / serveS, "1/s"),
        ("append_p50_ms", Stats.median(appendMs.toSeq), "ms"),
        ("recall_at_k", answerRecall, "ratio"),
        ("requests", lat.size.toDouble, "count"), ("appends", appendMs.size.toDouble, "count")) ++
        mix.flatMap { case (c, _) =>
          def r(first: Boolean) = phaseHits.getOrElse((c, first), 0L).toDouble /
            math.max(1L, phaseAsked.getOrElse((c, first), 0L))
          Seq((s"$c.recall", recall(c), s"ratio(n=${byCodec.get(c).map(_.size).getOrElse(0)})"),
            (s"$c.p50_ms", Stats.median(byCodec.getOrElse(c, Nil).map(_.ms).toSeq), "ms"),
            (s"$c.recall_before_appends", r(true), "ratio"),
            (s"$c.recall_after_appends", r(false), "ratio"))
        },
      recall.map { case (c, v) => s"$c.recall" -> v } ++ Map(
        "Similarity.rows_read_per_result" ->
          (if (rowsOut == 0) 0.0 else rowsRead.toDouble / rowsOut)))
  }
}
