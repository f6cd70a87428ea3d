package graftbench

import scala.util.control.NonFatal

/** What a leg of the batch pipeline reports after the measured window. */
final case class LegReport(checks: Seq[Check], recall: Double, bytes: Long,
                           rows: Long, named: Seq[(String, Double, String)])

/** The batch pipeline, one client: each operation runs the curation leg
  * and then the migration leg, in one process, once — as a scheduled
  * batch job does, so the operation pays JIT and code generation. */
final class BatchPipeline extends Workload {
  val name = "batch_pipeline"
  private val curation = new CurationPipeline
  private val migration = new MigrationPackage
  val spans: Seq[String] = (curation.spans ++ migration.spans).distinct

  def prepare(ctx: Ctx): Unit = {
    curation.prepare(ctx)
    migration.prepare(ctx)
  }

  def measure(ctx: Ctx): Outcome = {
    val opMs, curMs, migMs, writeMs = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Boolean]
    val passes = Seq.newBuilder[curation.PassResult]
    val rounds = Seq.newBuilder[migration.RoundResult]
    var failed = 0L
    var lastOk = false
    var op = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    ctx.tracer.measuring(while (op < ctx.minOps || (elapsed < ctx.seconds && op < 50)) {
      op += 1
      val out = ctx.dir(s"op-$op")
      val p0 = System.nanoTime()
      try {
        val (c, m, c1) = ctx.asOp(op) {
          val c = curation.pass(ctx, s"$out/curation")
          val c1 = System.nanoTime()
          (c, migration.roundTrip(ctx, s"$out/migration"), c1)
        }
        val p1 = System.nanoTime()
        opMs += (p1 - p0) / 1e6
        curMs += (c1 - p0) / 1e6
        migMs += (p1 - c1) / 1e6
        writeMs += c.exportMs + m.exportMs
        passes += c
        rounds += m
        lastOk = true
      } catch {
        case NonFatal(e) =>
          failed += 1
          lastOk = false
          opMs += Double.PositiveInfinity
          System.err.println(s"operation $op failed: $e")
      }
      traced += ctx.traced(op)
      // keep the last operation's files for the checks
      if (op > 1) Fs.delete(ctx.dir(s"op-${op - 1}"))
    })
    val measuredS = elapsed
    val last = if (lastOk) Some(ctx.dir(s"op-$op")) else None
    val cur = curation.report(ctx, passes.result(), last.map(_ + "/curation"))
    val mig = migration.report(ctx, rounds.result(), last.map(_ + "/migration"))
    val ops = opMs.result()
    Outcome(ops, traced.result(), op, failed, writeMs.result(),
      (cur.bytes + mig.bytes).toDouble / math.max(1L, cur.rows + mig.rows),
      (cur.recall + mig.recall) / 2, measuredS,
      cur.checks.map(c => c.copy(name = s"curation.${c.name}")) ++
        mig.checks.map(c => c.copy(name = s"migration.${c.name}")),
      Seq(("pipeline_s", Stats.median(curMs.result()) / 1e3, "s"),
        ("migration_s", Stats.median(migMs.result()) / 1e3, "s")) ++ cur.named ++ mig.named,
      Map.empty)
  }
}
