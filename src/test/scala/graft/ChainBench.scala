package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Times connected components on a chain graph, by default the
  * 1.1M-node path (2.2M directed edge rows, just past the driver
  * bound), from construction through a full `noop` write of the
  * result:
  *
  * {{{
  * sbt "Test/runMain graft.ChainBench [nodes]"
  * }}}
  *
  * Runs at local[SPARK_GRAFT_CPUS] (default 4) and prints one line:
  * jobs, stages listed over all jobs, the most any one job listed,
  * and wall seconds. */
object ChainBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1100000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]").config("spark.ui.enabled", "false"))
      .getOrCreate()
    val (nodes, pairs) = GraphGen.chain(spark, n)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.size)
    })
    val t0 = System.nanoTime()
    operators.Dedup.clustersFromPairs(nodes, pairs, 40)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graftbridge.CatalystBridge.drainListeners(sc)
    val perJob = jobs.asScala.toSeq
    println(f"[chain] nodes=$n local[$cpus] jobs=${perJob.length} " +
      f"stages=${perJob.sum} max_stages_per_job=${perJob.max} " +
      f"wall_s=$wall%.1f")
    spark.stop()
  }
}
