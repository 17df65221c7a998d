package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap

/** Throwaway per-job diagnostic: runs the named query once (after a
  * warmup) and prints one line per job: duration, #stages, #tasks, desc.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("rpt_leaf_stats")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new ConcurrentHashMap[Int, (Long, Int, String)]()
    val tasks = new ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, (e.time, e.stageIds.length,
          Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")))
        tasks.put(e.jobId, new java.util.concurrent.atomic.AtomicInteger())
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.get(e.stageId)
        Option(tasks.get(j)).foreach(_.incrementAndGet())
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        // a job whose start event was missed (e.g. posted before the
        // listener attached) has no start row: skip it, never crash
        Option(jobs.get(e.jobId)).foreach { case (t0, ns, _) =>
          val nt = Option(tasks.get(e.jobId)).map(_.get).getOrElse(0)
          out.add(f"job ${e.jobId}%3d ${e.time - t0}%5d ms  stages=$ns%2d tasks=$nt%4d")
        }
    })
    // warmup
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
    out.clear()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val el = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
    println(f"== $name timed: $el%.3f s, jobs=${out.size}")
    out.forEach(l => println(l))
    spark.stop()
  }
}
