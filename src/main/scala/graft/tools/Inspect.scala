package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One-query profiler: `Inspect <query> [sfDir] [reps]`. One warm run, then
  * `reps` timed runs, each printed with wall seconds, row count and every
  * Spark job it launched (duration, call site); then the formatted plan,
  * interior plans first — queries that localCheckpoint interior frames
  * truncate their final plan to ExistingRDD scans, so the actions run
  * while the query was being built carry the real plan evidence. */
object Inspect {
  private val Flush = "graft-inspect-flush"

  /** Job log fed by the (asynchronous) listener bus. `drain` runs a marker
    * job and waits for its end event: the bus delivers in order, so every
    * earlier job and query-execution event has been seen by then. */
  private final class Jobs extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    private val lines = new ConcurrentLinkedQueue[String]()
    private val flushed = new Semaphore(0)
    override def onJobStart(js: SparkListenerJobStart): Unit =
      starts.put(js.jobId, (js.time, Option(js.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse(js.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | "))))
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
        if (site == Flush) flushed.release()
        else lines.add(f"  job ${je.jobId}%4d ${(je.time - t0) / 1e3}%8.3f s  $site")
      }
    def drain(spark: SparkSession): Seq[String] = {
      spark.sparkContext.setCallSite(Flush)
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.clearCallSite()
      require(flushed.tryAcquire(60, TimeUnit.SECONDS), "listener bus did not drain")
      Iterator.continually(lines.poll()).takeWhile(_ != null).toSeq
    }
  }

  def run(spark: SparkSession, name: String, dir: String, reps: Int): String = {
    val q = graft.SparkEntry.queries(name)
    val jobs = new Jobs
    val interior = new ConcurrentLinkedQueue[String]()
    val planLog = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        interior.add(s"== interior action: $f ==\n${qe.explainString(FormattedMode)}\n")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = new StringBuilder
    spark.sparkContext.addSparkListener(jobs)
    try {
      (0 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val n = q(spark, dir).count()
        val s = (System.nanoTime() - t0) / 1e9
        out ++= f"$name ${if (rep == 0) "warm" else s"rep $rep"}%-6s $s%8.3f s  rows=$n\n"
        jobs.drain(spark).foreach(l => out ++= l + "\n")
      }
      // plans come from one more build, so the timed runs carry no listener
      spark.listenerManager.register(planLog)
      val df = try { val d = q(spark, dir); jobs.drain(spark); d }
        finally spark.listenerManager.unregister(planLog)
      interior.forEach(p => out ++= p)
      out ++= "== final plan ==\n" + df.queryExecution.explainString(FormattedMode)
    } finally spark.sparkContext.removeSparkListener(jobs)
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("graft-inspect")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try print(run(spark, args(0), args.lift(1).getOrElse(graft.Bench.DefaultSfDir),
      args.lift(2).fold(3)(_.toInt)))
    finally spark.stop()
  }
}
