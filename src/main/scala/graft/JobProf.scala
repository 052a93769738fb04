package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool (r21 optimization round): run one registry query or build
  * with a SparkListener attached and print per-job wall time + task
  * counts — attributes a heavy entry's seconds to its Spark jobs
  * (eager actions, AQE stages, streaming micro-batches).
  *
  * Usage: runMain graft.JobProf <name> [name ...]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => () }

    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var tasks: Int = 0, var stages: Int = 0, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId)
        j.start = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        j.stages = e.stageInfos.size
        if (j.desc.isEmpty)
          j.desc = e.stageInfos.map(si =>
            si.name.takeWhile(_ != '(').trim + ":" + si.numTasks)
            .mkString(" | ").take(160)
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute tasks to the most recent job containing the stage
        jobs.values.forEach { j => () }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { n =>
      jobs.clear()
      val t0 = System.nanoTime()
      val r: Either[Throwable, Unit] =
        SparkEntry.queries.get(n) match {
          case Some(fn) =>
            try Right { fn(spark, sfDir).queryExecution.toRdd.count(); () }
            catch { case e: Throwable => Left(e) }
          case None => SparkEntry.benchBuilds.get(n) match {
            case Some(fn) =>
              try Right(fn(spark, sfDir))
              catch { case e: Throwable => Left(e) }
            case None => Left(new NoSuchElementException(n))
          }
        }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      r match {
        case Left(e) => println(s"JOBPROF $n FAILED: ${e.getMessage}")
        case Right(_) =>
          val js = jobs.values.toArray(Array.empty[J]).sortBy(_.id)
          val jobSum = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
          println(f"JOBPROF $n wall=$wall%.3f s, ${js.length} jobs, " +
            f"job-time sum=$jobSum%.3f s (gaps=${wall - jobSum}%.3f)")
          js.foreach { j =>
            val d = math.max(0L, j.end - j.start) / 1e3
            if (d >= 0.05)
              println(f"  job ${j.id}%4d ${d}%7.3f s stages=${j.stages}%3d  ${j.desc.take(90)}")
          }
      }
    }
    CacheScope.releaseAll(spark)
    spark.stop()
  }
}
