package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tools over the SparkEntry registry, on one warm GraftSession at
  * `$SPARK_GRAFT_SF_DIR` (required). With no names, a subcommand covers the whole
  * sorted registry.
  *
  * Usage: runMain graft.Dev <cmd> [name ...]
  *   profile [--runs N] [query ...]  split each query's wall time into
  *       DataFrame construction, planning (`executedPlan`) and execution
  *       (`toRdd.count()`); CSV on stdout, per-phase medians of N runs
  *   jobs [query-or-build ...]       wall time of every Spark job an
  *       entry runs (eager actions, AQE stages, stream micro-batches),
  *       each labelled `[description]` (the entry's name, or a
  *       stream's own) before its stage names, and the share of the
  *       entry's wall time no job covers (gaps)
  *   explain [query ...]             formatted physical plans
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("graft.Dev: set SPARK_GRAFT_SF_DIR to a testdata directory"))
    val cmd = args.headOption.getOrElse("")
    val (runs, names) = args.drop(1).toSeq match {
      case "--runs" +: n +: rest if cmd == "profile" => (n.toInt, rest)
      case rest => (1, rest)
    }
    val queries = SparkEntry.queries.keys.toSeq.sorted
    val registry = cmd match {
      case "profile" | "explain" => queries
      // builds first: a query then times steady state, not its memo build
      case "jobs" => SparkEntry.benchBuilds.keys.toSeq.sorted ++ queries
      case _ => Nil
    }
    require(registry.nonEmpty && runs >= 1,
      "usage: graft.Dev profile [--runs N] | jobs | explain [name ...]")
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in the $cmd registry: ${unknown.mkString(", ")}")
    val targets = if (names.isEmpty) registry else names
    val spark = GraftSession.local()
    try cmd match {
      case "profile" => profile(spark, sfDir, targets, runs)
      case "jobs" => jobs(spark, sfDir, targets)
      case "explain" => targets.foreach { n =>
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    } finally {
      CacheScope.releaseAll(spark)
      spark.stop()
    }
  }

  private def profile(spark: SparkSession, sfDir: String,
      names: Seq[String], runs: Int): Unit = {
    GraftSession.warm(spark, sfDir)
    // builds first (a failure goes to stderr), so query numbers are
    // steady-state
    Bench.runBuilds(spark, sfDir)
    println("name,build_s,plan_s,exec_s,total_s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try {
        val phases = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // analysis+optimization+planning
          val t2 = System.nanoTime()
          Bench.force(df)
          val t3 = System.nanoTime()
          Seq(t1 - t0, t2 - t1, t3 - t2, t3 - t0).map(_ / 1e9)
        }
        println((n +: phases.transpose.map(p => f"${Bench.median(p)}%.3f"))
          .mkString(","))
      } catch { case e: Throwable =>
        System.err.println(s"FAILED $n: ${e.getMessage}")
      }
    }
  }

  /** Milliseconds covered by at least one [start, end) span; spans that
    * never ended (end <= start) cover nothing. */
  private[graft] def coveredMs(spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered
  }

  private case class Job(id: Int, start: Long, stages: Int, desc: String,
      @volatile var end: Long = 0L)

  private def jobs(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    GraftSession.warm(spark, sfDir)
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stages = e.stageInfos.map(si =>
          si.name.takeWhile(_ != '(').trim + ":" + si.numTasks)
          .mkString(" | ")
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty)
          .fold(stages)(d => s"[$d] $stages").take(160)
        seen.put(e.jobId, Job(e.jobId, e.time, e.stageInfos.size, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = seen.get(e.jobId); if (j != null) j.end = e.time
      }
    })
    names.foreach { n =>
      seen.clear()
      val t0 = System.currentTimeMillis() // the listener's event clock
      // the entry names its jobs; SQL executions copy the description to
      // the broadcast and AQE jobs they start on other threads
      spark.sparkContext.setJobDescription(n)
      val r =
        try Right(SparkEntry.queries.get(n) match {
          case Some(fn) => Bench.force(fn(spark, sfDir))
          case None => SparkEntry.benchBuilds(n)(spark, sfDir)
        })
        catch { case e: Throwable => Left(e) }
        finally spark.sparkContext.setJobDescription(null)
      val t1 = System.currentTimeMillis()
      val wall = (t1 - t0) / 1e3
      Thread.sleep(300) // let the listener bus drain
      r match {
        case Left(e) => println(s"JOBS $n FAILED: ${e.getMessage}")
        case Right(_) =>
          val js = seen.values.toArray(Array.empty[Job]).sortBy(_.id)
          // broadcast and AQE jobs overlap: count each instant once
          val busy = coveredMs(js.map(j =>
            (math.max(j.start, t0), math.min(j.end, t1)))) / 1e3
          println(f"JOBS $n wall=$wall%.3f s, ${js.length} jobs, " +
            f"job-time union=$busy%.3f s (gaps=${wall - busy}%.3f)")
          js.foreach { j =>
            val d = math.max(0L, j.end - j.start) / 1e3
            if (d >= 0.05)
              println(f"  job ${j.id}%4d ${d}%7.3f s stages=${j.stages}%3d  ${j.desc.take(90)}")
          }
      }
    }
  }
}
