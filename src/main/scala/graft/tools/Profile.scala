package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Ad-hoc profiling harness: times registered queries with the noop sink,
  * attributes their time to construction, execution and Spark jobs, and
  * prints formatted plans.
  *
  * Usage:
  *   runMain graft.tools.Profile time <sfDir> <query> [query ...]
  *   runMain graft.tools.Profile attrib <sfDir> <query> [query ...]
  *   runMain graft.tools.Profile explain <sfDir> <query>
  *   runMain graft.tools.Profile explaindump <sfDir> <outDir> <query> [query ...]
  */
object Profile {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"$name%-32s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** One Spark job of an attributed query. `phase` is `construct` (a job
    * launched while the query function ran) or `exec` (the noop write);
    * `callSite` is the first engine frame of the job's final stage, else
    * that stage's short call site. */
  final case class Job(id: Int, phase: String, callSite: String, seconds: Double,
      stages: Int, tasks: Int, executorRunS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Where one query's wall time went: calling the query function
    * (construction: eager checkpoints, driver fits, schema reads), then
    * running its plan into the noop sink, and the jobs each launched. */
  final case class Attribution(query: String, constructS: Double, execS: Double,
      wallS: Double, jobs: Seq[Job])

  /** Local property carrying the phase onto the jobs it launches. */
  private val PhaseKey = "graft.profile.phase"

  /** Collects the jobs tagged with [[PhaseKey]]. Listener events arrive on
    * one bus thread, in the order they were posted; the caller reads the
    * jobs only after [[awaitEnd]] has seen the sentinel job start, which
    * was posted after every event of the query's jobs. */
  private final class JobListener extends SparkListener {
    final class Acc(val id: Int, val phase: String, val callSite: String, val startMs: Long) {
      var endMs, runMs, shuffleRead, shuffleWrite = 0L
      var stages, tasks = 0
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
    private val stageJob = mutable.HashMap.empty[Int, Acc]
    private val ended = new java.util.concurrent.CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach {
        case "end" => ended.countDown()
        case phase =>
          val last = e.stageInfos.maxByOption(_.stageId)
          val site = last.flatMap(_.details.linesIterator.map(_.trim)
            .find(f => f.startsWith("graft.") && !f.startsWith("graft.tools.Profile")))
            .orElse(last.map(_.name)).getOrElse("")
          val acc = new Acc(e.jobId, phase, site, e.time)
          jobs(e.jobId) = acc
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, acc))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { a =>
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }

    def awaitEnd(): Seq[Job] = {
      require(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job within 60 s")
      jobs.values.toSeq.map(a => Job(a.id, a.phase, a.callSite, (a.endMs - a.startMs) / 1e3,
        a.stages, a.tasks, a.runMs / 1e3, a.shuffleRead, a.shuffleWrite))
    }
  }

  /** Runs `query` once under a job listener and attributes its time. */
  def attrib(spark: SparkSession, sfDir: String, query: String): Attribution = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    def phase[T](name: String)(body: => T): (T, Double) = {
      sc.setLocalProperty(PhaseKey, name)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally sc.setLocalProperty(PhaseKey, null)
    }
    try {
      val t0 = System.nanoTime()
      val (df, constructS) = phase("construct")(SparkEntry.queries(query)(spark, sfDir))
      val (_, execS) = phase("exec")(noop(df))
      val wallS = (System.nanoTime() - t0) / 1e9
      // Sentinel: a job over zero partitions posts its start event
      // without running a task, behind every event of the query's jobs.
      phase("end")(sc.emptyRDD[Int].count())
      Attribution(query, constructS, execS, wallS, listener.awaitEnd())
    } finally sc.removeSparkListener(listener)
  }

  private def report(a: Attribution): Unit = {
    println(f"${a.query}  construct ${a.constructS}%.3f s  exec ${a.execS}%.3f s" +
      f"  wall ${a.wallS}%.3f s  jobs ${a.jobs.size}")
    println(f"  ${"job"}%5s ${"phase"}%-9s ${"secs"}%7s ${"stages"}%6s ${"tasks"}%6s " +
      f"${"run_s"}%7s ${"shuf_read_B"}%12s ${"shuf_write_B"}%12s  call site")
    a.jobs.foreach { j =>
      println(f"  ${j.id}%5d ${j.phase}%-9s ${j.seconds}%7.3f ${j.stages}%6d ${j.tasks}%6d " +
        f"${j.executorRunS}%7.3f ${j.shuffleReadBytes}%12d ${j.shuffleWriteBytes}%12d  ${j.callSite}")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "time" :: sfDir :: queries =>
        noop(graft.Tables.t(spark, sfDir, "region")) // warmup
        queries.foreach { q =>
          val fn = SparkEntry.queries(q)
          time(q)(noop(fn(spark, sfDir)))
          time(s"$q (2nd)")(noop(fn(spark, sfDir)))
        }
      case "attrib" :: sfDir :: queries =>
        // Name a query twice to see its warm second run.
        noop(graft.Tables.t(spark, sfDir, "region")) // warmup
        queries.foreach(q => report(attrib(spark, sfDir, q)))
      case "explaindump" :: sfDir :: outDir :: queries =>
        // Dump formatted plans for several queries to <outDir>/<q>.txt —
        // the plans/r19 evidence trail (one JVM for the whole batch).
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        queries.foreach { q =>
          val txt = SparkEntry.queries(q)(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"$q.txt"), txt)
          println(s"dumped $q (${txt.length} chars)")
        }
      case "explain" :: sfDir :: q :: Nil =>
        println(SparkEntry.queries(q)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      case other =>
        System.err.println(s"Unknown args: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
