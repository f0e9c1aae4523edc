package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, GraftSession, QueryProfile, SparkEntry}

/** Where a bench row's time goes. Each query is warmed up, then one
  * noop-sink run is timed under [[QueryProfile]], as Bench times it. Prints
  * the run's jobs ("@" is the start offset from the run's start, so the
  * space between one job's end and the next's start is driver time), its
  * stages by spill (each with its phase in brackets, the description of
  * the job that ran it, then its call-site name),
  * the totals and the AQE-final executed plan. Given a plan directory, it
  * also writes `explain("formatted")` of the query, the pre-execution plan,
  * to `<planDir>/<q>_<suffix>.txt`: the `plans/rN` evidence.
  *
  * Usage: runMain graft.tools.Profile <q1,q2,...> [sfDir] [planDir suffix]
  * Diagnostic main; not part of the library surface.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val planOut = if (args.length > 3) Some((args(2), args(3))) else None
    val spark = GraftSession.local()
    try names.foreach { q =>
      try profile(spark, q, sfDir, planOut)
      catch { case e: Throwable =>
        System.err.println(s"[profile] $q FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    } finally spark.stop()
  }

  def profile(spark: SparkSession, q: String, sfDir: String,
              planOut: Option[(String, String)] = None): QueryProfile.Run = {
    val fn = (SparkEntry.queries ++ Bench.benchOnlyQueries)(q)
    val listener = QueryProfile.attach(spark)
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Bench.quiesce()
      // timed as Bench times it: building the DataFrame runs jobs too
      var df: DataFrame = null
      val run = listener.record {
        df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
      }
      def mb(b: Long) = b / 1048576.0
      run.jobs.foreach(j => println(f"job ${j.id}%4d  @ ${(j.startMs - run.startMs) / 1e3}%6.2fs  " +
        f"${(j.endMs - j.startMs) / 1e3}%6.2fs  ${j.description}"))
      run.stages.sortBy(s => (-s.spillBytes, s.id)).take(25).foreach(s => println(
        f"stage ${s.id}%4d spillMB=${mb(s.spillBytes)}%9.1f shWriteMB=${mb(s.shuffleWriteBytes)}%8.1f " +
          f"shReadMB=${mb(s.shuffleReadBytes)}%8.1f tasks=${s.tasks}%4d [${s.phase}] ${s.name.take(120)}"))
      println(f"[profile] $q wall ${run.wallS}%.2fs, ${run.jobs.size} jobs, ${run.stages.size} stages, " +
        f"task ${run.taskS}%.2fs, driver gap ${run.driverGapS}%.2fs, shuffle ${mb(run.shuffleBytes)}%.2f MB, " +
        f"spill ${mb(run.spillBytes)}%.2f MB, ${run.exchanges} Exchange, ${run.reusedExchanges} ReusedExchange")
      println("=== EXECUTED PLAN (final) ===")
      listener.finalPlan.foreach(println)
      planOut.foreach { case (dir, suffix) =>
        val path = Files.createDirectories(Paths.get(dir)).resolve(s"${q}_$suffix.txt")
        Files.writeString(path, df.queryExecution.explainString(FormattedMode))
        println(s"[profile] wrote $path")
      }
      run
    } finally {
      listener.detach()
      SparkEntry.releaseCaches()
    }
  }
}
