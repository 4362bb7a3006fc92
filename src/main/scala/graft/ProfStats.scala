package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round profiler: per query, wall seconds plus scheduler
  * counters (jobs, stages, tasks, summed task time, shuffle bytes) from a
  * SparkListener — separates fixed per-job/stage overhead from real
  * compute so an optimization targets the right thing (guide §1) — and the
  * Catalyst analysis/optimization/planning times from the query's
  * QueryPlanningTracker, which separate driver planning cost from execution.
  *
  * Usage: sbt "runMain graft.ProfStats <query> [query ...]"   (or ALL)
  */
object ProfStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions
      .builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-profstats")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.isEmpty || args(0) == "ALL") SparkEntry.queries.keys.toList.sorted
      else args.toList
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    val shufWrite = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        ()
      }
    })
    // counters attribute to the FASTER of two timed reps (same min-of-N
    // discipline as Bench: a one-off GC/JIT spike after a heavy
    // predecessor otherwise reads as the query's own cost — observed 13.3s
    // vs 1.3s for asof_join in a full-board sweep)
    println("query,wall_s,jobs,stages,tasks,task_time_s,gc_s,shuffle_read_mb,shuffle_write_mb," +
      "analysis_ms,optimization_ms,planning_ms")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profstats] unknown query: $name")
        case Some(fn) =>
          try {
            // warm-up rep (discarded), same discipline as Bench
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val measured = (1 to 2).map { _ =>
              // settle the listener queue so counters attribute here
              Thread.sleep(200)
              jobs.set(0); stages.set(0); tasks.set(0)
              taskMs.set(0); gcMs.set(0); shufRead.set(0); shufWrite.set(0)
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              df.write.format("noop").mode("overwrite").save()
              val dt = (System.nanoTime() - t0) / 1e9
              Thread.sleep(200)
              (dt, jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
                shufRead.get, shufWrite.get, df)
            }.minBy(_._1)
            val (dt, j, st, tk, tm, gc, sr, sw, df) = measured
            // the write plans its own copy of the query, so plan `df` too,
            // after the counters are read, for its Catalyst phase times
            df.queryExecution.executedPlan
            val phases = df.queryExecution.tracker.phases
            def ms(k: String): Long =
              phases.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(-1L)
            println(f"$name,$dt%.3f,$j,$st,$tk,${tm / 1000.0}%.2f,${gc / 1000.0}%.2f," +
              f"${sr / 1048576.0}%.2f,${sw / 1048576.0}%.2f," +
              s"${ms("analysis")},${ms("optimization")},${ms("planning")}")
          } catch {
            case e: Exception =>
              System.err.println(s"[profstats] FAILED $name: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
