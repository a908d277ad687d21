package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Per-query job census (dev tool, not part of the driver contract):
  * warm each named query at sf0.001, then run it once at the target
  * SF with a listener recording every job's wall clock and the total
  * executor task time — the "is this query job-count-bound or
  * compute-bound" question the optimization rounds keep asking — and
  * the Janino compilations the measured run paid (generated code that
  * missed Spark's compiled-code cache after the warm-up: a per-call
  * code variant, or a cache too small for the working set).
  * Usage: `runMain graft.tools.JobCensus <sfDir> <queryName>...` */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("GRAFT_CENSUS_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cores = cores, shufflePartitions = cores)
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.LevenshteinThreshold.install(spark)
    args.drop(1).foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, "/root/testdata/sf0.001").count()
      val jobs = scala.collection.mutable.ArrayBuffer[(Int, Long, String)]()
      val starts = scala.collection.mutable.Map[Int, (Long, String)]()
      val taskTime = new java.util.concurrent.atomic.AtomicLong()
      val nTasks = new java.util.concurrent.atomic.AtomicInteger()
      val stages = scala.collection.mutable.ArrayBuffer[(Int, Long, Int, String)]()
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          starts.synchronized {
            starts(j.jobId) = (j.time, Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse(""))
          }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          starts.synchronized {
            starts.remove(j.jobId).foreach { case (t0, d) =>
              jobs += ((j.jobId, j.time - t0, d))
            }
          }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          if (t.taskMetrics != null)
            taskTime.addAndGet(t.taskMetrics.executorRunTime)
          nTasks.incrementAndGet()
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          stages.synchronized {
            stages += ((s.stageInfo.stageId,
              s.stageInfo.taskMetrics.executorRunTime,
              s.stageInfo.numTasks, s.stageInfo.name))
          }
      }
      spark.sparkContext.addSparkListener(l)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      Thread.sleep(500) // listener bus drain
      spark.sparkContext.removeSparkListener(l)
      println(f"[census] $n%s wall=$wall%.2f s jobs=${jobs.size}%d " +
        f"tasks=${nTasks.get}%d compiles=$compiles%d " +
        f"taskTime=${taskTime.get / 1000.0}%.1f s")
      jobs.sortBy(-_._2).take(20).foreach { case (id, ms, d) =>
        println(f"[census]   job#$id%-4d $ms%6d ms  $d%s")
      }
      stages.sortBy(-_._2).take(15).foreach { case (id, ms, nt, nm) =>
        println(f"[census]   stage#$id%-4d ${ms}%6d task-ms $nt%4d tasks  ${nm.take(100)}%s")
      }
    }
    spark.stop()
  }
}
