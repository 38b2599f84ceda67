package graft.dev

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only: run named queries through the noop sink and report how many
  * Spark JOBS each launched (eager checkpoints/counts/collects included)
  * — the evidence `.explain` cannot show for checkpoint-backed loops,
  * where an optimization removes build jobs but leaves the final plan
  * identical (guide §1: measure the thing you changed). A staged
  * query's prepare is counted apart as `build_jobs`.
  *
  * Usage: sbt "Test/runMain graft.dev.JobCountProbe [sfDir] <query ...>"
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.tail.toSeq
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    // listener events are async: drain the bus before reading a count
    def counted(body: => Unit): Int = {
      jobs.set(0)
      body
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      jobs.get()
    }
    names.foreach { n =>
      val q = graft.Registry.byName(n)
      // the build is counted apart, like Bench times it apart: `jobs`
      // is what `sec` times, `build_jobs` what the prepare launched
      val buildJobs = counted(q.prepare.foreach(p => p(spark, sfDir)))
      val t0 = System.nanoTime()
      val runJobs = counted {
        val df = q.run(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        graft.operators.Lineage.release(df, blocking = true)
      }
      println(f"[jobcount] $n%-40s build_jobs=$buildJobs%3d jobs=$runJobs%3d wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    spark.stop()
  }
}
