package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: spans the harness records around each
  * call into a layer, and the counters of three listeners.
  *
  * Spans are kept in memory (one client thread, so a stack gives each
  * span its parent) and written out when the run ends. When tracing is
  * off, [[span]] only runs its body.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
    /** Wall-clock milliseconds, comparable with Spark's event times. */
    def startMs: Double = toEpochMs(startNs)
    def endMs: Double = toEpochMs(endNs)
  }

  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Drop what warm-up recorded; the timed phase starts clean. */
  def clear(): Unit = spans.clear()

  /** Self time per span name: each span's duration minus the part its
    * children cover (children run nested and one at a time).
    */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  // ---- listeners ----

  /** Scheduler and task counters, plus each job's wall interval. */
  object Jobs extends SparkListener {
    val jobs, stages, tasks = new AtomicLong
    val schedulerDelayMs, executorRunMs, executorCpuNs = new AtomicLong
    val shuffleWriteB, shuffleReadB, spillB, inputB, resultB = new AtomicLong
    private val open = mutable.Map.empty[Int, Long]
    private val done = mutable.ArrayBuffer.empty[(Long, Long)]

    def reset(): Unit = synchronized {
      Seq(jobs, stages, tasks, schedulerDelayMs, executorRunMs, executorCpuNs,
        shuffleWriteB, shuffleReadB, spillB, inputB, resultB).foreach(_.set(0))
      open.clear()
      done.clear()
    }

    /** (start, end) epoch milliseconds of every finished job. */
    def intervals: Seq[(Long, Long)] = synchronized(done.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      open(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(t0 => done += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        schedulerDelayMs.addAndGet(math.max(0L, info.duration - overhead - info.gettingResultTime))
        executorRunMs.addAndGet(m.executorRunTime)
        executorCpuNs.addAndGet(m.executorCpuTime)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadB.addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        spillB.addAndGet(m.diskBytesSpilled)
        inputB.addAndGet(m.inputMetrics.bytesRead)
        resultB.addAndGet(m.resultSize)
      }
      ()
    }
  }

  /** Planning phases of every executed action, from
    * `QueryExecution.tracker`.
    */
  object Plans extends QueryExecutionListener {
    val analysisMs, optimizerMs, physicalMs = new AtomicLong

    def reset(): Unit = Seq(analysisMs, optimizerMs, physicalMs).foreach(_.set(0))

    private def add(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizerMs.addAndGet(ms("optimization"))
      physicalMs.addAndGet(ms("planning"))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(qe)
  }

  /** Micro-batch progress of streaming queries. */
  object Streams extends StreamingQueryListener {
    private val triggerMs = mutable.ArrayBuffer.empty[Long]
    private var rows = 0L

    def reset(): Unit = synchronized { triggerMs.clear(); rows = 0L }

    /** (trigger durations in seconds, input rows). */
    def snapshot: (Seq[Double], Long) = synchronized((triggerMs.map(_ / 1e3).toSeq, rows))

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        Option(p.durationMs.get("triggerExecution")).foreach(d => triggerMs += d.longValue)
        rows += p.numInputRows
      }
  }

  /** Register the three listeners on `spark`, once per session. They
    * are added together, so the streaming listener's presence marks a
    * session that already has all three.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.streams.listListeners().contains(Streams)) {
      spark.sparkContext.addSparkListener(Jobs)
      spark.listenerManager.register(Plans)
      spark.streams.addListener(Streams)
    }
  }

  def resetCounters(): Unit = {
    Jobs.reset()
    Plans.reset()
    Streams.reset()
  }
}
