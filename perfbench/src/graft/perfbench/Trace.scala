package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered from outside the engine, only in a traced
  * run: a SparkListener (jobs, stages, tasks, shuffle, spill), a
  * QueryExecutionListener (Catalyst phase times from each executed
  * query's planning tracker) and a StreamingQueryListener (micro-batch
  * progress). Events arrive on Spark's listener bus, so readers call
  * [[quiesce]] first. Only events that start at or after [[from]] count. */
final class Trace(spark: SparkSession) {
  @volatile var from: Long = Long.MaxValue
  private var lastEvent = System.currentTimeMillis()

  val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)] // id, start ms, call site
  val jobEnds = mutable.Map.empty[Int, Long]
  var stages, tasks, failedTasks = 0L
  var taskMs, serialStageMs, shuffleWrite, shuffleRead, spill = 0L
  val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val progress = mutable.ArrayBuffer.empty[(String, Map[String, Long], Long)]
  val stateRows = mutable.Map.empty[String, Long]

  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      touch()
      if (e.time >= from) {
        // the result stage is created last and is named after the job's call site
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobs += ((e.jobId, e.time, site))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      touch(); jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      touch()
      val i = e.stageInfo
      if (i.submissionTime.exists(_ >= from)) {
        stages += 1
        if (i.numTasks == 1)
          serialStageMs += i.completionTime.getOrElse(0L) - i.submissionTime.get
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      touch()
      if (e.taskInfo != null && e.taskInfo.launchTime >= from) {
        tasks += 1
        if (!e.taskInfo.successful) failedTasks += 1
        taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.this.synchronized {
      touch()
      qe.tracker.phases.foreach { case (p, s) =>
        if (s.startTimeMs >= from) phases(p) += s.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        touch()
        val p = e.progress
        if (java.time.Instant.parse(p.timestamp).toEpochMilli >= from) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          progress += ((p.runId.toString, d, p.numInputRows))
          stateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has been quiet for a while and every
    * counted job has ended (bounded, so a lost event cannot hang a run). */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def done = synchronized {
      System.currentTimeMillis() - lastEvent > 300 && jobs.forall(j => jobEnds.contains(j._1))
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def jobsIn(lo: Long, hi: Long): Seq[(Int, Long, String)] =
    synchronized(jobs.filter(j => j._2 >= lo && j._2 < hi).toSeq)
}
