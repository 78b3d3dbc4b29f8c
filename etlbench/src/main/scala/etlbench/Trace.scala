package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted from the listener bus. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    gcMs + o.gcMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** One timed call into a layer. `parent` is -1 for a run's root. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters for the whole session: jobs, tasks, CPU, GC,
  * shuffle and spill per job group (a span sets its group around its
  * call, so a job is attributed to exactly the span that launched it),
  * Catalyst phase time per finished query, and codegen compile time.
  * Always installed; it only reads what Spark already reports.
  */
final class SparkCounters(spark: SparkSession) {
  private val byGroup = mutable.Map.empty[String, Work].withDefaultValue(Work())
  private val stageGroup = mutable.Map.empty[Int, String]
  private var planMs = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronizedUpdate {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
      byGroup(g) += Work(jobs = 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronizedUpdate {
      val g = stageGroup.getOrElse(e.stageId, "")
      val m = e.taskMetrics
      byGroup(g) += (if (m == null) Work(tasks = 1) else Work(tasks = 1,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronizedUpdate {
        planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
      }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def synchronizedUpdate(f: => Unit): Unit = synchronized(f)

  /** Waits for the listener bus, so the counters include every event
    * of work that has returned.
    */
  def drained(): this.type = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    this
  }

  def group(g: String): Work = synchronized(byGroup(g))
  def total: Work = synchronized(byGroup.values.foldLeft(Work())(_ + _))
  def planSeconds: Double = synchronized(planMs / 1e3)
  def codegenSeconds: Double = CodeGenerator.compileTime / 1e9
}

/** In-memory span recorder for the traced run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  var run = 0

  def groupOf(id: Int): String = s"etlbench-span-$id"

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, run, t0, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some((p, n)) => sc.setJobGroup(groupOf(p), n, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Self time per span name over one run: each span's duration minus
    * what its direct children cover, summed by name.
    */
  def selfSeconds(runId: Int): Map[String, Double] = {
    val ss = spans.filter(_.run == runId)
    val childNs = ss.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    ss.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  /** Spark work of every span of `name` in one run. */
  def work(runId: Int, name: String, counters: SparkCounters): Work =
    spans.filter(s => s.run == runId && s.name == name)
      .map(s => counters.group(groupOf(s.id))).foldLeft(Work())(_ + _)

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}
