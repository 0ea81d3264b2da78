package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer call made by the benchmark. Spans of one operation
  * share `op`; `parent` is the enclosing span (0 at the root). Times
  * are monotonic nanos. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      t0: Long, t1: Long) {
  def durNs: Long = t1 - t0
}

/** In-memory span recorder; written out once, when the run ends. When
  * disabled, [[span]] runs its body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, op)

  def span[T](name: String, layer: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      val parent = st.headOption.map(_._1).getOrElse(0L)
      val opId = if (op >= 0) op else st.headOption.map(_._2).getOrElse(id)
      stack.set((id, opId) :: st)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(st)
        spans.add(Span(id, parent, opId, name, layer, t0, System.nanoTime()))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ns: each span's duration minus the part of
    * its interval covered by its children. */
  def selfNsByLayer: Map[String, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.durNs).sum
      s.layer -> math.max(0L, s.durNs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counts the benchmark collects with its own listeners: a
  * [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] for the analysis, optimization and
  * planning phases of every executed query. Events are attributed to a
  * time window by their wall-clock times, which is unambiguous when one
  * client drives the program. */
final class Ledger(spark: SparkSession) {
  final case class Job(submit: Long, stages: Seq[Int])
  final case class Task(stage: Int, cpuNs: Long, shuffleBytes: Long, outBytes: Long)
  final case class Query(end: Long, execNs: Long, analysisMs: Long, optimizeMs: Long, planMs: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.time, e.stageIds))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.stageId, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.outputMetrics.bytesWritten))
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      // the listener is called asynchronously: time the query by the end
      // of its planning phase, which runs when the action starts
      val at = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      queries.add(Query(at, durationNs, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Wall-clock millis when the listeners were registered. */
  @volatile var startedAt: Long = Long.MaxValue

  def start(): this.type = {
    startedAt = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    this
  }

  def stop(): Unit = {
    // listener events are delivered asynchronously; give the bus time
    // to drain before the counts are read
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Totals for events inside the wall-clock windows `ws` (inclusive). */
  final case class Counts(jobs: Int, tasks: Int, cpuMs: Double, shuffleBytes: Long, outBytes: Long,
                          analysisMs: Double, optimizeMs: Double, planMs: Double, execMs: Double)

  def counts(ws: Seq[(Long, Long)]): Counts = {
    val sorted = ws.sortBy(_._1).toArray
    def inside(t: Long): Boolean = {
      var lo = 0; var hi = sorted.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._2 < t) lo = mid + 1
        else if (sorted(mid)._1 > t) hi = mid - 1
        else return true
      }
      false
    }
    val js = jobs.asScala.filter(j => inside(j.submit)).toSeq
    val stages = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages(t.stage)).toSeq
    val qs = queries.asScala.filter(q => inside(q.end)).toSeq
    Counts(js.size, ts.size, ts.map(_.cpuNs).sum / 1e6, ts.map(_.shuffleBytes).sum, ts.map(_.outBytes).sum,
      qs.map(_.analysisMs).sum.toDouble, qs.map(_.optimizeMs).sum.toDouble, qs.map(_.planMs).sum.toDouble,
      qs.map(_.execNs).sum / 1e6)
  }
}
