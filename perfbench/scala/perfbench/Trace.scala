package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's layers, with
  * the Spark work each span caused.
  *
  * A span is opened on the benchmark's single client thread; its id is
  * set as a Spark local property, so every job submitted inside it
  * (also from threads the program starts there, which inherit local
  * properties) is attributed to the innermost open span. Task metrics
  * reach the span through the job's stages. A SQL execution reaches the
  * span that was open when its planning ended (spans nest on one
  * thread, so that span is unique). Spans and counters live in memory
  * until [[report]].
  *
  * Until [[start]], [[span]] only runs its body: the bookkeeping and
  * the listeners exist only in a traced window.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  // (planning end, epoch ms; duration s; analysis+optimization+planning s)
  private val sqlEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double)]()

  private def at(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      at(span).synchronized { at(span).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = at(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = at(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // SQL actions and their analysis, optimization and planning phase times
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val at = if (phases.isEmpty) -1L else phases.values.map(_.endTimeMs).max
      sqlEvents.add((at, durationNs / 1e9, phases.values.map(_.durationMs).sum / 1e3))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
  }

  private var on = false
  def enabled: Boolean = on

  /** Attaches the listeners; spans are recorded from here on. */
  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Marks the timed op the following spans belong to. */
  def beginOp(op: Int): Unit = currentOp = op

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
        spans += SpanRec(id, parent, name, currentOp, t0, t1, ms0,
          System.currentTimeMillis())
      }
    }

  /** Waits for the listener bus, detaches the listeners and returns one
    * record per span: timing plus the Spark counters attributed to it. */
  def report(): Seq[Map[String, Any]] = {
    if (!on) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    sqlEvents.forEach { e =>
      val (t, durS, planS) = e
      // the innermost span open at time t is the latest-started one
      val owner = spans.filter(s => s.startMs <= t && t <= s.endMs)
        .maxByOption(_.startNs).map(_.id).getOrElse(-1)
      val c = at(owner)
      c.sqlActions += 1
      c.sqlS += durS
      c.catalystS += planS
    }
    spans.toSeq.sortBy(_.id).map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++
        c.toMap
    }
  }

  /** Counters not attributed to any span (jobs outside the timed ops). */
  def unattributed: Map[String, Any] =
    Option(counters.get(-1)).map(_.toMap).getOrElse(Map.empty)
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, name: String, op: Int,
                           startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, gcMs = 0L
    var inputBytes, outputBytes, shuffleReadBytes, shuffleWriteBytes,
        spillBytes = 0L
    var sqlActions = 0L
    var sqlS, catalystS = 0.0

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
      "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "sql_actions" -> sqlActions,
      "sql_s" -> sqlS, "catalyst_s" -> catalystS)
  }
}
