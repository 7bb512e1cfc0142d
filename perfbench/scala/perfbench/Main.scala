package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call into the program. `kind` is `write` (a medallion
  * batch, an index append or forget) or `read` (a registry query, a
  * probe join); `name` the batch, query or verb; `ok` is false when the
  * call threw or its result failed an inline check. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
                    detail: String = "")

/** A workload as the closed-loop client sees it: set up (untimed),
  * then steps until the window closes, then checks (untimed). */
trait Workload {
  /** Builds inputs, fixtures and warm-up state; returns facts about the
    * set-up worth recording (sizes, phase times). */
  def setup(): Map[String, Any]
  /** Runs the next few ops; the window closes between steps. */
  def step(): Seq[Op]
  /** Output checks after the window; returns named results. */
  def check(): Map[String, Any]
  /** Counts read from the program's reports and from disk (traced run). */
  def counts(): Map[String, Any] = Map.empty
}

/** Runs one benchmark run and writes its results file. Arguments:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --data <dir> --work <dir> --out <file> --cores <n>`.
  * The caller generates `--data`; everything written goes under `--work`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cores = a.get("cores").map(_.toInt).getOrElse(4)
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val wl: Workload = workload match {
      case "medallion" => new Medallion(spark, tracer, seed, a("data"), work)
      case "index_lifecycle" => new IndexLifecycle(spark, tracer, seed, a("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupInfo = wl.setup()
    settle(spark)

    val firstOpMs = System.currentTimeMillis()
    val window = runWindow(wl, tracer, seconds)
    settle(spark)
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    // a traced run measures a second, traced window after the untraced
    // one; the difference between the two is the tracing overhead
    val tracedWindow = if (!traced) None else {
      tracer.start()
      Some(runWindow(wl, tracer, seconds))
    }
    val spans = tracer.report()
    val counts = if (traced) wl.counts() else Map.empty[String, Any]
    val c0 = System.nanoTime()
    val checks = wl.check() + ("check_s" -> (System.nanoTime() - c0) / 1e9)

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionMs,
      "first_op_ms" -> firstOpMs,
      "retained_heap_mb" -> heapMb,
      "setup" -> setupInfo,
      "window" -> window,
      "traced_window" -> tracedWindow,
      "checks" -> checks,
      "counts" -> counts,
      "spans" -> spans,
      "unattributed" -> tracer.unattributed)
    Files.write(Paths.get(a("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Steps the workload until `seconds` have passed; the step in flight
    * when time runs out completes and counts. */
  private def runWindow(wl: Workload, tracer: Tracer, seconds: Double): Map[String, Any] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      tracer.beginOp(ops.size)
      ops ++= wl.step()
    }
    Map("window_s" -> (System.nanoTime() - t0) / 1e9,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "s" -> o.seconds, "ok" -> o.ok, "detail" -> o.detail)))
  }

  /** Frees the program's tracked caches and collects garbage, so state
    * from set-up or the window does not carry into what follows. */
  private def settle(spark: SparkSession): Unit = {
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
    // queued listener events hold job and plan data until they land
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    // each collection lets Spark's cleaner release what the previous one
    // showed unreachable: collect until the heap stops shrinking
    val heap = ManagementFactory.getMemoryMXBean
    var before = Long.MaxValue
    var used = heap.getHeapMemoryUsage.getUsed
    var rounds = 0
    while (rounds < 2 || (rounds < 6 && used < before - before / 50)) {
      System.gc()
      Thread.sleep(300)
      before = used
      used = heap.getHeapMemoryUsage.getUsed
      rounds += 1
    }
  }

  /** Runs the bodies on threads of their own and waits for all; used
    * for independent parts of set-up and of the checks, never in the
    * timed window. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fa = Future(a)
      val fb = Future(b)
      (Await.result(fa, 170.seconds), Await.result(fb, 170.seconds))
    } finally pool.shutdownNow()
  }

  /** Times `body`; a throw becomes a failed op, never a crashed run. */
  def timed(kind: String, name: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    try {
      val ok = body
      Op(kind, name, (System.nanoTime() - t0) / 1e9, ok)
    } catch {
      case e: Throwable =>
        Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getName}: ${e.getMessage}".take(300))
    }
  }
}

/** Minimal JSON rendering for the results file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
