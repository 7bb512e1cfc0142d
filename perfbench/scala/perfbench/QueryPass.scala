package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Read-only passes over registry queries, each in a fresh seeded order:
  * the read side of the medallion workload.
  *
  * Each timed op builds one query's DataFrame through
  * `SparkEntry.queries`, plans it and collects its rows, as a client
  * receiving the result would. Each query is tagged with the module its
  * headline operator lives in; in a traced run that module names the
  * op's span, so its self time is the execution outside building and
  * planning. The untimed warm-up pass writes each result under
  * `work/results/<query>` for the oracle check in run.py.
  */
final class QueryPass(spark: SparkSession, tracer: Tracer, seed: Long,
                      data: String, work: String) {
  import QueryPass._

  private val registry = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private val results = s"$work/results"
  private var passes = 0

  /** One query as a client runs it: build, plan, collect the rows. The
    * warm-up pass writes the rows under `results/` instead. */
  private def run(q: String, module: String, write: Boolean): Op =
    Main.timed("read", q) {
      tracer.span(module) {
        val df = tracer.span("registry.build") { registry(q)(spark, data) }
        tracer.span("spark.plan") { df.queryExecution.executedPlan }
        if (write) df.write.mode("overwrite").parquet(s"$results/$q")
        else df.collect()
      }
      true
    }

  private var pending: Seq[(String, String)] = Nil

  /** The queries in a fresh seeded order. */
  def nextPass(): Seq[(String, String)] = {
    passes += 1
    rng.shuffle(Queries)
  }

  /** The next `n` queries of an endless series of passes, each pass in
    * a fresh seeded order. */
  def next(n: Int): Seq[(String, String)] = {
    while (pending.size < n) pending ++= nextPass()
    val (now, later) = pending.splitAt(n)
    pending = later
    now
  }

  /** Timed read ops, one per query; the program's caches are released
    * after each. */
  def run(qs: Seq[(String, String)]): Seq[Op] = qs.map { case (q, module) =>
    val op = run(q, module, write = false)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
    op
  }

  /** Page-cache warm of the inputs, then `warmPasses` untimed passes on
    * two threads; the first writes the results. It runs beside other
    * set-up work, so it releases no caches: the caller does once set-up
    * is over. */
  def setup(warmPasses: Int): Map[String, Any] = {
    val buf = new Array[Byte](1 << 20)
    val files = Files.list(Paths.get(data))
    try files.forEach { p =>
      val in = Files.newInputStream(p)
      try { while (in.read(buf) >= 0) () } finally in.close()
    } finally files.close()
    val t0 = System.nanoTime()
    // each pass is split between the two threads, so no query runs
    // beside itself
    val ops = (1 to warmPasses).flatMap { pass =>
      val (a, b) = nextPass().splitAt(Queries.size / 2)
      val (wa, wb) = Main.inParallel(a.map { case (q, m) => run(q, m, write = pass == 1) },
        b.map { case (q, m) => run(q, m, write = pass == 1) })
      wa ++ wb
    }
    Map("warmup_pass_s" -> (System.nanoTime() - t0) / 1e9,
      "warmup_failed" -> ops.filterNot(_.ok).map(o => o.name + ": " + o.detail),
      "queries" -> Queries.map(_._1))
  }

  /** The oracle SQL of each query; run.py runs it on DuckDB against the
    * same inputs and compares the results of the warm-up pass. */
  def check(): Map[String, Any] =
    Map("results_dir" -> results, "passes" -> passes,
      "oracle_sql" -> Queries.map(_._1).map(q => q -> graft.SparkEntry.oracleSql.get(q)).toMap)
}

object QueryPass {
  /** (registry id, module of its headline operator): one query per
    * module group. The four market queries are bound by planning and
    * job count, the six corpus queries by CPU and shuffle. */
  val Queries: Seq[(String, String)] = Seq(
    "q59_ohlc_bars" -> "ops.Stats",
    "q25_sessionize" -> "ops.Windows",
    "q129_momentum_rank" -> "ops.Risk",
    "q22_asof_join" -> "ops.Joins",
    "q33_simhash_pairs" -> "text.Dedup",
    "q102_heavy_hitters" -> "text.TextStats",
    "q38_embed_neardup" -> "vector.Similarity",
    "q153_phash_banded" -> "multimodal.Media",
    "q204_semantic_clusters" -> "text.Clusters",
    "q212_dsir_resample" -> "text.Curation")
}
