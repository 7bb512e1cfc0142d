package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.engine.Layout
import graft.ops.{Clean, Ingest, Stats}

/** The paper's path, Bronze → Silver → compaction → Gold → CSV export,
  * as an incremental pipeline, with registry queries read between
  * batches.
  *
  * Set-up is the backfill, `coins × days` hourly ticks from
  * `Ingest.generate` through every step, and `warmBatches` untimed
  * batches, beside `warmPasses` untimed passes of the queries, so the
  * window opens on paths the JIT has compiled (on a 4-core host query
  * times level off from their third run; fewer warm batches left a
  * falling trend in the window and a wider run-to-run spread).
  * A timed step is one write op, an incremental batch (the last day
  * re-delivered with corrections of some ticks, and one new day) timed
  * from generation until `Final_Report.csv` is written, then one read op
  * for each of the next `queriesPerStep` queries of a series of
  * [[QueryPass]] passes.
  */
final class Medallion(spark: SparkSession, tracer: Tracer, seed: Long,
                      data: String, work: String, coins: Int = 100,
                      days: Int = 4, warmBatches: Int = 3, warmPasses: Int = 2,
                      queriesPerStep: Int = 5) extends Workload {

  private val StartEpoch = 1704067200L // 2024-01-01T00:00:00Z
  private val ClusterCols = Seq("symbol", "current_price", "market_cap")
  private val root = s"$work/medallion"
  private val report = s"$root/Final_Report.csv"

  private var batches = 0
  private val stats = new StepStats
  private val queries = new QueryPass(spark, tracer, seed, data, work)

  private def dayString(d: Int): String =
    java.time.LocalDate.ofEpochDay(StartEpoch / 86400 + d).toString

  /** Day `d` of ticks as first delivered. */
  private def delivery(d: Int, nDays: Int, s: Long): DataFrame =
    Ingest.generate(spark, coins, nDays, StartEpoch + d * 86400L, s)

  /** Day `d` sent again an hour after its first delivery, plus a
    * correction of a quarter of its ticks a day later: Bronze then holds
    * two versions of those ticks, and Silver must keep the correction. */
  private def redelivery(d: Int, s: Long): DataFrame = {
    val resent = delivery(d, 1, s)
      .withColumn("_ingested_at", col("_ingested_at") + expr("INTERVAL 1 HOUR"))
    val corrected = delivery(d, 1, s + 1)
      .filter(pmod(hash(col("id"), col("last_updated"), lit(s)), lit(4)) === 0)
      .withColumn("_ingested_at", col("_ingested_at") + expr("INTERVAL 1 DAY"))
    resent.unionByName(corrected)
  }

  /** The input of batch `b` (1-based): day `days + b - 2` again, day
    * `days + b - 1` new. */
  private def batchInput(b: Int): DataFrame =
    redelivery(days + b - 2, seed * 1000 + 3 * b)
      .unionByName(delivery(days + b - 1, 1, seed * 1000 + 3 * b + 2))

  private def backfillInput: DataFrame = delivery(0, days, seed)

  /** One pass of the pipeline over `input`, touching `dates`, with
    * paths under `dir`. Each step is one span. */
  private def pipeline(input: DataFrame, dates: Seq[String], dir: String,
                       count: Boolean): Unit = {
    val (br, sv, gd, csv) = (s"$dir/bronze", s"$dir/silver", s"$dir/gold",
      s"$dir/Final_Report.csv")
    val arrived = tracer.span("ops.Ingest.generate") {
      val df = input.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val dateFilter = col("partition_date").isin(dates: _*)
    tracer.span("engine.Layout.upsertPartitions") {
      Layout.upsertPartitions(Layout.colocated(arrived), br)
    }
    arrived.unpersist()
    val bronzeStats = if (count) Some(partStats(br, dates)) else None
    tracer.span("ops.Clean.silver") {
      val deduped = Clean.dedupLatest(
        spark.read.parquet(br).filter(dateFilter),
        Seq("id", "last_updated"), "_ingested_at")
      Layout.upsertPartitions(
        Layout.colocated(Clean.silverCasts(deduped, "current_price", "market_cap")), sv)
    }
    val silverStats = if (count) Some(partStats(sv, dates)) else None
    tracer.span("engine.Layout.compactPartitions") {
      Layout.compactPartitions(spark, sv, ClusterCols, dates)
    }
    val compactStats = if (count) Some(partStats(sv, dates)) else None
    tracer.span("ops.Stats.dailyTopKStats") {
      val g = Stats.dailyTopKStats(spark.read.parquet(sv).filter(dateFilter),
        "partition_date", col("total_volume"), "market_cap", "current_price")
      Layout.upsertPartitions(g.repartition(col("partition_date")), gd)
    }
    tracer.span("engine.Layout.singleCsv") {
      Layout.singleCsv(spark.read.parquet(gd).orderBy("partition_date"), csv)
    }
    if (count) {
      val (bf, bb, brows) = bronzeStats.get
      val (sf, sb, srows) = silverStats.get
      val (cf, cb, _) = compactStats.get
      val (_, gb, _) = partStats(gd, dates)
      val csvBytes = new java.io.File(csv).length()
      stats.add(bf, bb, srows.toDouble / math.max(1L, brows), sf, cf, cb,
        (bb + sb + cb + gb + csvBytes).toDouble / math.max(1L, bb))
    }
  }

  /** (files, bytes, rows) over the partitions of `dates`. */
  private def partStats(path: String, dates: Seq[String]): (Long, Long, Long) =
    dates.map(d => Layout.parquetStats(spark, s"$path/partition_date=$d"))
      .foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }

  /** The backfill and the untimed batches, beside the queries' warm-up
    * passes. The Gold check after the window covers these batches too. */
  def setup(): Map[String, Any] = {
    val ((backfillS, warmBatchOps), warm) = Main.inParallel({
      val t0 = System.nanoTime()
      pipeline(backfillInput, (0 until days).map(dayString), root, count = false)
      val s = (System.nanoTime() - t0) / 1e9
      (s, (1 to warmBatches).map(_ => batch()))
    }, queries.setup(warmPasses))
    val rows = coins.toLong * days * 24
    Map("backfill_rows" -> rows, "backfill_s" -> backfillS,
      "rows_per_s" -> rows / backfillS, "coins" -> coins, "days" -> days,
      "warmup_failed" -> (warm("warmup_failed").asInstanceOf[Seq[String]] ++
        warmBatchOps.filterNot(_.ok).map(o => o.name + ": " + o.detail))) ++
      (warm - "warmup_failed")
  }

  /** One batch, then the next queries. */
  def step(): Seq[Op] = batch() +: queries.run(queries.next(queriesPerStep))

  private def batch(): Op = {
    batches += 1
    val b = batches
    val dates = Seq(dayString(days + b - 2), dayString(days + b - 1))
    Main.timed("write", "batch") {
      pipeline(batchInput(b), dates, root, count = tracer.enabled)
      true
    }
  }

  override def counts(): Map[String, Any] = stats.toMap

  /** Gold from the files equals `Stats.dailyTopKStats` over the
    * generated input deduplicated in memory: every delivery unioned,
    * the latest `_ingested_at` per (id, last_updated) kept. */
  def check(): Map[String, Any] = {
    checkGold() ++ queries.check()
  }

  private def checkGold(): Map[String, Any] = {
    val all = (1 to batches).map(batchInput).foldLeft(backfillInput)(_ unionByName _)
    val latest = all.withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id", "last_updated")
          .orderBy(col("_ingested_at").desc)))
      .filter(col("_rk") === 1).drop("_rk")
      .withColumn("current_price", col("current_price").cast(DecimalType(18, 8)))
      .withColumn("market_cap", col("market_cap").cast(DecimalType(20, 2)))
    val expected = Stats.dailyTopKStats(latest, "partition_date",
      col("total_volume"), "market_cap", "current_price")
    // the report's columns are in the Gold table's order (partition
    // column last): read them as text and select by name
    val got = spark.read.option("header", "true").csv(report)
      .select(expected.schema.map(f => col(f.name).cast(f.dataType)): _*)
    // Gold is one row per date: compare in memory
    val want = expected.collect().map(_.toSeq).toSeq
    val have = got.collect().map(_.toSeq).toSeq
    val (nExpected, nGot) = (want.size.toLong, have.size.toLong)
    val missing = want.diff(have).size
    val extra = have.diff(want).size
    val ok = nExpected == days + batches && nGot == nExpected &&
      missing == 0 && extra == 0
    Map("gold_ok" -> ok, "gold_rows" -> nGot, "gold_expected_rows" -> nExpected,
      "gold_missing" -> missing, "gold_extra" -> extra, "batches" -> batches)
  }
}

/** Per-batch counts of the medallion steps, averaged over the traced
  * batches. */
final class StepStats {
  private var n = 0
  private val sums = Array.fill(7)(0.0)
  def add(bronzeFiles: Long, bronzeBytes: Long, keptRatio: Double,
          filesBefore: Long, filesAfter: Long, bytesRewritten: Long,
          writeAmp: Double): Unit = {
    n += 1
    Seq(bronzeFiles.toDouble, bronzeBytes.toDouble, keptRatio,
      filesBefore.toDouble, filesAfter.toDouble, bytesRewritten.toDouble,
      writeAmp).zipWithIndex.foreach { case (v, i) => sums(i) += v }
  }
  def toMap: Map[String, Any] =
    if (n == 0) Map.empty
    else Seq("engine.Layout.upsertPartitions.files",
        "engine.Layout.upsertPartitions.bytes", "ops.Clean.kept_ratio",
        "engine.Layout.compactPartitions.files_before",
        "engine.Layout.compactPartitions.files_after",
        "engine.Layout.compactPartitions.bytes_rewritten",
        "engine.Layout.write_amp")
      .zip(sums.map(_ / n)).toMap
}
