package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.multimodal.Curate
import graft.text.TextStats
import graft.vector.Similarity

/** Persisted signature, IVFADC and BM25 indexes under appends, probes
  * and forget cycles.
  *
  * Set-up builds the three indexes over `live` seeded documents (each id
  * carries one document text and one embedding), the signature tier
  * beside the other two. A timed step is one cycle: a write op appends a
  * held-out batch of `batch` rows to every tier under fresh ids,
  * `probes` read ops alternate between ANN and BM25 probe joins, and a
  * write op forgets `batch` seeded live ids from every tier under the
  * 0.05 purge policy. The live set stays at `live` rows. With
  * `batch / live` = 6% the masked fraction crosses 0.05 at every forget,
  * so every cycle purges and does the same work.
  */
final class IndexLifecycle(spark: SparkSession, tracer: Tracer, seed: Long,
                           data: String, work: String, live: Int = 300,
                           batch: Int = 18, probes: Int = 2,
                           queriesPerProbe: Int = 4) extends Workload {
  import spark.implicits._
  import IndexLifecycle._

  // in-memory copy of every row, so checks can recompute from it
  private var texts: Array[String] = Array.empty
  private var vectors: Array[Array[Float]] = Array.empty
  private var vocab: Array[String] = Array.empty
  private var main: Tiers = _

  /** One set of the three tiers with its live set and id allocation. */
  private final class Tiers(root: String, nLive: Int, nBatch: Int, s: Long) {
    val sig = s"$root/signature"
    val ann = s"$root/ann"
    val bm25 = s"$root/bm25"
    val rng = new scala.util.Random(s)
    val liveIds = mutable.LinkedHashMap.empty[Long, Int] // id -> row
    private var nextPoolRow = nLive
    private var nextId = 1000000L
    var cycles = 0
    val forgetReports = mutable.ArrayBuffer.empty[Row]
    (0 until nLive).foreach(i => liveIds(i.toLong) = i)

    def docsFrame(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, texts(liveIds(i)))).toDF("doc_id", "text")

    def embFrame(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, vectors(liveIds(i)).toSeq)).toDF("vec_id", "embedding")

    def build(): Unit = {
      val ids = liveIds.keys.toSeq
      Main.inParallel(
        Curate.buildSignatureIndex(spark, docsFrame(ids), "doc_id", "text", sig), {
          Similarity.buildIvfAdcIndex(embFrame(ids), "vec_id", "embedding", ann)
          TextStats.buildBm25Index(docsFrame(ids), "doc_id", "text", bm25,
            nBuckets = Bm25Buckets)
        })
    }

    /** Fresh ids for the next held-out rows; the pool wraps around the
      * rows outside the initial corpus. */
    private def takeBatch(): Seq[Long] = (0 until nBatch).map { _ =>
      val row = nextPoolRow
      nextPoolRow += 1
      if (nextPoolRow >= texts.length) nextPoolRow = nLive
      val id = nextId
      nextId += 1
      liveIds(id) = row
      id
    }

    private def annQueries(): DataFrame =
      (0 until queriesPerProbe).map { q =>
        (-1L - q, vectors(rng.nextInt(vectors.length)).toSeq)
      }.toDF("vec_id", "embedding")

    private def bm25Queries(): DataFrame =
      (0 until queriesPerProbe).map { q =>
        (q.toLong, rng.shuffle(vocab.toSeq).take(3))
      }.toDF("query_id", "terms")

    def cycle(): Seq[Op] = {
      cycles += 1
      val appended = takeBatch()
      val append = Main.timed("write", "append") {
        tracer.span("multimodal.Curate.appendSignatures") {
          Curate.appendSignatures(spark, docsFrame(appended), "doc_id", "text", sig)
        }
        val n = tracer.span("vector.Similarity.appendIvfAdcIndex") {
          Similarity.appendIvfAdcIndex(embFrame(appended), "vec_id", "embedding", ann)
        }
        tracer.span("text.TextStats.appendBm25Index") {
          TextStats.appendBm25Index(docsFrame(appended), "doc_id", "text", bm25)
        }
        n == appended.size
      }
      val probeOps = (0 until probes).map { i =>
        if (i % 2 == 0) {
          val qs = annQueries()
          Main.timed("read", "ivfAdcProbeJoin") {
            val rows = tracer.span("vector.Similarity.ivfAdcProbeJoin") {
              Similarity.ivfAdcProbeJoin(spark, ann, qs, "vec_id", "embedding", K)
                .collect()
            }
            rows.forall(r => liveIds.contains(r.getLong(1)))
          }
        } else {
          val qs = bm25Queries()
          Main.timed("read", "bm25ProbeJoin") {
            val rows = tracer.span("text.TextStats.bm25ProbeJoin") {
              TextStats.bm25ProbeJoin(spark, bm25, qs).collect()
            }
            rows.nonEmpty && rows.forall(r => liveIds.contains(r.getLong(1)))
          }
        }
      }
      val victims = rng.shuffle(liveIds.keys.toVector).take(nBatch)
      victims.foreach(liveIds.remove)
      val forget = Main.timed("write", "forgetAndVerifyAll") {
        val report = tracer.span("multimodal.Curate.forgetAndVerifyAll") {
          Curate.forgetAndVerifyAll(spark, victims.toDF("doc_id"), "doc_id",
            signatureIndexPath = Some(sig), annIndexPath = Some(ann),
            bm25IndexPath = Some(bm25), purgeAboveMaskedFraction = PurgeAbove)
            .collect()
        }
        if (tracer.enabled) forgetReports ++= report
        // the verb's own audit: every tier's fsck green, and nothing
        // pending once the purge ran
        report.length == 3 && report.forall(r =>
          r.getAs[Boolean]("fsck_ok") && r.getAs[Long]("failing_checks") == 0L &&
            (!r.getAs[Boolean]("purged") || r.getAs[Long]("pending_tombstones") == 0L))
      }
      append +: probeOps :+ forget
    }
  }

  def setup(): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    val docs = graft.Tables.documents(spark, data).select("text").as[String].collect()
    val embs = graft.Tables.embeddings(spark, data).select("embedding")
      .as[Seq[Float]].collect().map(_.toArray)
    val n = math.min(docs.length, embs.length)
    require(n > live + batch, s"need more than ${live + batch} rows, have $n")
    texts = rng.shuffle(docs.toVector).take(n).toArray
    vectors = rng.shuffle(embs.toVector).take(n).toArray
    vocab = texts.iterator.flatMap(_.split(" ")).filter(_.nonEmpty).toSet.toArray.sorted
    main = new Tiers(s"$work/index", live, batch, seed)
    val t0 = System.nanoTime()
    main.build()
    Map("build_s" -> (System.nanoTime() - t0) / 1e9, "live_rows" -> live,
      "batch_rows" -> batch)
  }

  def step(): Seq[Op] = main.cycle()

  override def counts(): Map[String, Any] = {
    val m = main
    import m._
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(work),
      spark.sparkContext.hadoopConfiguration)
    val (files, bytes) = Seq(sig, ann, bm25).map { p =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var f = 0L; var b = 0L
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) { f += 1; b += s.getLen }
      }
      (f, b)
    }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val tombstones = Seq(sig, ann, bm25)
      .map(p => graft.engine.Layout.tombstones(spark, p).map(_.count()).getOrElse(0L)).sum
    val forgets = math.max(1, forgetReports.size / 3)
    Map(
      "forget.purges" -> forgetReports.count(_.getAs[Boolean]("purged")).toDouble / forgets,
      "forget.masked_fraction" ->
        forgetReports.map(_.getAs[Double]("masked_fraction")).sum / math.max(1, forgetReports.size),
      "index.bytes_per_live_row" -> bytes.toDouble / liveIds.size,
      "index.files" -> files,
      "tombstones.rows" -> tombstones)
  }

  /** Every forget op checks its own report (see `Tiers.cycle`). After
    * the window a full-width ANN probe join must equal the single-query
    * exhaustive ADC probe and return only live ids, and the BM25 probe
    * join must equal BM25 recomputed from the live documents' text. */
  def check(): Map[String, Any] = {
    val (annOk, (bm25Ok, bm25Rows)) = Main.inParallel(checkAnn(), checkBm25())
    Map("ann_full_width_ok" -> annOk, "bm25_exact_ok" -> bm25Ok,
      "bm25_rows" -> bm25Rows, "cycles" -> main.cycles,
      "live_rows" -> main.liveIds.size, "ok" -> (annOk && bm25Ok))
  }

  private def checkAnn(): Boolean = {
    val m = main
    import m._
    val nCentroids = spark.read.parquet(s"$ann/centroids").count().toInt
    val qIds = new scala.util.Random(seed + 1).shuffle(liveIds.keys.toVector).take(2)
    val joined = Similarity.ivfAdcProbeJoin(spark, ann, embFrame(qIds), "vec_id",
        "embedding", K, nProbe = nCentroids).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = qIds.flatMap { q =>
      Similarity.ivfAdcProbe(spark, ann, vectors(liveIds(q)).map(_.toDouble).toSeq,
          K, nProbe = nCentroids, excludeId = Some(q)).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    joined.nonEmpty && joined.forall(r => liveIds.contains(r._2)) &&
      joined.groupBy(_._1).forall { case (q, rows) =>
        rows.size == K &&
          rows.toSeq.map(_._3).sorted == single.toSeq.filter(_._1 == q).map(_._3).sorted
      }
  }

  private def checkBm25(): (Boolean, Int) = {
    val m = main
    import m._
    val terms = new scala.util.Random(seed + 2).shuffle(vocab.toSeq).take(3)
    val probe = TextStats.bm25ProbeJoin(spark, bm25,
        Seq((0L, terms)).toDF("query_id", "terms"))
      .select("doc_id", "n_matched", "bm25").collect().map(rowKey).toSet
    val exact = TextStats.bm25(docsFrame(liveIds.keys.toSeq), "doc_id", "text", terms)
      .select("doc_id", "n_matched", "bm25").collect().map(rowKey).toSet
    (probe.nonEmpty && probe == exact, probe.size)
  }

  private def rowKey(r: Row): (Long, Long, Double) =
    (r.getLong(0), r.getLong(1), r.getDouble(2))
}

object IndexLifecycle {
  val PurgeAbove = 0.05
  val K = 10
  /** Term buckets of the BM25 index: a few per core at this corpus size. */
  val Bm25Buckets = 8
}
