package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import graft.RunLedger
import graft.index.{IndexParams, MinimizerIndex}
import graft.sources.InputFragment
import graft.streaming.{StreamingClassifier, StreamingDedup}

/** Streaming lanes for the bench clock: micro-batch latency of the three
  * streaming surfaces — in-memory classification
  * ([[StreamingClassifier.classifyStreamInMemory]]), near-dup suppression
  * ([[StreamingDedup.dedupNear]]) and ANN probing
  * ([[AnnIndex.queryStream]]) — at a PINNED per-trigger row count.
  *
  * Each lane feeds a MemoryStream and times `processAllAvailable()` per
  * trigger, so every sample is one full micro-batch source-to-sink. The
  * static side (index build, broadcast table, ANN train+encode) happens
  * OUTSIDE the clock — these lanes measure the per-trigger serving cost,
  * the number an online deployment provisions against. The first batch
  * carries stream start + plan compilation; the median damps it and the
  * min approximates the steady state. The trigger loop runs inside a
  * [[graft.RunLedger]] window, which groups its jobs per micro-batch.
  */
object StreamingBench {

  /** One lane's result: per-micro-batch wall seconds at the pinned rate and
    * the ledger window of its triggers. */
  case class Lane(rowsPerBatch: Int, batches: Int, medianSec: Double,
      minSec: Double, repsSec: Seq[Double], ledger: RunLedger.Window)

  /** Times `batches` triggers, each fed by `feed(b)` and drained by
    * `processAllAvailable()`. */
  private def triggers(ledger: RunLedger, query: StreamingQuery,
      rowsPerBatch: Int, batches: Int)(feed: Int => Unit): Lane = {
    val (times, window) = ledger.measure((0 until batches).map { b =>
      feed(b)
      val t0 = System.nanoTime()
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    })
    val s = times.sorted
    Lane(rowsPerBatch, times.length, s(s.length / 2), s.head, times, window)
  }

  /** Runs the streaming lanes whose name passes `selected`. The filter is
    * applied BEFORE a lane's thunk is invoked, so a deselected lane pays
    * nothing — no index build, no ANN train, no micro-batches (the sf1.0
    * targeted-sweep contract of SPARK_GRAFT_BENCH_ONLY). */
  def run(spark: SparkSession, sfDir: String, ledger: RunLedger,
      batches: Int = 5,
      selected: String => Boolean = _ => true): Seq[(String, Lane)] = {
    Seq(
      "stream_classify" -> (() => classifyLane(spark, sfDir, ledger, batches)),
      "stream_dedup" -> (() => dedupLane(spark, sfDir, ledger, batches)),
      "ann_probe_stream" -> (() => annLane(spark, sfDir, ledger, batches))
    ).filter { case (name, _) => selected(name) }.map { case (name, lane) =>
      name -> (try lane() catch { case e: Throwable =>
        System.err.println(s"[bench] streaming $name FAILED: $e")
        e.printStackTrace()
        Lane(0, 0, -1.0, -1.0, Nil, RunLedger.EmptyWindow)
      })
    }
  }

  /** Online classification: resident broadcast table (the serving
    * deployment), 2000 reads per trigger. */
  private def classifyLane(spark: SparkSession, sfDir: String,
      ledger: RunLedger, batches: Int): Lane = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rowsPerBatch = 2000
    val bcTax = spark.sparkContext.broadcast(
      GenomicQueries.starTaxonomy(spark, sfDir))
    val index = new MinimizerIndex(
      IndexParams(k = 35, m = 31, spaces = 7, buckets = 32), bcTax)
    val lib = GenomicQueries.customerGenomes(spark, sfDir)
      .select($"taxon", $"dna").as[(Int, String)]
    val records = index.makeRecords(lib)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    records.count()
    // build the broadcast classifier ONCE and hand it to the stream (the
    // prebuilt overload) — building it here AND inside the stream would
    // collect + broadcast the key-taxon table twice
    val mem = index.inMemoryClassifier(records)
    // deterministic read batches cycled from a bounded genome sample
    val genomes = lib.limit(512).collect()
    def reads(batch: Int): Seq[InputFragment] =
      (0 until rowsPerBatch).map { i =>
        val (_, g) = genomes((batch * 31 + i) % genomes.length)
        val len = math.min(44, g.length)
        val start = if (g.length == len) 0 else (i * 7) % (g.length - len)
        InputFragment(s"sb${batch}_$i", 0L, g.substring(start, start + len),
          None)
      }
    val stream = MemoryStream[InputFragment]
    val query = StreamingClassifier.classifyStreamInMemory(mem,
      stream.toDS(), confidence = 0.0, minHitGroups = 1) { (_, classified) =>
      classified.write.format("noop").mode("overwrite").save()
    }.start()
    try triggers(ledger, query, rowsPerBatch, batches)(b =>
      stream.addData(reads(b)))
    finally {
      query.stop(); mem.close(); records.unpersist(false); bcTax.destroy()
    }
  }

  /** Streaming near-dup suppression: 500 documents per trigger through the
    * MinHash-band ownership state. */
  private def dedupLane(spark: SparkSession, sfDir: String,
      ledger: RunLedger, batches: Int): Lane = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rowsPerBatch = 500
    // cycle the corpus when it is smaller than rows*batches (sf0.01 has
    // 500 docs): synthetic unique ids, repeated text — near-dup state sees
    // realistic duplicate pressure either way
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"text").limit(rowsPerBatch * batches)
      .as[String].collect()
    def ts(b: Int, i: Int) = new java.sql.Timestamp(
      1700000000000L + b * 60000L + i * 10L)
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val writer = StreamingDedup.dedupNear(
      stream.toDS().toDF("ts", "doc_id", "text"), "text", "ts", "doc_id",
      watermark = "10 minutes", stateTtlMs = 60 * 60 * 1000L) { survivors =>
      survivors.write.format("noop").mode("overwrite").save()
    }
    val query = writer.start()
    try triggers(ledger, query, rowsPerBatch, batches) { b =>
      stream.addData((0 until rowsPerBatch).map { i =>
        val n = b * rowsPerBatch + i
        (ts(b, i), n.toLong, texts(n % texts.length))
      })
    }
    finally query.stop()
  }

  /** Streaming ANN probe against a PREBUILT index (the probes-never-pay-
    * training contract, now on the streaming clock): 64 queries per
    * trigger, model + vectors frame loaded once before the stream. */
  private def annLane(spark: SparkSession, sfDir: String,
      ledger: RunLedger, batches: Int): Lane = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rowsPerBatch = 64
    val scratch = java.nio.file.Files.createTempDirectory("graft-annstream")
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val dir = scratch.resolve("idx").toString
      AnnIndex.build(emb, dir, nCells = 16, subspaces = 8, centroids = 16,
        trainN = 4096)
      val queries = emb.limit(rowsPerBatch * batches).collect()
      val stream = MemoryStream[(Long, Array[Float])]
      val query = AnnIndex.queryStream(stream.toDS(), dir, k = 10,
        nProbe = 4, rerank = 64) { (_, res) =>
        res.write.format("noop").mode("overwrite").save()
      }.start()
      // cycle when the corpus is smaller than rows*batches
      try triggers(ledger, query, rowsPerBatch, batches) { b =>
        stream.addData((0 until rowsPerBatch).map { i =>
          queries((b * rowsPerBatch + i) % queries.length)
        })
      }
      finally query.stop()
    } finally {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }
  }
}
