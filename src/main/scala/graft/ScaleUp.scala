package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata directory by
  * replicating each scaled table `factor` times with disjoint id spaces and
  * content perturbation — the step-up sweep's data source (the driver ships
  * sf0.001/0.01/0.1 only).
  *
  * Perturbation matters more than replication: verbatim copies would turn
  * every document into a 10-way near-duplicate cluster and every embedding
  * into a 10-way semantic duplicate, making dedup lanes quadratically
  * heavier than a REAL sf1.0 (and ANN cells trivially clustered). So each
  * copy k > 0:
  *   - customer: fresh id space AND a perturbed c_name — the genomic lanes
  *     derive DNA from c_name md5s, so every copy contributes new genomes;
  *   - orders: fresh o_orderkey space, o_custkey remapped into copy k's
  *     customer id space (fact/dim join cardinalities scale together);
  *   - documents: fresh doc_id space, every 6th word tagged with the copy
  *     index — shingle overlap with the original drops below near-dup
  *     thresholds while length/language statistics stay realistic;
  *   - embeddings: fresh vec_id space, the vector circularly shifted by a
  *     copy-dependent stride — norm and component distribution unchanged,
  *     cosine to the original near zero.
  * Unscaled dimension tables (region, nation, supplier, part) and the
  * remaining tables copy through verbatim.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [factor]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // one row per (source row, copy index k)
    def copies(df: DataFrame): DataFrame =
      df.withColumn("k", explode(sequence(lit(0), lit(factor - 1))))
    def idSpace(idCol: String, df: DataFrame): Long =
      df.agg(max(col(idCol).cast("long"))).head.getLong(0) + 1

    val customer = rd("customer")
    val orders = rd("orders")
    val ckSpace = idSpace("c_custkey", customer)
    val okSpace = idSpace("o_orderkey", orders)

    wr(copies(customer)
      .withColumn("c_custkey",
        (col("c_custkey") + col("k") * ckSpace).cast("long"))
      .withColumn("c_name",
        when(col("k") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("#"), col("k"))))
      .drop("k"), "customer")

    wr(copies(orders)
      .withColumn("o_orderkey",
        (col("o_orderkey") + col("k") * okSpace).cast("long"))
      .withColumn("o_custkey",
        (col("o_custkey") + col("k") * ckSpace).cast("long"))
      .drop("k"), "orders")

    val documents = rd("documents")
    val didSpace = idSpace("doc_id", documents)
    wr(copies(documents)
      .withColumn("doc_id", col("doc_id") + col("k") * didSpace)
      .withColumn("text", when(col("k") === 0, col("text")).otherwise(
        array_join(expr(
          "transform(split(text, ' '), (w, i) -> " +
            "IF(i % 6 = k % 6, concat(w, '~', k), w))"), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("k"), "documents")

    val embeddings = rd("embeddings")
    val vidSpace = idSpace("vec_id", embeddings)
    wr(copies(embeddings)
      .withColumn("vec_id", col("vec_id") + col("k") * vidSpace)
      .withColumn("embedding", expr(
        // circular shift by a copy-dependent stride (k*7 mod dim); k=0
        // shifts by 0 and concats an empty tail slice — identity
        "concat(slice(embedding, (k * 7) % size(embedding) + 1, " +
          "size(embedding) - (k * 7) % size(embedding)), " +
          "slice(embedding, 1, (k * 7) % size(embedding)))"))
      .drop("k"), "embeddings")

    // events scale as 10x USERS (fresh event_id + user_id spaces per copy,
    // per-user activity/timestamps kept): the event lanes (as-of join,
    // sessionization, interval join) partition by user_id, so this is the
    // scale direction a real workload grows in. Verbatim copies would
    // instead collide on (user_id, ts) and explode equal-key join groups —
    // a different (and unrealistic) computation.
    val events = rd("events")
    val eidSpace = idSpace("event_id", events)
    val uidSpace = idSpace("user_id", events)
    wr(copies(events)
      .withColumn("event_id", col("event_id") + col("k") * eidSpace)
      .withColumn("user_id", col("user_id") + col("k") * uidSpace)
      .drop("k"), "events")

    for (t <- Seq("region", "nation", "supplier", "part", "lineitem"))
      wr(rd(t), t)

    println(s"ScaleUp: wrote $dst at ${factor}x of $src " +
      s"(customer/orders/documents/embeddings/events scaled, rest verbatim)")
  }
}
