package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, TaxonCountsAggregate}
import graft.index.{DistinctMinimizers, DynamicClassifierSpec}

class RunLedgerSpec extends AnyFunSuite with SparkSessionTestWrapper
    with BeforeAndAfterAll {

  lazy val ledger: RunLedger = RunLedger.attach(spark)
  override def afterAll(): Unit = ledger.detach()

  // one job per action: a narrow scan with no exchange
  private def narrowAction(seed: Int): Unit =
    spark.range(0, 200000, 1, 4)
      .selectExpr(s"sha2(cast(id + $seed as string), 256) as h")
      .filter("h like 'abc%'").collect()

  test("jobs inside one phase carry its label, tasks and executor CPU") {
    val (_, w) = ledger.measure {
      RunLedger.phase(spark, "two_actions") {
        narrowAction(1)
        narrowAction(2)
      }
    }
    assert(spark.sparkContext.getLocalProperty(RunLedger.PhaseKey) == null)
    val phases = w.phases.toMap
    assert(phases.keySet == Set("two_actions"))
    val (jobs, wallS, cpuS) = phases("two_actions")
    assert(jobs == 2 && w.jobs.length == 2)
    assert(wallS > 0 && cpuS > 0)
    assert(w.tasks.nonEmpty && w.execCpuS > 0)
    assert(w.toJson.contains("\"two_actions\":{\"jobs\":2,"))
  }

  test("a nested phase restores the enclosing label") {
    val (_, w) = ledger.measure {
      RunLedger.phase(spark, "outer") {
        RunLedger.phase(spark, "inner")(narrowAction(3))
        narrowAction(4)
      }
    }
    assert(w.jobs.map(_.phase) == Vector(Some("inner"), Some("outer")))
  }

  test("a shuffle job reports shuffle bytes, and no task event is lost") {
    val (_, w) = ledger.measure {
      spark.range(0, 100000, 1, 4).repartition(4, col("id"))
        .selectExpr("id % 7 as k").groupBy("k").count().collect()
    }
    assert(w.tasks.map(_.shuffleWriteB).sum > 0)
    assert(w.tasks.map(_.shuffleReadB).sum > 0)
    assert(w.stageTasks.length >= 2)
    // read right after measure returns: the bus drain means every task of
    // every completed stage has already been seen
    assert(w.tasks.length == w.stageTasks.sum)
    assert(w.jobWallMs <= w.wallMs && w.driverGapS >= 0)
    assert(w.taskSkew >= 1.0)
  }

  test("streaming jobs group per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Long]
    val query = stream.toDS().writeStream
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        batch.selectExpr("sum(value)").collect(); ()
      }.start()
    try {
      val (_, w) = ledger.measure {
        for (b <- 0 until 2) {
          stream.addData((b * 100L) until (b * 100L + 100))
          query.processAllAvailable()
        }
      }
      // no watermark, so each fed trigger is exactly one micro-batch
      val perBatch = w.jobsByBatch
      assert(perBatch.length == 2)
      assert(perBatch.forall(_ > 0))
      assert(perBatch.sum == w.jobs.count(_.batch.isDefined))
      assert(w.toJson.contains("\"jobs_by_batch\":[" + perBatch.mkString(",")))
    } finally query.stop()
  }

  test("classify2MultiSample labels its own actions sample_enum and evidence") {
    val fixture = new DynamicClassifierSpec
    import spark.implicits._
    val reads = fixture.reads.zipWithIndex.map { case (r, i) =>
      r.copy(header = s"s${i % 2}_${r.header}")
    }
    val staticRecords: DataFrame = fixture.dyn.index.buildRecords(fixture.lib)
      .cache()
    staticRecords.count()
    val (_, w) = ledger.measure {
      val (classified, perSample, cleanup) = fixture.dyn.classify2MultiSample(
        spark.createDataset(reads), "^([^_]+)_", fixture.lib, staticRecords,
        criterion = DistinctMinimizers, rank = "species", threshold = 50)
      assert(perSample.keySet == Set("s0", "s1"))
      assert(classified.collect().length == reads.length)
      cleanup()
    }
    staticRecords.unpersist()
    val phases = w.phases.toMap
    assert(phases.keySet == Set("sample_enum", "evidence"))
    assert(phases.values.forall(_._1 >= 1))
    // the final classification runs in the caller's action, unlabelled
    assert(w.jobs.exists(_.phase.isEmpty))
  }

  test("parameter-free SQL functions register once per session") {
    val registry = spark.sessionState.functionRegistry
    def infos = (GraftFunctions.all.map(_._1) :+ TaxonCountsAggregate.Name)
      .map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    GraftFunctions.register(spark)
    TaxonCountsAggregate.register(spark)
    val first = infos
    GraftFunctions.register(spark)
    TaxonCountsAggregate.register(spark)
    assert(first.zip(infos).forall { case (a, b) => a eq b })
    val row = spark.sql("SELECT dot_long(array(1L, 2L), array(3L, 4L)) AS d, " +
      "nfc_normalize('abc') AS n").collect().head
    assert(row.getLong(0) == 11L && row.getString(1) == "abc")
  }
}
