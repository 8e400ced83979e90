package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // scheduler roll-up per lane rep, staged classify rep, pipeline and
    // streaming lane (see RunLedger; the timed regions sit inside measure)
    val ledger = RunLedger.attach(spark)
    type Ledgers = collection.mutable.LinkedHashMap[String, RunLedger.Window]
    def measured[T](into: Ledgers, name: String)(body: => T): T = {
      val (out, w) = ledger.measure(body)
      into(name) = into.getOrElse(name, RunLedger.EmptyWindow) ++ w
      out
    }
    def ledgerJson(ls: Iterable[(String, RunLedger.Window)]): String =
      ls.map { case (k, w) => "\"" + k + "\":" + w.toJson }
        .mkString("{", ",", "}")

    // full materialization through a noop sink: unlike count(), this cannot
    // be satisfied by column pruning / partial aggregation shortcuts
    def run(q: org.apache.spark.sql.DataFrame): Unit =
      q.write.format("noop").mode("overwrite").save()

    // Load gate (r7 verdict): two consecutive driver artifacts started on a
    // busy machine (loadavg 3.0 and 6.8) and recorded phantom regressions.
    // Before any Spark work adds our own load, wait for the 1-minute
    // average to decay below the gate (or give up at the cap and say so in
    // the artifact — the stamp distinguishes "measured quiet" from
    // "measured loud" without a judge re-run).
    def load1(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    // The default gate scales with the host: the bench's own executors keep
    // up to one thread per core runnable, so the mid-run re-gate below must
    // sit above that (an absolute 2.0 stalled every rep on a 4-core host);
    // the extra half load per core is the outside load it tolerates.
    val gateMax = sys.env.get("SPARK_GRAFT_BENCH_LOAD_GATE").map(_.toDouble)
      .getOrElse(1.5 * Runtime.getRuntime.availableProcessors)
    val gateCapS = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT", "300").toInt
    val gateT0 = System.nanoTime()
    var gated = load1() >= 0 && load1() < gateMax
    while (!gated && (System.nanoTime() - gateT0) / 1e9 < gateCapS) {
      Thread.sleep(5000)
      val l = load1()
      gated = l >= 0 && l < gateMax
    }
    val gateWaitedS = (System.nanoTime() - gateT0) / 1e9

    // Host-speed canary (r18, definition now shared in graft.HostCanary so
    // the gate scripts stamp the same unit): stamped as canary_sec;
    // dividing totals by the canary ratio separates host speed from engine
    // speed — a non-uniform per-lane swing with a flat canary is a REAL
    // regression.
    val canarySec = HostCanary.measure()
    // all-cores canary (r19): the r19 sf0.1 run showed a uniform +16%
    // per-lane shift at canary ratio 1.035 — single-thread speed alone
    // does not see multi-core throttle. r20 (verdict ask #1b): with the
    // r19 artifacts now carrying canary_mt_sec as an anchor, the
    // NORMALIZATION switches to the multi-thread ratio (every bench lane
    // runs on the 32-thread session, so multi-core throttle is the swing
    // that actually hits them); the single-thread ratio stays stamped and
    // a _st delta map keeps the old normalization readable for continuity.
    val canaryMtSec = HostCanary.measureMulti()
    // third axis (r20): memory bandwidth — the r20 adjudication found
    // shuffle-heavy lanes +40-90% at flat ALU canaries and zero steal;
    // see HostCanary.measureBandwidth's scaladoc. No anchor exists yet,
    // so it is stamped for analysis, not used for normalization.
    val canaryBwGbps = HostCanary.measureBandwidth()

    // Host fingerprint: canaries only rescale speed, so a delta against an
    // anchor from another machine (core count, memory, CPU model) is not
    // a regression signal — normalization below requires an identical one.
    val host: (Int, Long, String) = {
      def procLine(file: String, key: String): Option[String] =
        try {
          val src = scala.io.Source.fromFile(file)
          try src.getLines().find(_.startsWith(key))
            .map(_.split(":", 2)(1).trim)
          finally src.close()
        } catch { case _: Throwable => None }
      (Runtime.getRuntime.availableProcessors,
        procLine("/proc/meminfo", "MemTotal").map(_.split("\\s+")(0).toLong)
          .getOrElse(-1L),
        procLine("/proc/cpuinfo", "model name").getOrElse("unknown"))
    }
    def jsonStr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val hostJson = s"""{"nproc":${host._1},"mem_total_kb":${host._2}""" +
      s""","cpu_model":${jsonStr(host._3)}}"""

    // Canary-normalized round-over-round deltas (r19, closing the r18
    // loop): parse the previous round's artifact (the driver's wrapper or
    // a raw Bench line), divide this run's per-lane stat by the canary
    // ratio, and ALERT on lanes that still moved >15%. The anchor's
    // compact driver line only carries medians; when a full artifact (with
    // queries_min) is given via SPARK_GRAFT_BENCH_ANCHOR, mins are used —
    // anchor_stat records which. An anchor that is unreadable, from another
    // scale factor or from another host is skipped, and anchor_skipped
    // says why.
    val anchorPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", "BENCH_r23.json")
    // (st canary, mt canary if the anchor has one, per-lane stats, stat name)
    val anchor: Either[String, (Double, Option[Double], Map[String, Double], String)] = try {
      import org.json4s._
      val j0 = jackson.JsonMethods.parse(new java.io.File(anchorPath))
      // the driver wraps the parsed line under "parsed"
      val j = j0 \ "parsed" match { case JNothing => j0; case p => p }
      def d(v: JValue): Option[Double] = v match {
        case JDouble(x) => Some(x)
        case JInt(x) => Some(x.toDouble)
        case JDecimal(x) => Some(x.toDouble)
        case _ => None
      }
      def lanes(field: String): Map[String, Double] = j \ field match {
        case JObject(fs) => fs.flatMap { case (k, v) => d(v).map(k -> _) }.toMap
        case _ => Map.empty
      }
      val c = d(j \ "canary_sec")
      val cMt = d(j \ "canary_mt_sec").filter(_ > 0)
      val mins = lanes("queries_min")
      // an anchor carrying only "queries" (the compact driver line) holds
      // whatever its own headline_stat says — median through r19, min from
      // r20 on; trusting a hardcoded "median" would mislabel the compare
      val anchorHeadline = j \ "headline_stat" match {
        case JString(s) => s; case _ => "median" }
      val (stats, statName) =
        if (mins.nonEmpty) (mins, "min")
        else (lanes("queries"), anchorHeadline)
      // deltas are only meaningful at the SAME scale factor: an sf5 run
      // normalized against an sf0.1 anchor would read as a 50x regression
      val anchorSf = j \ "sf" match { case JString(s) => s; case _ => "" }
      val thisSf = sfDir.replaceAll(".*sf", "")
      val anchorHost = (j \ "host" \ "nproc", j \ "host" \ "mem_total_kb",
        j \ "host" \ "cpu_model") match {
        case (JInt(n), JInt(kb), JString(cpu)) => Some((n.toInt, kb.toLong, cpu))
        case _ => None
      }
      (c.filter(_ > 0), anchorHost) match {
        case (None, _) => Left(s"$anchorPath has no canary_sec")
        case _ if stats.isEmpty => Left(s"$anchorPath has no per-lane stats")
        case _ if anchorSf != thisSf =>
          Left(s"$anchorPath is sf$anchorSf, this run is sf$thisSf")
        case (_, None) => Left(s"$anchorPath has no host fingerprint")
        case (_, Some(h)) if h != host => Left(s"$anchorPath host " +
          s"(${h._1} cpus, ${h._2} kB, ${h._3}) differs from this host")
        case (Some(cs), _) => Right((cs, cMt, stats, statName))
      }
    } catch { case e: Throwable =>
      Left(s"$anchorPath unreadable: ${e.getClass.getSimpleName}")
    }

    // one untimed warm-up action to JIT/codegen and prime the FS cache
    SparkEntry.benchQueries.headOption.foreach { case (_, q) =>
      try run(q.fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    // Each query is timed REPS times and we report min (headline, r20) and
    // median: a single-shot number has misled two rounds running (r2 recorded
    // time-to-crash as a speedup; r3 recorded a loaded-machine outlier as a
    // 2x regression). Median damps transient load; min approximates the
    // noise-free cost. A failed query records -1 for every stat, never its
    // time-to-crash. The raw per-rep times (in run order) and the machine
    // load average at start/end are emitted too, so a run on a busy machine
    // is diagnosable from the artifact alone: high loadavg or a wide
    // reps_sec spread flags the medians as load-poisoned.
    def loadavg(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+").take(3).mkString("[", ",", "]")
        finally src.close()
      } catch { case _: Throwable => "[]" }

    val loadStart = loadavg()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Sub-second lanes drown in scheduler noise at 3 reps (r11 verdict:
    // uniform ±20-50% drift on untouched lanes) — they top up to this many
    // reps so the min/IQR stats have support.
    val subSecondReps =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUBSEC_REPS", "5").toInt
    // Spike retry (r9 verdict): the load gate checks only at start, so a
    // transient host spike mid-run can poison a rep by 6x+ (r9 recorded
    // 22 s against a true 2.6 s). One rep >3x the rep min is rerun ONCE
    // and appended — the raw reps stay in reps_sec for forensics, and the
    // min stat cannot be inflated by a second spike.
    def timeReps(rep: () => Double): IndexedSeq[Double] = {
      var times = (0 until reps).map(_ => rep())
      // variance hygiene (r11 verdict): sub-second lanes get extra reps
      while (times.nonEmpty && times.min < 1.0 && times.length < subSecondReps)
        times = times :+ rep()
      if (times.nonEmpty && times.max > 3 * times.min) times :+ rep()
      else times
    }

    // Headline lanes run INTERLEAVED in randomized order (r13 verdict ask
    // #4): round r times every lane once, each round in a fresh shuffled
    // order, so a transient host spike poisons at most one rep of a few
    // lanes instead of every rep of whichever lane it happened to sit on
    // (how r12 recorded t37 at 9.56 s against a true ~1.6 s), and no lane
    // systematically inherits another's page-cache/JIT state. The order
    // seed is stamped in the artifact for reproducibility. A mid-run load
    // re-gate checks /proc/loadavg before every rep and waits (within a
    // bounded total budget) for a spike to decay; waits are counted in the
    // artifact so a gated-but-loud run stays diagnosable.
    // SPARK_GRAFT_BENCH_ONLY=g03,t06,ann_build — run only lanes whose name
    // starts with a listed prefix (headline, staged, pipelines and
    // streaming sections alike). For targeted sweeps (the sf1.0 step-up)
    // where timing every lane at 10x data would burn hours for numbers
    // nobody reads; unset = everything, the driver's per-round default.
    val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val lanes = SparkEntry.benchQueries.toIndexedSeq.filter(l => selected(l._1))
    val orderSeed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED",
      System.nanoTime().toString).toLong
    val orderRng = new scala.util.Random(orderSeed)
    val regateBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REGATE_BUDGET", "120").toDouble
    var regateWaits = 0
    var regateWaitedS = 0.0
    def regate(): Unit = {
      var l = load1()
      if (l >= 0 && l >= gateMax && regateWaitedS < regateBudgetS) {
        val t0 = System.nanoTime()
        while (l >= gateMax &&
            regateWaitedS + (System.nanoTime() - t0) / 1e9 < regateBudgetS) {
          Thread.sleep(2000)
          l = load1()
        }
        regateWaits += 1
        regateWaitedS += (System.nanoTime() - t0) / 1e9
      }
    }
    def timeOne(thunk: () => Unit): Double = {
      val t0 = System.nanoTime()
      thunk()
      (System.nanoTime() - t0) / 1e9
    }
    val repTimes = collection.mutable.Map.empty[String, IndexedSeq[Double]]
    val laneLedgers: Ledgers = collection.mutable.LinkedHashMap.empty
    val failedLanes = collection.mutable.Set.empty[String]
    // High-IQR lanes (r14: t37 reps 9.76/4.27/3.43 — IQR 6.33 s against a
    // 3.43 s min, pure in-lane warmup of the contraction loop; r15 sf1.0:
    // q38 reps 34.2/32.3/18.7 — same first-execution shape on the
    // sessionize window + interval join; r15: g02 reps 7.24/1.66/1.29/5.33
    // and g13 med 9.41 vs min 6.83, cold first-execution of the index
    // build + post-regate spike) get ONE
    // discarded warmup execution before the timed rounds so min and median
    // converge. Kept to a named set: a blanket warmup would double the
    // sweep's wall clock for lanes that don't need it.
    val warmupLanes = Set("t37_cc_contraction", "q38_interval_join",
      "g02_lca_index", "g13_wide64_freq_classify")
    for ((name, q) <- lanes if warmupLanes(name)) {
      regate()
      try run(q.fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    for (r <- 0 until reps; (name, q) <- orderRng.shuffle(lanes)
         if !failedLanes(name)) {
      regate()
      try repTimes(name) =
        repTimes.getOrElse(name, IndexedSeq.empty) :+
          measured(laneLedgers, name)(timeOne(() => run(q.fn(spark, sfDir))))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e")
        e.printStackTrace()
        failedLanes += name
        repTimes(name) = IndexedSeq.empty
      }
    }
    // per-lane hygiene passes, unchanged semantics from the sequential
    // design: sub-second lanes top up reps, one >3x-min outlier re-runs once
    val results = lanes.map { case (name, q) =>
      var times = repTimes.getOrElse(name, IndexedSeq.empty)
      if (!failedLanes(name)) try {
        while (times.nonEmpty && times.min < 1.0 &&
            times.length < subSecondReps) {
          regate()
          times = times :+ measured(laneLedgers, name)(
            timeOne(() => run(q.fn(spark, sfDir))))
        }
        if (times.nonEmpty && times.max > 3 * times.min) {
          regate()
          times = times :+ measured(laneLedgers, name)(
            timeOne(() => run(q.fn(spark, sfDir))))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED in top-up: $e")
        e.printStackTrace()
        times = IndexedSeq.empty
      }
      val sorted = times.sorted
      val median = if (sorted.isEmpty) -1.0 else sorted(sorted.length / 2)
      val min = if (sorted.isEmpty) -1.0 else sorted.head
      name -> ((median, min, times))
    }
    val headlineMin = results.map { case (k, (_, min, _)) => k -> min }.toMap
    // Staged genomic benches (r6 verdict): the headline g-numbers above time
    // index construction + classification together and the build dominates.
    // Here each index builds ONCE, outside timing (its wall time reported as
    // the build stage), and the classify stage is timed alone per rep — this
    // is the number that shows the in-memory path's zero-shuffle advantage
    // over the bucketed join. Headline totals keep the combined semantics.
    // Staged entries get the same spike protection as the headline reps
    // (r10 verdict: staged g07 recorded a 16.7 s build against a 2.2 s
    // combined headline — pure mid-run host load). Classify reps go through
    // timeReps (>3x retry); a build whose wall time exceeds 3x the SAME
    // query's combined headline min (build + classify together!) is
    // self-evidently load-poisoned and is re-run once, keeping the smaller
    // time. Per-entry 1-min loadavg stamps make any residual poisoning
    // diagnosable from the artifact alone.
    case class StagedResult(build: Double, classifyMed: Double,
      classifyMin: Double, buildRetries: Int, load1Start: Double,
      load1End: Double, phases: Map[String, Double] = Map.empty)
    val stageLedgers: Ledgers = collection.mutable.LinkedHashMap.empty
    val stages = graft.operators.GenomicQueries.stagedBench(spark, sfDir)
      .filter { case (name, _) => selected(name) }.map {
      case (name, prepare) =>
        try {
          val l0 = load1()
          val b0 = System.nanoTime()
          var staged = prepare()
          var buildSec = (System.nanoTime() - b0) / 1e9
          // phase breakdown follows the KEPT build time (a retried build's
          // phases describe the retry, not the poisoned first attempt)
          var phases = staged.phases
          var buildRetries = 0
          val suspectBuild = headlineMin.get(name).exists(h =>
            h > 0 && buildSec > 3 * h)
          if (suspectBuild) {
            staged.cleanup()
            val r0 = System.nanoTime()
            staged = prepare()
            val retrySec = (System.nanoTime() - r0) / 1e9
            if (retrySec < buildSec) { buildSec = retrySec; phases = staged.phases }
            buildRetries = 1
          }
          // cleanup in finally: a failing rep must not leak this entry's
          // persisted records/reads (and broadcasts) into the next entries'
          // timings — the isolation is the whole point of the staged bench
          val times =
            try timeReps(() => measured(stageLedgers, name)(
              timeOne(() => run(staged.classify()))))
            finally staged.cleanup()
          val sorted = times.sorted
          name -> StagedResult(buildSec, sorted(sorted.length / 2),
            sorted.head, buildRetries, l0, load1(), phases)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] staged $name FAILED: $e")
          e.printStackTrace()
          name -> StagedResult(-1.0, -1.0, -1.0, 0, -1.0, -1.0)
        }
    }
    val stagesFailed = stages.count(_._2.build < 0)

    // Composed-pipeline bench (r10 verdict): the embedding-curation CLI
    // end to end — centroid-outlier prune -> SemDeDup -> temperature-
    // balanced sample -> parquet out + summary, i.e. the command a real
    // user runs (`curateEmbeddings`), timed as one wall-clock unit
    // including its stage materializations and output write. Single-shot
    // by design (it is a multi-minute-at-scale composed job, not a
    // per-query microbench); the surrounding loadavg stamps flag a
    // poisoned number.
    val pipelineLedgers: Ledgers = collection.mutable.LinkedHashMap.empty
    def timePipeline(name: String, cli: java.nio.file.Path => Array[String])
        : (String, Double) = {
      val out = java.nio.file.Files.createTempDirectory(s"graft-bench-$name")
      try {
        name -> measured(pipelineLedgers, name)(
          timeOne(() => graft.Main.main(cli(out))))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name pipeline FAILED: $e")
        e.printStackTrace()
        name -> -1.0
      } finally {
        // the curated parquet copy is timing scaffolding — do not leak a
        // corpus-sized directory into /tmp per bench invocation
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
    }
    // a lane deselected by SPARK_GRAFT_BENCH_ONLY never runs (None row)
    def pipelineLane(name: String)(mk: => (String, Double))
        : Option[(String, Double)] =
      if (selected(name)) Some(mk) else None
    val pipelines: Map[String, Double] = Seq(
      // embedding curation: prune -> SemDeDup -> sample -> parquet
      pipelineLane("curate_embeddings")(
        timePipeline("curate_embeddings", out => Array("curateEmbeddings",
        "--embeddings", s"$sfDir/embeddings.parquet",
        "--output", out.toString, "--p", cpus, "--k", "8",
        "--sample", "1000"))),
      // text curation: quality gate -> exact dedup -> MinHash near-dup ->
      // span strip -> parquet (the flagship text-pillar user command)
      pipelineLane("curate_text")(
        timePipeline("curate_text", out => Array("curate",
        "--docs", s"$sfDir/documents.parquet",
        "--output", out.toString, "--p", cpus,
        "--near-dup-threshold", "0.7"))),
      // same pipeline with the hashed-cosine near-dup test (the t38/t39
      // bridge as a user command) — tracked so the two candidate tests'
      // costs stay comparable round over round
      pipelineLane("curate_text_hashed")(
        timePipeline("curate_text_hashed", out => Array("curate",
        "--docs", s"$sfDir/documents.parquet",
        "--output", out.toString, "--p", cpus,
        "--near-dup-threshold", "0.9", "--near-dup-mode", "hashed"))),
      // the ANN serving lifecycle as the user runs it (r12): ann_build
      // times train + encode + persist; ann_probe times a probe-only
      // query batch against an index PREBUILT outside its clock — the
      // amortization claim (probes never pay training) as two tracked
      // numbers
      pipelineLane("ann_build")(
        timePipeline("ann_build", out => Array("annBuild",
          "--embeddings", s"$sfDir/embeddings.parquet",
          "--output", out.resolve("idx").toString, "--p", cpus,
          "--cells", "16", "--train", "4096"))),
      pipelineLane("ann_probe") {
        val scratch = java.nio.file.Files.createTempDirectory("graft-annbench")
        try {
          // prebuild OUTSIDE the probe's clock; a failed prebuild reports
          // the probe lane as failed instead of crashing the bench
          graft.Main.main(Array("annBuild",
            "--embeddings", s"$sfDir/embeddings.parquet",
            "--output", scratch.resolve("idx").toString, "--p", cpus,
            "--cells", "16", "--train", "4096"))
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .limit(64).write.mode("overwrite")
            .parquet(scratch.resolve("q.parquet").toString)
          timePipeline("ann_probe", out => Array("annQuery",
            "--index", scratch.resolve("idx").toString,
            "--queries", scratch.resolve("q.parquet").toString,
            "--k", "10", "--nprobe", "4", "--rerank", "64",
            "--output", out.toString, "--p", cpus))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ann_probe prebuild FAILED: $e")
          "ann_probe" -> -1.0
        } finally {
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case _: Throwable => () }
        }
      }).flatten.toMap

    // Streaming lanes (r13 verdict ask #9): per-micro-batch latency of the
    // three streaming surfaces at a pinned per-trigger row count
    // (StreamingBench scaladoc documents the protocol). Medians land as
    // pipelines rows; the full per-lane detail (rows/batch, per-batch
    // times) rides the "streaming" object.
    // selection passed INTO run: a lane deselected by
    // SPARK_GRAFT_BENCH_ONLY never executes (no index build, no ANN
    // train, no micro-batches) — same contract as the other sections
    val streamLanes = graft.operators.StreamingBench.run(spark, sfDir,
      ledger, selected = selected)
    val streamingFailed = streamLanes.count(_._2.medianSec < 0)
    val pipelinesAll: Map[String, Double] = pipelines ++
      streamLanes.map { case (k, l) => s"${k}_batch" -> l.medianSec }

    // Optimizer-rule A/B (r8): v02_knn_brute keeps the declarative
    // aggregate(zip_with(...)) dot products on purpose — it is the query a
    // user writes without knowing the native expressions exist. Timing it
    // with graft.functions.NativeVectorRewrite off vs on (same session,
    // same reps) makes the rule's payoff a tracked artifact number instead
    // of a claim. The rule (default-on since r10, row-guarded) is only
    // installed here, after the headline timings, and the flag is set
    // explicitly for each arm.
    val rewriteAb: Map[String, Double] =
      try {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.functions.NativeVectorRewrite
        val v02 = SparkEntry.all("v02_knn_brute")
        // untimed warm-up so the HOF side (timed first) doesn't absorb the
        // cold-start and inflate the rewrite's apparent win
        try run(v02.fn(spark, sfDir)) catch { case _: Throwable => () }
        def time(flag: Boolean): (Double, Double) = {
          spark.conf.set(graft.functions.NativeVectorRewrite.ConfKey,
            flag.toString)
          // fresh DataFrame per rep: QueryExecution memoizes the optimized
          // plan, so a reused frame would ignore the toggled flag
          val times = (0 until reps).map { _ =>
            val t0 = System.nanoTime()
            run(v02.fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }.sorted
          (times(times.length / 2), times.head)
        }
        val (hofMed, hofMin) = time(flag = false)
        val (natMed, natMin) = time(flag = true)
        spark.conf.set(graft.functions.NativeVectorRewrite.ConfKey, "false")
        Map("v02_hof" -> hofMed, "v02_hof_min" -> hofMin,
          "v02_native" -> natMed, "v02_native_min" -> natMin)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] rewrite A/B FAILED: $e")
        e.printStackTrace()
        Map("v02_hof" -> -1.0, "v02_hof_min" -> -1.0,
          "v02_native" -> -1.0, "v02_native_min" -> -1.0)
      }

    // Post-run canary (r20, verdict ask #1c): the same two stamps AFTER all
    // timed sections. A throttle arriving MID-run (r19's 76.9 s g13 rep on
    // untouched code) is invisible to a start-only stamp; the pre/post delta
    // makes intra-run host drift a first-class artifact field instead of a
    // forensic argument.
    val canarySecPost = HostCanary.measure()
    val canaryMtSecPost = HostCanary.measureMulti()
    val canaryBwGbpsPost = HostCanary.measureBandwidth()
    // bandwidth gets a wider band (its natural rep-to-rep spread is ~10%)
    val canaryDriftAlert =
      math.abs(canarySecPost / canarySec - 1.0) > 0.15 ||
        math.abs(canaryMtSecPost / canaryMtSec - 1.0) > 0.15 ||
        math.abs(canaryBwGbpsPost / canaryBwGbps - 1.0) > 0.25
    val loadEnd = loadavg()
    // Locale.ROOT: the f-interpolator formats with the JVM default locale,
    // which under e.g. de_DE would emit comma decimals — invalid JSON.
    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // canary-normalized per-lane deltas vs the anchor round: positive =
    // slower than the anchor AFTER removing the host-speed swing; alerts
    // list lanes beyond ±15% — the threshold the r18 verdict asked the
    // round-over-round read to use. r20: the PRIMARY normalization ratio
    // is the multi-thread canary when the anchor carries one (every lane
    // is a 32-thread job; the r19 run proved the st canary blind to
    // multi-core throttle); the st-normalized map is kept alongside as
    // normalized_deltas_st, and normalization_canary names which ratio the
    // alert list used. The PRE-run canary is the ratio's numerator — the
    // anchor's stamp was pre-run too, so the units match; the post stamp
    // covers intra-run drift separately.
    val anchorCmp: Either[String, (Double, Option[Double], String,
        Seq[(String, Double)], Seq[(String, Double)], Seq[String])] =
      anchor.map { case (aCanary, aCanaryMt, aStats, statName) =>
        val ratioSt = canarySec / aCanary
        val ratioPrimary = aCanaryMt.map(canaryMtSec / _).getOrElse(ratioSt)
        def deltas(ratio: Double): Seq[(String, Double)] =
          results.flatMap { case (k, (med, min, _)) =>
            val ours = if (statName == "min") min else med
            aStats.get(k).filter(_ > 0).filter(_ => ours > 0)
              .map(prev => k -> ((ours / ratio) / prev - 1.0))
          }.toSeq
        val primary = deltas(ratioPrimary)
        val alerts = primary.collect {
          case (k, dd) if math.abs(dd) > 0.15 => k }.sorted
        (aCanary, aCanaryMt, statName, primary, deltas(ratioSt), alerts)
      }
    val canaryCmp: String = anchorCmp.map {
      case (aCanary, aCanaryMt, statName, deltas, deltasSt, alerts) =>
        def dmap(ds: Seq[(String, Double)]): String = ds.map { case (k, v) =>
          "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
        s""","canary_anchor":${num(aCanary)}""" +
          s""","canary_ratio_vs_prev":${num(canarySec / aCanary)}""" +
          aCanaryMt.map(a =>
            s""","canary_mt_anchor":${num(a)}""" +
            s""","canary_mt_ratio_vs_prev":${num(canaryMtSec / a)}""")
            .getOrElse("") +
          s""","normalization_canary":"${
            if (aCanaryMt.isDefined) "mt" else "st"}"""" +
          s""","anchor_stat":"$statName"""" +
          ""","normalized_deltas":""" + dmap(deltas) +
          ""","normalized_deltas_st":""" + dmap(deltasSt) +
          ""","normalized_alerts":""" +
          alerts.map("\"" + _ + "\"").mkString("[", ",", "]")
    }.fold(reason => ",\"anchor_skipped\":" + jsonStr(reason), identity)
    // Artifact-key semantics (r20, verdict ask #1a): "value"/"queries"/
    // "value_pre_r6_set" now carry MIN-OF-REPS — the r19 headline median
    // was driven by one 76.9 s host stall on an untouched lane, and the
    // verdict asked for the robust stat as the headline. The change is NOT
    // silent (the r10 lesson): headline_stat says "min", every median is
    // still carried explicitly under *_median, and the _min keys keep
    // their r9+ meaning (now equal to the unsuffixed keys). Round-over-
    // round comparisons were already pinned to min (round_over_round_stat)
    // since r11, so the delta machinery is unchanged.
    val qs = results.map { case (k, (_, min, _)) => "\"" + k + "\":" + num(min) }
      .mkString("{", ",", "}")
    val qsMedian = results.map { case (k, (med, _, _)) =>
      "\"" + k + "\":" + num(med) }.mkString("{", ",", "}")
    // deliberate alias since the r20 headline flip: queries_min keeps its
    // r9+ name for round-over-round consumers, queries now holds the same
    // min values (see the key-semantics comment above)
    val qsMin = qs
    val qsReps = results.map { case (k, (_, _, ts)) =>
      "\"" + k + "\":" + ts.map(num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query inter-quartile range of the reps (r11 verdict: variance
    // columns, so a round-over-round delta can be judged against the
    // lane's own spread instead of guessed at)
    val qsIqr = results.map { case (k, (_, _, ts)) =>
      val s = ts.sorted
      val iqr =
        if (s.length < 2) 0.0
        else s(math.min(s.length - 1, (s.length * 3) / 4)) - s(s.length / 4)
      "\"" + k + "\":" + num(iqr)
    }.mkString("{", ",", "}")
    val totalMin = results.map(_._2._2).filter(_ >= 0).sum
    val totalMedian = results.map(_._2._1).filter(_ >= 0).sum
    // queries ADDED to the bench set after round 5: the headline total grew
    // by their cost, so the artifact also carries the subtotal comparable to
    // earlier rounds' totals (the original 13-query set). r6: g11/g12; r7:
    // t21 (span dedup); r8: t28 (span rewrite), c01 (k-means), t34
    // (bloom-prefiltered decontamination); r10: c02 (semantic dedup), c03
    // (cluster sample), g13 (m=64 frequency classify).
    // r11: t37 (distributed CC contraction), c04 (centroid outliers).
    // r12: g14 (extra-wide m=96 classify), c07 (SemDeDup at k=1024).
    // r15: g04/g10 (two-step dynamic classification, single- and
    // multi-sample), q35 (as-of join), q38 (interval join) — promoted to
    // the bench so the sf1.0 step-up sweep has same-lane sf0.1 datapoints.
    val added = Set("g11_mem_classify", "g12_mem_wide_classify",
      "t21_span_dedup", "t28_span_rewrite", "c01_kmeans", "t34_bloom_decon",
      "c02_semantic_dedup", "c03_cluster_sample", "g13_wide64_freq_classify",
      "t37_cc_contraction", "c04_centroid_outliers",
      "g14_xwide_classify", "c07_semantic_dedup_k1024",
      "g04_classify2", "g10_multisample_classify2",
      "q35_asof_join", "q38_interval_join")
    val comparable = results.collect {
      case (k, (med, _, _)) if !added(k) && med >= 0 => med
    }.sum
    val comparableMin = results.collect {
      case (k, (_, min, _)) if !added(k) && min >= 0 => min
    }.sum
    val addedJson = added.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val stagesJson = stages.map { case (k, r) =>
      // build_phases: named sub-phase wall times of the KEPT build
      // (ordering / records / reads / table) — r17 verdict ask #5, so a
      // build-dominated regression names the regressing phase
      val phasesJson = r.phases.map { case (p, v) =>
        "\"" + p + "\":" + num(v)
      }.mkString("{", ",", "}")
      "\"" + k + "\":{\"build\":" + num(r.build) +
        ",\"build_phases\":" + phasesJson +
        ",\"classify\":" + num(r.classifyMed) +
        ",\"classify_min\":" + num(r.classifyMin) +
        ",\"build_retries\":" + r.buildRetries +
        ",\"load1_start\":" + num(r.load1Start) +
        ",\"load1_end\":" + num(r.load1End) + "}"
    }.mkString("{", ",", "}")
    val rewriteJson = rewriteAb.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + num(v)
    }.mkString("{", ",", "}")
    val streamingJson = streamLanes.map { case (k, l) =>
      "\"" + k + "\":{\"rows_per_batch\":" + l.rowsPerBatch +
        ",\"batches\":" + l.batches +
        ",\"batch_median\":" + num(l.medianSec) +
        ",\"batch_min\":" + num(l.minSec) +
        ",\"reps_sec\":" + l.repsSec.map(num).mkString("[", ",", "]") +
        // jobs per fed trigger (one processAllAvailable), whatever number
        // of micro-batches it ran
        ",\"jobs_per_trigger\":" +
        num(l.ledger.jobsByBatch.sum.toDouble / math.max(l.batches, 1)) + "}"
    }.mkString("{", ",", "}")
    // scheduler roll-ups: headline lanes over their timed reps, staged
    // classify reps, pipelines and streaming triggers
    val ledgerOut = "{\"queries\":" + ledgerJson(laneLedgers) +
      ",\"stages\":" + ledgerJson(stageLedgers) +
      ",\"pipelines\":" + ledgerJson(pipelineLedgers) +
      ",\"streaming\":" + ledgerJson(streamLanes.map { case (k, l) =>
        k -> l.ledger }) + "}"
    val pipelinesJson = pipelinesAll.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + num(v)
    }.mkString("{", ",", "}")
    val sf = sfDir.replaceAll(".*sf", "")
    // `failed` keeps its round-over-round meaning (headline queries only);
    // staged failures get their own count so a broken staged entry cannot
    // ship inside an artifact that claims failed:0
    val failed = results.count(_._2._1 < 0)
    // a broken pipeline entry must not hide inside an artifact claiming
    // failed:0 — same contract as failed_stages. Counted over the
    // PRE-merge map: streaming lanes have their own failed_streaming
    // counter, so a failed stream must not double-report here (and
    // failed_pipelines keeps its round-over-round meaning)
    val pipelinesFailed = pipelines.values.count(_ < 0)
    // round_over_round_stat PINS which stat to compare across rounds (r11
    // verdict: r10->r11 deltas were read off mixed stats): min-of-reps is
    // the noise-resistant choice, carried in value_min/queries_min since
    // r9 and — since the r20 headline flip — ALSO under "value"/"queries"
    // (headline_stat:"min"); medians live in value_median/queries_median.
    // Compare min keys across rounds, judged against queries_iqr.
    val json = s"""{"metric":"total","value":${num(totalMin)},"unit":"sec","headline_stat":"min","round_over_round_stat":"min","value_min":${num(totalMin)},"value_median":${num(totalMedian)},"value_pre_r6_set":${num(comparableMin)},"value_pre_r6_set_min":${num(comparableMin)},"value_pre_r6_set_median":${num(comparable)},"added_queries":$addedJson,"failed":$failed,"failed_stages":$stagesFailed,"failed_pipelines":$pipelinesFailed,"failed_streaming":$streamingFailed,"reps":$reps,"subsec_reps":$subSecondReps,"queries":$qs,"queries_min":$qsMin,"queries_median":$qsMedian,"queries_iqr":$qsIqr,"stages":$stagesJson,"pipelines":$pipelinesJson,"streaming":$streamingJson,"rewrite_ab":$rewriteJson,"reps_sec":$qsReps,"load_gated":$gated,"load_gate_waited_s":${num(gateWaitedS)},"lane_order":"interleaved_shuffled","order_seed":$orderSeed,"regate_waits":$regateWaits,"regate_waited_s":${num(regateWaitedS)},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"canary_sec":${num(canarySec)},"canary_mt_sec":${num(canaryMtSec)},"canary_bw_gbps":${num(canaryBwGbps)},"canary_sec_post":${num(canarySecPost)},"canary_mt_sec_post":${num(canaryMtSecPost)},"canary_bw_gbps_post":${num(canaryBwGbpsPost)},"canary_drift_alert":$canaryDriftAlert$canaryCmp,"ledger":$ledgerOut,"host":$hostJson,"sf":"$sf"}"""
    println(json)
    // Sidecar copy with no sbt [info] prefix noise, so harnesses that tail
    // stdout through sbt can still parse the metric line.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: $e")
    }
    // The driver keeps only the LAST ~2000 characters of stdout and tries
    // to parse a JSON line out of them; the full artifact line above is
    // ~3.5 KB, so its head would be truncated away. This compact line
    // carries the contract fields ({"metric","value","unit","queries",
    // "sf"}) in well under the capture window, printed LAST (sbt appends
    // one ~90-char [success] line after it). Since r11 the forked run's
    // stdout bypasses sbt's logger (build.sbt run/outputStrategy :=
    // StdoutOutput), so the line starts at column 0 with no "[info] "
    // prefix — the other half of why "parsed" was null through r10. If
    // the bench set ever grows the line past the window, the per-query
    // map is dropped rather than risking a truncated-head line.
    // the compact driver line carries the canary RATIO + alert count so
    // the round artifact itself says whether a total swing is host or code
    val canaryBrief = anchorCmp.map {
      case (aCanary, aCanaryMt, statName, _, _, alerts) =>
        s""","canary_ratio_vs_prev":${num(canarySec / aCanary)}""" +
          aCanaryMt.map(a =>
            s""","canary_mt_ratio_vs_prev":${num(canaryMtSec / a)}""")
            .getOrElse("") +
          s""","normalization_canary":"${
            if (aCanaryMt.isDefined) "mt" else "st"}"""" +
          s""","anchor_stat":"$statName","normalized_alerts_n":${alerts.length}"""
    }.fold(reason => ",\"anchor_skipped\":" + jsonStr(reason), identity)
    val compact = s"""{"metric":"total","value":${num(totalMin)},"unit":"sec","headline_stat":"min","value_median":${num(totalMedian)},"failed":$failed,"reps":$reps,"canary_sec":${num(canarySec)},"canary_mt_sec":${num(canaryMtSec)},"canary_mt_sec_post":${num(canaryMtSecPost)},"canary_bw_gbps":${num(canaryBwGbps)},"canary_drift_alert":$canaryDriftAlert$canaryBrief,"queries":$qs,"host":$hostJson,"sf":"$sf"}"""
    println(if (compact.length <= 1800) compact
      else s"""{"metric":"total","value":${num(totalMin)},"unit":"sec","headline_stat":"min","value_median":${num(totalMedian)},"failed":$failed,"reps":$reps,"canary_sec":${num(canarySec)},"canary_mt_sec":${num(canaryMtSec)},"canary_mt_sec_post":${num(canaryMtSecPost)},"canary_bw_gbps":${num(canaryBwGbps)},"canary_drift_alert":$canaryDriftAlert$canaryBrief,"host":$hostJson,"sf":"$sf"}""")
    spark.stop()
  }
}
