package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The measuring JVM: one workload, one seed, one run.
  *
  *   Driver --workload W --seed N --seconds S --trace 0|1
  *          --inputs DIR --work DIR --record FILE
  *
  * Untraced (`--trace 0`): set up several times (fresh Spark session plus
  * the workload's prebuilt state; the first is cold), warm-up ops, then
  * warm ops until S seconds have passed (at least two). Every op is checked.
  * Traced (`--trace 1`): one traced set-up, the same warm-up, then pairs of an
  * untraced CLI op (under the scheduler ledger and the heap probe) and a
  * traced op (the same pipeline as layer calls under spans).
  *
  * The last stdout line is the result object; the full record, with the
  * host fingerprint, goes to FILE; spans go beside it as FILE.spans.json.
  */
object Driver {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, inputs: File, work: File, record: File)

  /** Set-ups per run: at least three (the first is cold); cheap ones are
    * repeated up to nine times, while the warm ones total under 2 s, so
    * their median steadies. */
  val MinSetups = 3
  val MaxSetups = 9
  val CheapSetupS = 2.0
  /** Warm-up before timing: at least two ops and at least 6 s of them. The
    * JIT keeps speeding ops up for several seconds after the first one. */
  val MinWarmups = 2
  val WarmupS = 6.0
  val MinReps = 2
  val MinTracedReps = 2

  /** Per-layer metrics and units, in pipeline order. A metric that does not
    * apply to a workload reads 0 on it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.parse_library_s" -> "s", "kmers.scan_library_s" -> "s",
    "sources.parse_s" -> "s", "sources.partitions" -> "count",
    "kmers.scan_s" -> "s", "kmers.spans" -> "count",
    "kmers.spans_per_read" -> "count",
    "index.ordering_s" -> "s",
    "taxa.lca_fold_s" -> "s", "taxa.leaf_pairs" -> "count",
    "taxa.records" -> "count", "taxa.lifted_frac" -> "fraction",
    "index.write_s" -> "s", "index.written_mb" -> "MB",
    "index.classify_s" -> "s", "index.hit_frac" -> "fraction",
    "index.table_build_s" -> "s", "index.table_mb" -> "MB",
    "index.mem_classify_s" -> "s",
    "index.output_s" -> "s", "index.report_s" -> "s",
    "streaming.quality_gate_s" -> "s",
    "operators.exact_dedup_s" -> "s", "operators.minhash_s" -> "s",
    "operators.lsh_s" -> "s", "operators.cap_check_s" -> "s",
    "operators.verify_s" -> "s", "operators.components_s" -> "s",
    "operators.span_strip_s" -> "s",
    "operators.candidate_pairs" -> "count", "operators.verified_pairs" -> "count",
    "operators.verify_yield" -> "fraction",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_cores" -> "cores", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "jvm.heap_live_peak_mb" -> "MB",
    "trace.coverage" -> "fraction", "trace.overhead" -> "fraction")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("inputs")), new File(m("work")), new File(m("record")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** The CLI's own session (same builder, same settings); the master comes
    * from `-Dspark.master`, set by the launcher to local[nproc]. */
  def startSession(): SparkSession = {
    val s = graft.Main.session(Workloads.Buckets)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def fingerprint(): Seq[(String, String)] = {
    def grab(file: String, key: String): String = {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key)).map(_.split(":", 2)(1).trim)
        .getOrElse("unknown")
      finally src.close()
    }
    Seq("nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total" -> grab("/proc/meminfo", "MemTotal"),
      "cpu_model" -> grab("/proc/cpuinfo", "model name"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Outcome of one op: wall seconds (None if it threw) and its check. */
  final case class OpRun(wallS: Option[Double], check: Check) {
    def failed: Boolean = wallS.isEmpty || check.failures.nonEmpty
  }

  def runCli(wl: Workload, ctx: Ctx, out: String): OpRun = {
    Workloads.deleteTree(new File(out))
    var printed = ""
    val wall =
      try Some(secondsOf { printed = Workloads.cli(wl.cliArgs(ctx, out)) })
      catch { case e: Exception => e.printStackTrace(); None }
    val check =
      if (wall.isEmpty) Check(Seq("op threw"), 0.0, 0.0)
      else try wl.check(ctx, out, Some(printed))
      catch { case e: Exception => e.printStackTrace(); Check(Seq(s"check threw: $e"), 0, 0) }
    check.failures.foreach(f => System.err.println(s"[perfbench] ${wl.name}: $f"))
    OpRun(wall, check)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(o: Opts): Unit = {
    val wl = Workloads.byName(o.workload)
    o.work.mkdirs()
    val ctx = new Ctx(o.inputs, o.work)
    val out = ctx.wk("op_output")
    val runs = ArrayBuffer.empty[OpRun]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${elapsedS}%.2f s: $what")
    def warmUp(): Unit = {
      val start = elapsedS
      var n = 0
      while (n < MinWarmups || elapsedS - start < WarmupS) {
        runs += runCli(wl, ctx, out); n += 1
      }
      phase("warm-up done")
    }

    val (metrics, units, extra, spansJson) = if (!o.trace) {
      val setups = ArrayBuffer.empty[Double]
      while (setups.length < MinSetups ||
          (setups.length < MaxSetups && setups.tail.sum < CheapSetupS)) {
        if (setups.nonEmpty) ctx.spark.stop()
        setups += secondsOf { ctx.spark = startSession(); wl.prepare(ctx) }
      }
      phase("set-up done")
      warmUp()
      val measureStart = elapsedS
      val timed = ArrayBuffer.empty[OpRun]
      while (timed.length < MinReps || elapsedS - measureStart < o.seconds) {
        val r = runCli(wl, ctx, out); timed += r; runs += r
        phase("op done")
      }
      val ok = timed.filterNot(_.failed)
      val opS = median(ok.flatMap(_.wallS).toSeq)
      (Seq("setup_s" -> median(setups.toSeq), "op_s" -> opS,
          "recall" -> median(ok.map(_.check.recall).toSeq),
          "precision" -> median(ok.map(_.check.precision).toSeq)),
        Map("setup_s" -> "s", "op_s" -> "s", "recall" -> "fraction",
          "precision" -> "fraction"),
        Seq("setup_all_s" -> setups.map(num).mkString("[", ", ", "]"),
          "op_all_s" -> timed.map(r => r.wallS.map(num).getOrElse("null"))
            .mkString("[", ", ", "]")
        ) ++ wl.native(ctx, opS).map { case (n, v) => n -> num(v) },
        "")
    } else {
      ctx.spark = startSession()
      val ledger = new TaskLedger
      ctx.spark.sparkContext.addSparkListener(ledger)
      val heap = new LiveHeapProbe
      val tr = new Tracer
      val setupCounts = wl.tracedPrepare(ctx, tr)
      warmUp()
      val untraced = ArrayBuffer.empty[(Double, Seq[(String, Double)], Double)]
      val tracedCounts = ArrayBuffer.empty[Map[String, Double]]
      val measureStart = elapsedS
      var rep = 0
      while (rep < MinTracedReps || elapsedS - measureStart < o.seconds) {
        var r: OpRun = null
        var led: OpLedger = null
        val heapMb = heap.measure { led = ledger.measure(ctx.spark) { r = runCli(wl, ctx, out) } }
        runs += r
        r.wallS.foreach(w => untraced += ((w, led.metrics, heapMb)))
        Workloads.deleteTree(new File(out))
        val traced =
          try {
            tracedCounts += wl.traced(ctx, tr, rep, out)
            val c = wl.check(ctx, out, None)
            OpRun(Some(tr.rootS(s"op$rep")), c)
          } catch { case e: Exception => e.printStackTrace(); OpRun(None, Check(Seq("traced op threw"), 0, 0)) }
        traced.check.failures.foreach(f => System.err.println(s"[perfbench] traced ${wl.name}: $f"))
        runs += traced
        rep += 1
      }
      val untracedS = median(untraced.map(_._1).toSeq)
      val ops = (0 until rep).map(i => tr.selfTimes(s"op$i"))
      val aux = (0 until rep).map(i => tr.selfTimes(s"aux$i"))
      val setupSelf = tr.selfTimes("setup")
      def layerTime(span: String): Double =
        if (ops.exists(_.contains(span))) median(ops.map(_.getOrElse(span, 0.0)))
        else if (aux.exists(_.contains(span))) median(aux.map(_.getOrElse(span, 0.0)))
        else setupSelf.getOrElse(span, 0.0)
      val counts = tracedCounts.lastOption.getOrElse(Map.empty) ++ setupCounts
      val sched = PerLayer.map(_._1).filter(n => n.startsWith("spark.")).map { n =>
        n -> median(untraced.map(_._2.toMap.apply(n)).toSeq)
      }.toMap
      val layerSum = ops.map(_.filter { case (n, _) => n != "op" }.values.sum)
      val tracedS = (0 until rep).map(i => tr.rootS(s"op$i"))
      val values = PerLayer.map { case (n, _) =>
        n -> (n match {
          case "trace.coverage" => median(layerSum) / untracedS
          case "trace.overhead" => median(tracedS) / untracedS - 1
          case "jvm.heap_live_peak_mb" => median(untraced.map(_._3).toSeq)
          case s if sched.contains(s) => sched(s)
          case s if s.endsWith("_s") => layerTime(s.stripSuffix("_s"))
          case s => counts.getOrElse(s, 0.0)
        })
      }
      (values, PerLayer.toMap,
        Seq("untraced_op_all_s" -> untraced.map(u => num(u._1)).mkString("[", ", ", "]"),
          "traced_op_all_s" -> tracedS.map(num).mkString("[", ", ", "]")),
        tr.toJson)
    }
    phase("measured")
    ctx.spark.stop()
    phase("stopped")

    val failed = runs.count(_.failed)
    val metricsJson = jsonObj(metrics.map { case (n, v) =>
      n -> jsonObj(Seq("value" -> num(v), "unit" -> jsonStr(units(n))))
    })
    val result = jsonObj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> runs.length.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson))
    val record = jsonObj(Seq("workload" -> jsonStr(o.workload),
      "seed" -> o.seed.toString, "trace" -> (if (o.trace) "1" else "0"),
      "seconds" -> o.seconds.toString,
      "fingerprint" -> jsonObj(fingerprint().map { case (k, v) => k -> jsonStr(v) }),
      "detail" -> jsonObj(extra), "result" -> result))
    o.record.getParentFile.mkdirs()
    java.nio.file.Files.writeString(o.record.toPath, record + "\n")
    if (o.trace)
      java.nio.file.Files.writeString(
        new File(o.record.getPath.stripSuffix(".json") + ".spans.json").toPath, spansJson)
    println(result)
  }
}
