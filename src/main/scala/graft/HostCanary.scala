package graft

/** Host-speed canary (r18): a fixed single-thread CPU workload (mix64
  * avalanche loop) timed min-of-3. This shared host has shown UNIFORM
  * 1.2-1.4x round-over-round swings at loadavg ~0 (CPU throttling/steal);
  * dividing bench totals by the canary ratio separates host speed from
  * engine speed — a non-uniform per-lane swing with a flat canary is a
  * REAL regression. One definition so the number stamped by [[Bench]] and
  * by the gate scripts (tools/gate_sf1.sh, tools/gate_cluster.sh, via
  * `runMain graft.HostCanary`) is the same unit and directly comparable
  * across artifacts. */
object HostCanary {
  def once(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) {
      h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27; h *= 0x94d049bb133111ebL
      h ^= h >>> 31; h += i
      i += 1
    }
    // fold the result into stderr so the loop cannot be dead-code'd
    if (h == 42L) System.err.println("canary collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** min-of-3: the noise-free single-thread cost on this host right now. */
  def measure(): Double = Seq.fill(3)(once()).min

  /** All-cores variant (r19): the same loop on `threads` concurrent
    * threads (default: one per available core), wall time of the slowest,
    * min-of-2. The r19 sf0.1 run showed why both are needed: a UNIFORM +16%
    * per-lane shift at a single-thread canary ratio of only 1.035 — a host
    * can throttle under MULTI-core load in a way a single busy core doesn't
    * see. A flat canary_sec with a raised canary_mt_sec says "host, not
    * code" for all-core lanes. */
  def measureMulti(threads: Int = Runtime.getRuntime.availableProcessors): Double = {
    def onceAll(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        val t = new Thread(() => { once(); () })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(2)(onceAll()).min
  }

  /** Memory-bandwidth canary (r20): sequential read+write sweep over a
    * 256 MiB long array (defeats every cache level), best-of-3 after an
    * untimed page-fault fill, reported as GB/s of traffic (8 B read +
    * 8 B write per element). Motivation: the r20 full-bench adjudication
    * found shuffle-heavy lanes +40-90% vs the r19 mins at a FLAT mix64
    * canary and ZERO /proc/stat steal under a 16-way load probe — an ALU
    * loop runs from registers and cannot see a hypervisor neighbor eating
    * the shared memory bus, which is exactly the resource Spark shuffles
    * feel first (this host's measured ceiling: ~10 GB/s single-thread,
    * ~8-9 GB/s aggregate across processes). A flat canary_sec/canary_mt_sec
    * with a dropped canary_bw_gbps reads "bus contention, not code". */
  def measureBandwidth(): Double = {
    val n = 32 << 20
    val buf = new Array[Long](n)
    java.util.Arrays.fill(buf, 1L)
    def once(): Double = {
      val t0 = System.nanoTime()
      var s = 0L
      var i = 0
      while (i < n) { s += buf(i); buf(i) = s; i += 1 }
      // fold the result into stderr so the loop cannot be dead-code'd
      if (s == 42L) System.err.println("bw canary collision")
      val sec = (System.nanoTime() - t0) / 1e9
      16.0 * n / (1L << 30) / sec
    }
    Seq.fill(3)(once()).max // best pass = least-contended view
  }

  def main(args: Array[String]): Unit = {
    val c = measure()
    val m = measureMulti()
    val bw = measureBandwidth()
    println(String.format(java.util.Locale.ROOT,
      """{"canary_sec":%.3f,"canary_mt_sec":%.3f,"canary_bw_gbps":%.2f}""",
      Double.box(c), Double.box(m), Double.box(bw)))
  }
}
