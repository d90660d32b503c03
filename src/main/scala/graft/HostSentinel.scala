package graft

/** Out-of-JVM host-pressure readings straight from the kernel, rather
  * than timing a job inside the bench JVM: late in a long sweep an
  * in-JVM sentinel job absorbs the JVM's own debt (codegen cache, GC
  * backlog) and reads ~4× with no host load (the r12 record). Two
  * samples of kernel tick counters with a sleep between them cannot.
  *
  * External busy = fraction of total machine CPU capacity consumed by
  * anything OTHER than this process over the window:
  *
  *   external = (Δbusy_host − Δ(utime+stime)_self) / Δtotal_host
  *
  * from `/proc/stat` (aggregate cpu line: user nice system idle iowait
  * irq softirq steal — steal counts co-tenant hypervisor theft) and
  * `/proc/self/stat` (fields 14/15, utime+stime across all threads of
  * this JVM). On a quiet host this reads ~0 regardless of sweep
  * position.
  *
  * Every reading throws on a non-Linux or unreadable-proc host; callers
  * (Bench, graftbench) record -1 for that channel.
  */
object HostSentinel {

  /** One external-busy-fraction reading over `windowMs`, in [0, 1]. */
  def externalBusyFraction(windowMs: Long = 500): Double = {
    val (busy0, total0) = hostTicks()
    val self0 = selfTicks()
    Thread.sleep(windowMs)
    val (busy1, total1) = hostTicks()
    val self1 = selfTicks()
    val dTotal = (total1 - total0).toDouble
    require(dTotal > 0, "no /proc/stat tick progress over the window")
    math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / dTotal)
  }

  /** Kernel memory-pressure stall fraction: the `some avg10` field of
    * `/proc/pressure/memory` (PSI), as a percentage in [0, 100] — the
    * share of the last 10 s in which at least one task stalled on
    * memory (reclaim, refault, swap). It sees the co-tenant memory
    * pressure the CPU reading is blind to (the r13 n57/n89 episodes:
    * queries inflated 2–5× with gc_ms 10–20× healthy while external CPU
    * read ~0). A quiet host reads 0.00. Throws when the file is absent
    * (pre-4.20 kernels, psi=0 boot) or malformed — callers record −1 so
    * the artifact shows the channel was unavailable rather than quiet.
    */
  def memoryPsiAvg10(): Double = {
    val line = firstLine("/proc/pressure/memory")
    require(line.startsWith("some "), s"unexpected PSI head: $line")
    val f = line.split("\\s+").find(_.startsWith("avg10="))
      .getOrElse(sys.error(s"no avg10 field in PSI line: $line"))
    f.stripPrefix("avg10=").toDouble
  }

  /** (busy, total) jiffies from the aggregate cpu line of /proc/stat.
    * busy excludes idle+iowait; total sums the first 8 fields (through
    * steal — guest time is already folded into user on Linux).
    */
  private def hostTicks(): (Long, Long) = {
    val line = firstLine("/proc/stat")
    require(line.startsWith("cpu "), s"unexpected /proc/stat head: $line")
    val f = line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    require(f.length == 8, "short /proc/stat cpu line")
    val total = f.sum
    (total - f(3) - f(4), total)
  }

  /** utime+stime jiffies of THIS process (all threads), /proc/self/stat
    * fields 14/15. comm (field 2) is parenthesized and may contain
    * spaces — parse from after the LAST ')'.
    */
  private def selfTicks(): Long = {
    val s = firstLine("/proc/self/stat")
    val after = s.substring(s.lastIndexOf(')') + 2).split(" ")
    after(11).toLong + after(12).toLong
  }

  private def firstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }
}
