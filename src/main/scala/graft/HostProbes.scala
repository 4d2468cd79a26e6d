package graft

/** Host-contention probes shared by Bench (pre-flight gate + JSON
  * self-adjudication) and MicroBench (inter-query writeback drain).
  * Three signals, each with a "quiet" threshold:
  *   - external cpu: busy jiffies NOT attributable to this JVM
  *     (/proc/stat minus /proc/self/stat) — other processes;
  *   - PSI-io "some avg10" (/proc/pressure/io) — % of wall time some
  *     task stalled on I/O, the signal CPU accounting can't see;
  *   - Dirty+Writeback (/proc/meminfo, kB) — the flush backlog a
  *     previous run (often OUR OWN shuffle writes) left for the disk.
  * The round-9 grade inflation (VERDICT r9 finding 1) was exactly the
  * third kind: external_cpu ≈ 0 while the device drained a rehearsal's
  * write-back for minutes. Unreadable /proc (probe < 0) counts as quiet
  * — there is nothing to adjudicate against.
  */
object HostProbes {

  /** 1-minute load average (-1 if unreadable — NaN is not valid JSON). */
  def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      val v = try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
      if (java.lang.Double.isFinite(v)) v else -1.0
    } catch { case _: Throwable => -1.0 }

  /** (total busy jiffies across all cpus, this process's utime+stime).
    * run/fork := true means this JVM IS the whole Spark local[*] runtime,
    * so self covers every executor thread. USER_HZ is 100 on Linux.
    */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val statSrc = scala.io.Source.fromFile("/proc/stat")
      val cols = try statSrc.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally statSrc.close()
      val busy = cols.sum - cols(3) - (if (cols.length > 4) cols(4) else 0L) // - idle - iowait
      val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
      val raw = try selfSrc.mkString finally selfSrc.close()
      // comm (field 2) can contain spaces/parens — split after the LAST ')'
      val rest = raw.substring(raw.lastIndexOf(')') + 2).split(" ")
      Some((busy, rest(11).toLong + rest(12).toLong)) // utime, stime
    } catch { case _: Throwable => None }

  /** Cores of busy cpu NOT attributable to this JVM, sampled over windowMs. */
  def externalBusyCores(windowMs: Long): Double =
    (cpuJiffies(), { Thread.sleep(windowMs); cpuJiffies() }) match {
      case (Some((b0, s0)), Some((b1, s1))) =>
        math.max(0.0, ((b1 - b0) - (s1 - s0)) * 10.0 / windowMs) // jiffy=10ms
      case _ => -1.0
    }

  def ioPressureSomeAvg10(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/pressure/io")
      val line = try src.getLines().find(_.startsWith("some")).getOrElse("") finally src.close()
      line.split("\\s+").collectFirst {
        case f if f.startsWith("avg10=") => f.stripPrefix("avg10=").toDouble
      }.getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  def dirtyWritebackKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collect {
        case l if l.startsWith("Dirty:") || l.startsWith("Writeback:") =>
          l.split("\\s+")(1).toLong
      }.sum finally src.close()
    } catch { case _: Throwable => -1L }

  /** External busy cpu (cores) below which the host counts as quiet. */
  val quietExternalCores = 2.0

  /** PSI-io avg10 (%) below which the host counts quiet: a bench's own
    * warm-cache reads sit near 0; self-generated writeback storms push
    * double digits for minutes. */
  val quietIoPressurePct = 5.0

  /** Dirty+Writeback backlog (kB) below which the host counts quiet: 2 GB
    * drains in seconds on this host's ~675 MB/s disk, while rehearsal
    * storms leave tens of GB that flush for minutes. */
  val quietDirtyKb = 2L * 1024 * 1024

  /** One point-in-time quiet check, CHEAP (no CPU sampling window): true
    * iff the io-pressure and dirty-writeback probes both read quiet now.
    * For the between-reps storm check in MicroBench, where the ~3 s CPU
    * window of the full verdict would dominate a short rep. */
  def ioQuiet(): Boolean = {
    val io = ioPressureSomeAvg10()
    val dirty = dirtyWritebackKb()
    (io < 0 || io < quietIoPressurePct) && (dirty < 0 || dirty < quietDirtyKb)
  }

  /** Runnable tasks on the host besides the reader (the 4th /proc/loadavg
    * field counts it), or -1 if unreadable. */
  private def runnableOthers(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(3).takeWhile(_ != '/').toInt - 1 finally src.close()
    } catch { case _: Throwable => -1 }

  /** Spin-wait until the host is quiet or the deadline passes; true iff
    * quiet on exit, 5 s sleeps between checks. A check is first a point
    * check — io-quiet, and the median of five runnable-task samples 50 ms
    * apart below [[quietExternalCores]] (this JVM idles between queries) —
    * and only when that reads busy the ~3 s CPU window, with the io/dirty
    * probes read AFTER the window so the verdict reflects one instant
    * (sampling them first let a writeback burst starting mid-window be
    * declared quiet). */
  def awaitQuiet(deadlineNanos: Long): Boolean = {
    def pointQuiet(): Boolean = {
      val rs = (1 to 5).map { i => if (i > 1) Thread.sleep(50); runnableOthers() }.sorted
      rs.head >= 0 && rs(2) < quietExternalCores && ioQuiet()
    }
    def quiet(): Boolean =
      pointQuiet() || (externalBusyCores(3000) < quietExternalCores && ioQuiet())
    var ok = quiet()
    while (!ok && System.nanoTime() < deadlineNanos) {
      Thread.sleep(5000)
      ok = quiet()
    }
    ok
  }
}
