package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

/** Host-contention probes of Bench, ScaleBench and BandingSweep: /proc
  * readers, per-window signals and the whole-run watermark behind a
  * record's `contended` flag. Unreadable /proc reads -1, never fails.
  */
private[graft] object HostLoad {

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** 1-minute load average, -1 where unavailable. Sampled
    * CONTINUOUSLY through a run (every 15 s, [[Watermark]]), not
    * just at the endpoints: round 9's record read `contended: false`
    * from two idle endpoints while a co-scheduled correctness gate
    * mid-run inflated individual queries 5–12× — an endpoint flag
    * BLESSES a contaminated record, which is worse than no flag.
    */
  def loadAvg(): Double =
    try read("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Host-wide and this-process jiffy counters: the pairs whose
    * per-interval deltas isolate OTHER processes' CPU, plus host steal.
    *
    * Raw loadavg cannot decide `contended`: a 32-core bench raises its
    * OWN 1-min load past any fixed bar (max>1.0 would flag every
    * honest record contended — a permanent false positive), while the
    * co-scheduled-gate case round 9 exposed needs a mid-run signal.
    * `max((Δtotal − Δself)/Δt)` over 15 s windows is that signal:
    * self-load cancels exactly (Spark local mode is one process), and
    * a concurrent sbt/correctness-gate JVM shows as whole foreign cores.
    * The DECIDING signal is USER time only, deliberately: kernel
    * writeback of this process's OWN shuffle/artifact files runs in
    * kworker threads whose SYSTEM time would read as ~1 foreign core
    * on every write-heavy family (measured: sql 1.25, llm 1.05 on an
    * otherwise-idle host) — the contamination class that matters
    * (another JVM: sbt, a correctness gate, a second bench) is
    * user-cpu-dominated. The SYSTEM pair is carried as an ADVISORY
    * field only (`foreign_sys_cores_max`): a foreign rsync/backup is
    * system-time-dominated and would slip the user-cpu bar, but the
    * kworker allowance means the sys signal cannot gate `contended`
    * without permanently false-positive-ing write-heavy families —
    * so `contended:false` covers user-cpu-dominated co-processes and
    * the record schema says so.
    *
    * Steal (/proc/stat cpu field 8) counts cycles the HYPERVISOR
    * withheld from the whole guest — host-side co-tenancy, invisible
    * to loadavg, foreign-cpu, majflt and read-bytes alike (measured: a
    * build-family record read uniformly ~2× slow with every in-guest
    * signal clean and steal_cores 3.7 on the slow entry). It gates
    * `contended` exactly like foreign user-cpu: stolen cores ARE a
    * co-process, just one scheduled by the host.
    */
  final case class Jiffies(userTotal: Long, selfUser: Long,
                           sysTotal: Long, selfSys: Long, steal: Long) {
    def valid: Boolean = userTotal >= 0
  }

  def jiffies(): Jiffies =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val stat = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      // fields 14/15 (1-based): utime/stime — after comm, which is
      // parenthesized and contains no spaces for plain `java`.
      val self = read("/proc/self/stat").split(" ")
      Jiffies(stat(1).toLong + stat(2).toLong, self(13).toLong,
        stat(3).toLong, self(14).toLong, stat(8).toLong)
    } catch { case _: Throwable => Jiffies(-1L, -1L, -1L, -1L, -1L) }

  // Jiffies are USER_HZ=100/s: cores busy over a window = Δjiffies/100/Δt.
  private def cores(d: Long, dt: Double): Double = d / 100.0 / math.max(dt, 1e-3)

  /** Other processes' user cores averaged over `dt` seconds, -1 if unknown. */
  def foreignCores(a: Jiffies, b: Jiffies, dt: Double): Double =
    if (!a.valid || !b.valid) -1.0
    else cores((b.userTotal - a.userTotal) - (b.selfUser - a.selfUser), dt)

  /** Other processes' system cores (advisory: includes kworker writeback
    * of this process's own files), -1 if unknown.
    */
  def foreignSysCores(a: Jiffies, b: Jiffies, dt: Double): Double =
    if (!a.valid || !b.valid) -1.0
    else cores((b.sysTotal - a.sysTotal) - (b.selfSys - a.selfSys), dt)

  /** Hypervisor-stolen cores averaged over `dt` seconds, -1 if unknown. */
  def stealCores(a: Jiffies, b: Jiffies, dt: Double): Double =
    if (!a.valid || !b.valid) -1.0 else cores(b.steal - a.steal, dt)

  /** (this process's MAJOR page faults, this process's storage-layer
    * read bytes) — the per-entry I/O-pressure pair (round-10 verdict
    * #1): a query that reads far over its committed idle time under
    * `contended:false` needs a signal that names the cause, and
    * foreign USER cpu misses page-cache eviction by a co-resident
    * process (the suspected `_build_neardup_pairs` 52.9-vs-9.0 s
    * mechanism — the gate's DuckDB/dataset work evicts the fixture
    * from cache, this JVM then pays real disk reads it normally
    * never does). majflt counts mapped-page misses that hit storage;
    * /proc/self/io read_bytes counts ALL bytes fetched from the
    * storage layer (a warm run reads ~0 — everything is page cache).
    * Either spiking on an outlier entry names I/O pressure as the
    * contaminant; both flat says the slowdown was CPU-side.
    */
  def ioStat(): (Long, Long) =
    try {
      val majflt = read("/proc/self/stat").split(" ")(11).toLong // field 12 (1-based)
      val rb = read("/proc/self/io").linesIterator.collectFirst {
        case l if l.startsWith("read_bytes:") =>
          l.substring("read_bytes:".length).trim.toLong
      }.getOrElse(-1L)
      (majflt, rb)
    } catch { case _: Throwable => (-1L, -1L) }

  /** This process's block-I/O delay ticks (/proc/self/stat field 42,
    * delayacct_blkio_ticks): time it sat blocked on block I/O —
    * residual writeback throttling shows here and nowhere else
    * (measured: a build-family record taken minutes after a 60 GB
    * shuffle-spill run read uniformly ~2× slow with foreign-user ≈ 0,
    * majflt = 0, read_mb ≈ 0).
    */
  def blkioTicks(): Long =
    try read("/proc/self/stat").split(" ")(41).toLong
    catch { case _: Throwable => -1L }

  /** Host counters at one instant: the ends of a probed window. */
  final case class Snapshot(j: Jiffies, io: (Long, Long), blkio: Long)

  def snapshot(): Snapshot = Snapshot(jiffies(), ioStat(), blkioTicks())

  /** One window's contamination signals, -1 where unknown: foreign user
    * cores, major faults, storage-read MB, block-I/O wait s, stolen cores.
    */
  final case class Window(foreign: Double, majflt: Long, readMb: Double,
                          ioWaitS: Double, stealCores: Double) {
    def json: String = {
      def f(v: Double) = "%.3f".formatLocal(java.util.Locale.US, v)
      s""""foreign":${f(foreign)},"majflt":$majflt,"read_mb":${f(readMb)},""" +
        s""""io_wait_s":${f(ioWaitS)},"steal_cores":${f(stealCores)}"""
    }
  }

  def window(a: Snapshot, b: Snapshot, dt: Double): Window = Window(
    foreignCores(a.j, b.j, dt),
    if (a.io._1 < 0) -1L else b.io._1 - a.io._1,
    if (a.io._2 < 0) -1.0 else (b.io._2 - a.io._2) / 1e6,
    if (a.blkio < 0) -1.0 else (b.blkio - a.blkio) / 100.0,
    stealCores(a.j, b.j, dt))

  /** Whole-run maxima over 15 s windows, sampled by a daemon thread
    * from construction on (foreign system cores are advisory only).
    */
  final class Watermark(threadName: String) {
    val loadStart: Double = loadAvg()
    val loadMax = new AtomicReference[Double](loadStart)
    val foreignMax = new AtomicReference[Double](0.0)
    val foreignSysMax = new AtomicReference[Double](0.0)
    val stealMax = new AtomicReference[Double](0.0)

    /** > 0.5 foreign or stolen cores sustained over any window. */
    def contended: Boolean = foreignMax.get() > 0.5 || stealMax.get() > 0.5

    private val sampler = new Thread(() => {
      var prev = jiffies()
      var prevT = System.nanoTime()
      while (true) {
        Thread.sleep(15000)
        loadMax.updateAndGet(m => math.max(m, loadAvg()))
        val cur = jiffies()
        val curT = System.nanoTime()
        val dt = (curT - prevT) / 1e9
        // An unknown window reads -1 and leaves each max unchanged.
        foreignMax.updateAndGet(m => math.max(m, foreignCores(prev, cur, dt)))
        foreignSysMax.updateAndGet(m => math.max(m, foreignSysCores(prev, cur, dt)))
        stealMax.updateAndGet(m => math.max(m, stealCores(prev, cur, dt)))
        prev = cur
        prevT = curT
      }
    }, threadName)
    sampler.setDaemon(true)
    sampler.start()
  }
}
