package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One recorded interval. `request` groups the spans of one workload
  * operation; `parent` is -1 for the operation's own span, which alone
  * carries `cpuMs`: the client thread's CPU time during the operation
  * (planning, compilation, result handling; the tasks' CPU is counted by
  * [[Meter]]).
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, endNs: Long, attrs: Map[String, String],
                      cpuMs: Double = 0) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread.
  *
  * Operation spans ([[op]]) are always kept: the end-to-end metrics come
  * from them. Layer spans ([[layer]]) wrap each call the benchmark makes
  * into a library layer, and are kept only in a traced run; untraced,
  * `layer` runs its body and nothing else. Every span tags the Spark work
  * submitted inside it (see [[Meter]]), so counts are taken at the same
  * boundaries as times.
  */
final class Trace(sc: SparkContext, val traced: Boolean) {
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long, Map[String, String])]
  private var nextId = 0
  private var request = -1
  private var bookNs = 0L

  def spans: Seq[Span] = done.toSeq

  /** Nanoseconds the recorder itself spent on span bookkeeping. */
  def bookkeepingNs: Long = bookNs

  /** A timed workload operation: a new request id and a root span. */
  def op[T](name: String, attrs: (String, String)*)(body: => T): (T, Span) = {
    request += 1
    val cpu0 = Trace.threadCpuNs()
    enter(name, attrs.toMap)
    val r = try body finally exit()
    done(done.size - 1) = done.last.copy(cpuMs = (Trace.threadCpuNs() - cpu0) / 1e6)
    (r, done.last)
  }

  def layer[T](name: String)(body: => T): T =
    if (!traced) body
    else { enter(name, Map.empty); try body finally exit() }

  private def enter(name: String, attrs: Map[String, String]): Unit = {
    val b0 = System.nanoTime()
    val id = nextId
    nextId += 1
    sc.setLocalProperty(Meter.TagKey, id.toString)
    open = (id, name, System.nanoTime(), attrs) :: open
    bookNs += System.nanoTime() - b0
  }

  private def exit(): Unit = {
    val end = System.nanoTime()
    val (id, name, start, attrs) = open.head
    open = open.tail
    done += Span(id, name, open.headOption.fold(-1)(_._1), request, start, end, attrs)
    sc.setLocalProperty(Meter.TagKey, open.headOption.map(_._1.toString).orNull)
    bookNs += System.nanoTime() - end
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[String] = {
    val kids = done.toSeq.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id).map(_.toString).toSet
  }

  /** Seconds each layer spent in its own spans, children excluded. */
  def selfSeconds: Map[String, Double] = {
    val childMs = done.groupBy(_.parent).map { case (p, ks) => p -> ks.map(_.ms).sum }
    done.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / 1e3 }
  }

  /** The spans as JSON lines, times relative to the first span. */
  def jsonLines: Seq[String] = {
    val t0 = done.map(_.startNs).minOption.getOrElse(0L)
    done.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "request" -> Json.num(s.request),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0) / 1e6)) ++
        (if (s.parent == -1) Seq("cpu_ms" -> Json.num(s.cpuMs)) else Nil) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    }
  }
}

object Trace {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread: time the hypervisor stole is not in it. */
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime
}
