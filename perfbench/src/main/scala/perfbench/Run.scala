package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark operation as the benchmark saw it: a span around one
  * call into the program. `tag` is the Spark job tag its jobs carry.
  */
final case class Span(name: String, layer: String, tag: String,
    startMs: Long, endMs: Long, seconds: Double, ok: Boolean) {
  def wallMs: Long = endMs - startMs
}

/** The state of one benchmark run: its spans, its op and failure counts,
  * and the live-heap watch. Operations run one at a time from the main
  * thread (a closed loop with one client).
  */
final class Run(val spark: SparkSession, val trace: Option[Trace]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var nextTag = 0

  /** Runs `body` as one timed operation under a fresh job tag. A throw
    * counts as a failed operation and yields None.
    */
  def op[A](name: String, layer: String)(body: => A): Option[A] = {
    nextTag += 1
    val tag = s"perfbench-op-$nextTag"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    attempted += 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    } finally sc.removeJobTag(tag)
    val s = (System.nanoTime() - t0) / 1e9
    spans += Span(name, layer, tag, w0, System.currentTimeMillis(), s, r.isDefined)
    r
  }

  /** A new session of the run's context, with the trace's plan listener
    * registered on it as on the run's own session.
    */
  def freshSession(): SparkSession = {
    val s = spark.newSession()
    trace.foreach(t => s.listenerManager.register(t))
    s
  }

  /** Counts one correctness check; a mismatch is a failed operation. */
  def check(name: String, got: String, expected: Option[String]): Unit = {
    attempted += 1
    if (!expected.contains(got)) {
      failed += 1
      failures += s"digest $name: got $got expected ${expected.getOrElse("<none>")}"
    }
  }

  /** Heap occupancy after full collections at the end of each pass: the
    * data the session still holds live, free of garbage timing. A
    * collection lets Spark's ContextCleaner see what died with the pass
    * and release it, so collect until the occupancy stops falling.
    */
  private var liveHeap = 0L
  def liveHeapMb: Double = liveHeap / (1024.0 * 1024.0)
  def sampleLiveHeap(): Unit = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = last
    var rounds = 0
    do {
      Thread.sleep(300)
      last = next
      next = used()
      rounds += 1
    } while (next < last * 0.99 && rounds < 8)
    liveHeap = math.max(liveHeap, next)
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Bytes pinned in block storage (localCheckpoint and cached frames),
    * then dropped, as graft.Bench does after each query. Runs outside
    * every timed region.
    */
  def unpersistAll(): Long = {
    val sc = spark.sparkContext
    val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    pinned
  }
}

object Stats {
  /** Median and quantiles the way Python's statistics module computes
    * them (exclusive method), so the harness and its readers agree.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size == 1) s.head
    else {
      val pos = q * (s.size + 1) - 1
      val lo = math.min(math.max(pos.floor.toInt, 0), s.size - 1)
      val hi = math.min(lo + 1, s.size - 1)
      val frac = math.min(math.max(pos - pos.floor, 0.0), 1.0)
      if (pos < 0) s.head else s(lo) + (s(hi) - s(lo)) * frac
    }
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
