package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run mode.
  *
  * Every span carries the id of the op it belongs to (ops run one at a time,
  * so stand-in calls on task threads read the current op from a volatile).
  * A span's self time is its duration minus the union of its children's
  * intervals, so children that overlap on parallel task threads are not
  * subtracted twice. */
object Trace {
  final case class Span(op: String, kind: String, start: Long, end: Long)

  /** Which span kinds nest directly inside which. */
  val Children: Map[String, Set[String]] = Map(
    "op" -> Set("build", "plan", "execute"),
    "build" -> Set("infer"),
    "execute" -> Set("infer", "stream_batch"))
  val Kinds: Seq[String] = Seq("op", "build", "plan", "execute", "infer", "stream_batch")

  @volatile var on = false
  @volatile var op = "setup"
  private val spans = new ConcurrentLinkedQueue[Span]()

  private val nanosMinusEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** An epoch-ms instant (a streaming progress timestamp) on the span clock. */
  def epochMsToNanos(ms: Long): Long = ms * 1000000L + nanosMinusEpoch

  def record(kind: String, start: Long, end: Long, opId: String = op): Unit =
    if (on) spans.add(Span(opId, kind, start, end))

  def span[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally record(kind, t0, System.nanoTime())
    }

  /** Run `f` as op `id`: its spans (and its stand-in calls) carry the id. */
  def inOp[T](id: String)(f: => T): T = {
    op = id
    try span("op")(f) finally op = "idle"
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Σ self seconds per span kind over the spans of `ops`. */
  def selfSeconds(ops: Set[String]): Map[String, Double] = {
    val byOp = all.filter(s => ops(s.op)).groupBy(_.op)
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    byOp.values.foreach { ss =>
      ss.foreach { s =>
        val kids = Children.getOrElse(s.kind, Set.empty)
        val inside = ss.filter(c => kids(c.kind) && c.end > s.start && c.start < s.end)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        inside.foreach { case (a, b) =>
          if (a > curE) { covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        covered += curE - curS
        self(s.kind) += (s.end - s.start - covered) / 1e9
      }
    }
    Kinds.map(k => k -> self(k)).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"op":"${s.op}","kind":"${s.kind}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
