package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import graft.functions.TextFunctions
import graft.infer.{InferenceClient, MockInference}

/** The benchmark's model stand-in: [[MockInference]]'s deterministic
  * protocol plus a fixed service time per call, so the inference edge costs
  * wall time the way a remote model does without burning CPU.
  *
  * Spark ships a copy of the client to every task, so the counters live in
  * the JVM-wide [[InferStats]] (local mode runs every task in this JVM). */
final class StandInClient(serviceMicros: Long) extends InferenceClient {
  @transient private lazy val mock = new MockInference

  override def complete(prompt: String): String = completeBatch(Seq(prompt)).head

  override def completeBatch(prompts: Seq[String]): Seq[String] = {
    val t0 = System.nanoTime()
    val replies = prompts.map(mock.complete)
    val due = t0 + serviceMicros * 1000L * prompts.size
    var now = System.nanoTime()
    while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
    InferStats.record(prompts, replies, t0, now)
    replies
  }
}

/** JVM-wide, thread-safe counters of every stand-in call. */
object InferStats {
  val Prefixes: Seq[String] = Seq("MAP", "COLLAPSE", "REDUCE", "OUTLINE",
    "DIGEST", "SUGGEST", "MODIFY", "MERGE", "WRITE", "POLISH", "FIGURE")
  val BatchSize = 16 // InferOps.complete's default transport batch

  val calls, batches, tokens, busyNanos = new LongAdder
  private val byPrefix = new ConcurrentHashMap[String, LongAdder]()
  private val distinct = ConcurrentHashMap.newKeySet[(Int, Int)]()

  def record(prompts: Seq[String], replies: Seq[String], t0: Long, t1: Long): Unit = {
    calls.add(prompts.size.toLong)
    batches.increment()
    busyNanos.add(t1 - t0)
    prompts.foreach { p =>
      val cut = p.indexOf('|')
      val prefix = if (cut > 0) p.substring(0, cut) else "OTHER"
      byPrefix.computeIfAbsent(prefix, _ => new LongAdder).increment()
      distinct.add((p.hashCode, scala.util.hashing.MurmurHash3.stringHash(p)))
      tokens.add(TextFunctions.estimateTokens(p).toLong)
    }
    replies.foreach(r => tokens.add(TextFunctions.estimateTokens(r).toLong))
    Trace.record("infer", t0, t1)
  }

  final case class Snap(calls: Long, batches: Long, tokens: Long, busyNanos: Long,
      distinct: Long, byPrefix: Map[String, Long]) {
    def minus(o: Snap): Snap = Snap(calls - o.calls, batches - o.batches,
      tokens - o.tokens, busyNanos - o.busyNanos, distinct - o.distinct,
      byPrefix.map { case (k, v) => k -> (v - o.byPrefix.getOrElse(k, 0L)) })
  }

  /** Start a fresh distinct-prompt window (the measured ops only). */
  def resetDistinct(): Unit = distinct.clear()

  def snap(): Snap = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    byPrefix.forEach((k, v) => m(k) = v.sum())
    Snap(calls.sum(), batches.sum(), tokens.sum(), busyNanos.sum(),
      distinct.size.toLong, m.toMap)
  }
}
