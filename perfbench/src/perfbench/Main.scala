package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run of one workload in one JVM:
  *
  *   an untimed cold start with warm-up ops, then setup × `setups` (session
  *   start + index warm-up + one warm-up op, each round in a fresh session),
  *   then the ops in the last session, then the output checks, then
  *   `result.json`.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *        <cores> <serviceMicros> <setups>
  *
  * The JVM only measures and checks; `run.py` turns the record into the
  * benchmark's metrics. Every layer is timed from outside: around the calls
  * into QueryDef.build / V1Pipeline.run / V2Pipeline.run / the Streams frame
  * builders, around forcing `queryExecution.executedPlan`, around the action,
  * and through the listeners in [[Probe]]. */
object Main {

  final case class Opts(workload: String, input: String, work: String, seconds: Double,
      trace: Boolean, cores: Int, serviceMicros: Long, setups: Int)

  /** One op: wall and process CPU cover its body only, not its check. */
  final case class OpRec(id: String, name: String, wallS: Double = 0, cpuS: Double = 0,
      ok: Boolean = false, err: String = "", inputRows: Long = 0, docs: Long = 0,
      buildS: Double = 0, planS: Double = 0, exchanges: Int = 0, memoScans: Int = 0,
      memoMb: Double = 0, groups: Seq[String] = Nil)

  /** What a workload supplies; `setup` returns its index warm-up seconds. */
  trait Workload {
    def setup(spark: SparkSession, round: Int): Double
    /** Untimed ops that bring the JIT to steady state before the clock. */
    def warmup(spark: SparkSession): Unit = ()
    def measure(spark: SparkSession): Seq[OpRec]
    def extra: Seq[(String, String)] = Nil
  }

  private val born = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1), args(2), args(3).toDouble, args(4) == "1",
      args(5).toInt, args(6).toLong, args(7).toInt)
    Trace.on = o.trace
    val client = new StandInClient(o.serviceMicros)
    val wl: Workload = o.workload match {
      case "qa_longdoc"      => new Workloads.QaLongdoc(o, client)
      case "olap_shared_10x" => new Workloads.OlapShared(o)
      case other             => sys.error(s"unknown workload $other")
    }
    val probe = new Probe
    val streamProbe = new Probe.StreamProbe
    var spark: SparkSession = null
    val setupS, warmIndexS = ArrayBuffer.empty[Double]
    // round 0 is the cold start and the warm-up, untimed: the JIT and
    // Spark's codegen cache are JVM-wide, so the timed set-up rounds that
    // follow, each in a fresh session, and the ops in the last one run warm
    for (round <- 0 to o.setups) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(o)
      spark.sparkContext.addSparkListener(probe)
      spark.streams.addListener(streamProbe)
      spark.sparkContext.setJobGroup("setup", "setup", false)
      val index = wl.setup(spark, round)
      spark.sparkContext.clearJobGroup()
      if (round == 0) wl.warmup(spark)
      else {
        setupS += (System.nanoTime() - t0) / 1e9
        warmIndexS += index
      }
      log(s"setup $round done")
    }

    val canary0 = canary(spark, o.cores)
    InferStats.resetDistinct()
    val inf0 = InferStats.snap()
    val cpu0 = processCpuS()
    val t0 = System.nanoTime()
    val ops = wl.measure(spark)
    val windowS = (System.nanoTime() - t0) / 1e9
    val windowCpuS = processCpuS() - cpu0
    val inf = InferStats.snap().minus(inf0)
    log("ops done")
    val canary1 = canary(spark, o.cores)
    org.apache.spark.BusDrain(spark.sparkContext)
    // the ContextCleaner drops unreferenced blocks after a GC finds them:
    // collect until the retained heap stops shrinking
    var heapLast = Long.MaxValue
    var heapNow = Long.MaxValue - 1
    var gcs = 0
    while (heapNow < heapLast && gcs < 5) {
      heapLast = heapNow
      System.gc()
      Thread.sleep(100)
      heapNow = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      gcs += 1
    }
    val heapMb = math.min(heapNow, heapLast) / 1e6
    val traceSelf = Trace.selfSeconds(ops.map(_.id).toSet)
    if (o.trace) Trace.write(Paths.get(o.work, "spans.jsonl"))

    val opJson = ops.map { r =>
      val a = probe.accOf(r.id +: r.groups)
      Json.obj(
        "id" -> Json.str(r.id), "name" -> Json.str(r.name), "wall_s" -> Json.num(r.wallS),
        "process_cpu_s" -> Json.num(r.cpuS),
        "ok" -> r.ok.toString, "err" -> Json.str(r.err), "input_rows" -> r.inputRows.toString,
        "docs" -> r.docs.toString, "build_s" -> Json.num(r.buildS), "plan_s" -> Json.num(r.planS),
        "exchanges" -> r.exchanges.toString, "memo_scans" -> r.memoScans.toString,
        "memo_mb" -> Json.num(r.memoMb), "jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
        "tasks" -> a.tasks.toString, "run_s" -> Json.num(a.runMs / 1e3),
        "cpu_s" -> Json.num(a.cpuNs / 1e9), "gc_s" -> Json.num(a.gcMs / 1e3),
        "task_wait_s" -> Json.num(a.waitMs / 1e3),
        "shuffle_write_mb" -> Json.num(a.shuffleWrite / 1e6),
        "shuffle_read_mb" -> Json.num(a.shuffleRead / 1e6),
        "fetch_wait_s" -> Json.num(a.fetchWaitMs / 1e3), "spill_mb" -> Json.num(a.spill / 1e6),
        "read_skew" -> Json.num(a.readSkew), "scan_mb" -> Json.num(a.inputBytes / 1e6),
        "scan_rows" -> a.inputRows.toString, "sink_mb" -> Json.num(a.outputBytes / 1e6),
        "sink_s" -> Json.num(a.sinkNanos / 1e9),
        "jobs_by_site" -> Json.obj(Probe.CallSites.map(c => c -> a.jobsBySite(c).toString): _*))
    }
    val record = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "cores" -> o.cores.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "warm_index_s" -> Json.arr(warmIndexS.map(Json.num).toSeq),
      "window_s" -> Json.num(windowS), "window_cpu_s" -> Json.num(windowCpuS),
      "heap_mb" -> Json.num(heapMb),
      "canary_s" -> Json.arr(Seq(Json.num(canary0), Json.num(canary1))),
      "infer" -> Json.obj(
        "calls" -> inf.calls.toString, "batches" -> inf.batches.toString,
        "tokens" -> inf.tokens.toString, "busy_s" -> Json.num(inf.busyNanos / 1e9),
        "distinct" -> inf.distinct.toString, "batch_size" -> InferStats.BatchSize.toString,
        "by_prefix" -> Json.obj(InferStats.Prefixes.map(p =>
          p -> inf.byPrefix.getOrElse(p, 0L).toString): _*)),
      "trace" -> Json.obj(traceSelf.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "stream" -> streamJson(streamProbe, ops.map(_.id).toSet),
      "ops" -> Json.arr(opJson)) ++ wl.extra: _*)
    Files.write(Paths.get(o.work, "result.json"), record.getBytes("UTF-8"))
    stop(spark)
    log("stopped")
  }

  def session(o: Opts): SparkSession = {
    val s = graft.GraftSession.builder("perfbench", o.cores.toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    graft.operators.ResultMemo.clearSession(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Contention canary (as in graft.Bench): a fixed compute probe over
    * every slot, min of 3. A draw taken under steal reads high here. */
  def canary(spark: SparkSession, cores: Int): Double = {
    spark.sparkContext.setJobGroup("canary", "canary", false)
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 16000000L * cores, 1L, cores)
        .selectExpr("sum((id * 2654435761) % 1000000007)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    try Seq.fill(3)(once()).min finally spark.sparkContext.clearJobGroup()
  }

  /** Micro-batches of the measured ops' streaming queries (a query's name
    * starts with the id of the op that ran it): per-batch means, and the
    * state each op's queries held after their last batch. */
  def streamJson(sp: Probe.StreamProbe, opIds: Set[String]): String = {
    val bs = sp.batches.asScala.toSeq.filter(b => opIds(opOf(b.name)))
    val nOps = bs.map(b => opOf(b.name)).distinct.size
    def mean(f: Probe.Batch => Long): String =
      Json.num(if (bs.isEmpty) 0.0 else bs.map(f).sum.toDouble / bs.size)
    val last = bs.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    def perOp(x: Double): String = Json.num(if (nOps == 0) 0.0 else x / nOps)
    Json.obj("ops" -> nOps.toString, "batches" -> perOp(bs.size),
      "trigger_ms" -> mean(_.triggerMs), "add_batch_ms" -> mean(_.addBatchMs),
      "wal_commit_ms" -> mean(_.walCommitMs), "state_commit_ms" -> mean(_.stateCommitMs),
      "state_rows" -> perOp(last.map(_.stateRows).sum.toDouble),
      "state_mb" -> perOp(last.map(_.stateBytes).sum / 1e6))
  }

  /** Op ids are plain identifiers; a streaming query is named `<op id>__<frame>`. */
  def opOf(queryName: String): String = queryName.split("__").head

  /** One closed-loop op: `body` runs under the op's job group with wall and
    * process CPU taken around it and returns its result plus what to add to
    * the record (computed after the clock stops); `check` runs after that. */
  def timed[T](spark: SparkSession, base: OpRec)(body: => (T, OpRec => OpRec))(
      check: T => String): OpRec = {
    val sc = spark.sparkContext
    sc.setJobGroup(base.id, base.name, false)
    var out: Option[T] = None
    var rec = base
    try Trace.inOp(base.id) {
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      val (result, fill) = body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuS() - c0
      out = Some(result)
      rec = fill(base.copy(wallS = wall, cpuS = cpu, ok = true))
    } catch {
      case e: Throwable =>
        rec = base.copy(ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally sc.clearJobGroup()
    out.fold(rec) { result =>
      val err = try check(result) catch { case e: Throwable => s"check: ${e.getMessage}" }
      if (err.isEmpty) rec else rec.copy(ok = false, err = err)
    }
  }

  /** A DataFrame op: build → force the executed plan → execute. */
  def runOp(spark: SparkSession, id: String, name: String, inputRows: Long, docs: Long)(
      build: => DataFrame)(check: Array[Row] => String): OpRec =
    timed(spark, OpRec(id, name, inputRows = inputRows, docs = docs)) {
      val t0 = System.nanoTime()
      val df = Trace.span("build")(build)
      val t1 = System.nanoTime()
      Trace.span("plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = Trace.span("execute")(df.collect())
      (rows, { r: OpRec =>
        val ps = Probe.planStats(df.queryExecution.executedPlan)
        val memoMb = spark.sparkContext.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum / 1e6
        r.copy(buildS = (t1 - t0) / 1e9, planS = (t2 - t1) / 1e9, exchanges = ps.exchanges,
          memoScans = ps.memoScans, memoMb = memoMb)
      })
    }(check)
}

/** Minimal JSON writing (the record is flat and small). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
