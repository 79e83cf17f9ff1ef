package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{QueryDef, Warm}
import graft.infer.InferenceClient
import graft.pipeline.{V1Pipeline, V2Pipeline}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import Main.{OpRec, Opts, Workload}

/** The workloads: closed loops, each op runs after the previous one ends. */
object Workloads {

  def readTree(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** A whole number of cycles, each about `cycleSeconds` on 4 cores, for a
    * run of `seconds`: every run of a given length does the same work,
    * whatever the engine's speed. */
  def cycles(seconds: Double, cycleSeconds: Double): Range =
    0 until math.max(1, math.ceil(seconds / cycleSeconds).toInt)

  /** The LLM pipelines over the stand-in model, as a request mix: each
    * cycle asks QaPerSurvey V1 passkey questions, each over one long
    * document with the per-stage audit log on (the answer must be the
    * planted passkey), then runs one V2 survey (`n_papers` and `cite_ratio`
    * follow p02's oracle: the capped paper count, and 1.0). */
  final class QaLongdoc(o: Opts, client: InferenceClient) extends Workload {
    val QaPerSurvey = 4
    /** One cycle takes about this long on 4 cores. */
    val CycleSeconds = 7.5
    private val expect = readTree(s"${o.input}/expect.json")
    private val docs = expect.fieldNames.asScala.toSeq.map(_.toLong)
    private val surveyExpect = readTree(s"${o.input}/survey_expect.json")
    private val surveys = surveyExpect.fieldNames.asScala.toSeq.sorted
    private val cfg = V1Pipeline.Config()
    private val surveyCfg = V2Pipeline.Config(nGroups = 2, blockCount = 1, convLayers = 1,
      kernelWidth = 2, poolSize = 3)

    private def qa(spark: SparkSession, id: String, doc: Long): OpRec = {
      val want = expect.get(doc.toString)
      val audit = Paths.get(o.work, "audit", id).toString
      val rec = Main.runOp(spark, id, "qa", want.get("source_docs").asLong, 1) {
        V1Pipeline.run(
          spark.read.parquet(s"${o.input}/longdocs.parquet").filter(col("doc_id") === doc),
          client, cfg, Some(audit))
      } { rows =>
        val answer = want.get("answer").asText
        if (rows.length == 1 && rows(0).getAs[String]("answer") == answer) ""
        else s"doc $doc: expected $answer, got ${rows.map(_.mkString("|")).mkString(";")}"
      }
      deleteTree(audit)
      rec
    }

    private def survey(spark: SparkSession, id: String, sid: String): OpRec = {
      val want = surveyExpect.get(sid)
      val papers = want.get("n_papers").asLong
      Main.runOp(spark, id, "survey", papers, papers) {
        V2Pipeline.run(spark.read.parquet(s"${o.input}/surveys.parquet")
            .filter(col("survey_id") === sid), client, surveyCfg)
          .select("survey_id", "n_papers", "cite_ratio")
      } { rows =>
        if (rows.length == 1 && rows(0).getString(0) == sid && rows(0).getLong(1) == papers &&
            math.abs(rows(0).getDouble(2) - want.get("cite_ratio").asDouble) <= 1e-9) ""
        else s"survey $sid: expected $papers papers and cite_ratio 1.0, got ${rows.map(_.mkString("|")).mkString(";")}"
      }
    }

    private def cycle(spark: SparkSession, prefix: String, n: Int): Seq[OpRec] =
      (0 until QaPerSurvey).map { i =>
        qa(spark, s"${prefix}_${n}_$i", docs((n * QaPerSurvey + i) % docs.size))
      } :+ survey(spark, s"${prefix}_${n}_s", surveys(n % surveys.size))

    def setup(spark: SparkSession, round: Int): Double = {
      qa(spark, s"setup_$round", docs(round % docs.size))
      0.0
    }

    override def warmup(spark: SparkSession): Unit = {
      qa(spark, "warmup", docs(1 % docs.size))
      survey(spark, "warmup_s", surveys.last)
    }

    def measure(spark: SparkSession): Seq[OpRec] =
      cycles(o.seconds, CycleSeconds).flatMap(n => cycle(spark, "op", n))
  }

  /** Shared-memo OLAP: passes over queries that share memoized frames; the
    * memos are cleared and the indexes rebuilt (untimed) at each pass
    * boundary, as graft.Bench does. Each query is one op. Each query's
    * first measured result is dumped for the DuckDB oracle; later results
    * must hash the same. Each pass ends with one stream-ingest op
    * ([[StreamOp]]) over splits of the same corpus: the write-heavy use of
    * state beside the queries' read-only memo scans. */
  final class OlapShared(o: Opts) extends Workload {
    /** The families that share memoized frames (the q04/q05 bin frame, q46
      * reading q45's shared distinct, d06 verifying d03's candidates over the
      * signature index, s03 scoring s01/s02/s04), plus q13 for the exchange
      * pin. */
    val Queries: Seq[String] = Seq("q04_token_bins", "q05_collapse_bins",
      "q13_pricing_summary", "q45_kmv_distinct", "q46_kmv_set_ops", "d03_minhash_lsh",
      "d06_minhash_verified", "s01_cosine_topk", "s02_ann_lsh_topk", "s03_ann_recall",
      "s04_ann_ivf_topk")
    /** The collector's own pins: a query known to shuffle must show an
      * exchange in its final AQE plan, and the memoized q04 a memo scan. */
    val MustShuffle = "q13_pricing_summary"
    val MustMemo = "q04_token_bins"
    /** One pass with its boundary takes about this long on 4 cores. */
    val PassSeconds = 15.0

    private val dir = s"${o.input}/tables"
    private val defs = Queries.map(n => QueryDef.all.find(_.name == n)
      .getOrElse(sys.error(s"no query $n")))
    private val firstHash = scala.collection.mutable.Map.empty[String, String]
    private val stream = new StreamOp(s"${o.input}/stream", o.work,
      readTree(s"${o.input}/input.json").get("stream_rows").asLong)

    private def boundary(spark: SparkSession): Double = {
      graft.operators.ResultMemo.clearSession(spark)
      spark.sqlContext.clearCache()
      val t0 = System.nanoTime()
      Warm.indexes(spark, dir, tag = "perfbench", only = Queries.toSet)
      (System.nanoTime() - t0) / 1e9
    }

    private def query(spark: SparkSession, id: String, q: QueryDef, check: Boolean): OpRec = {
      val r = Main.runOp(spark, id, q.name, 0, 0)(q.build(spark, dir)) { rows =>
        if (!check) ""
        else {
          val (cols, canon) = Canon.rows(rows)
          val h = Canon.md5(canon.sorted.mkString("\n"))
          firstHash.get(q.name) match {
            case None =>
              firstHash(q.name) = h
              val dump = Paths.get(o.work, "olap", s"${q.name}.json")
              Files.createDirectories(dump.getParent)
              Files.write(dump, Json.obj("columns" -> Json.arr(cols.map(Json.str)),
                "rows" -> Json.arr(canon)).getBytes("UTF-8"))
              ""
            case Some(h0) => if (h == h0) "" else s"${q.name}: result differs from its first pass"
          }
        }
      }
      if (!check || !r.ok) r
      else if (r.name == MustShuffle && r.exchanges < 1)
        r.copy(ok = false, err = s"$MustShuffle: no ShuffleQueryStageExec in the final plan")
      else if (r.name == MustMemo && r.memoScans < 1)
        r.copy(ok = false, err = s"$MustMemo: no memo scan in the final plan")
      else r
    }

    private def pass(spark: SparkSession, prefix: String, check: Boolean): Seq[OpRec] =
      defs.map(q => query(spark, s"${prefix}_${q.name}", q, check)) :+
        stream.op(spark, s"${prefix}_stream", check)

    def setup(spark: SparkSession, round: Int): Double = {
      val idx = boundary(spark)
      query(spark, s"setup_$round", defs.head, check = false)
      idx
    }

    override def warmup(spark: SparkSession): Unit = {
      boundary(spark)
      pass(spark, "warmup", check = false)
    }

    def measure(spark: SparkSession): Seq[OpRec] =
      cycles(o.seconds, PassSeconds).flatMap { n =>
        boundary(spark)
        pass(spark, s"op_p$n", check = true)
      }

    override def extra: Seq[(String, String)] = Seq(
      "oracle_sql" -> Json.obj(Queries.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s))): _*))
  }
}

/** Canonical form of a result for the oracle comparison: columns sorted by
  * name, doubles rounded to 6 places, structs and arrays as JSON lists. */
object Canon {
  def rows(rows: Array[Row]): (Seq[String], Seq[String]) =
    if (rows.isEmpty) (Nil, Nil)
    else {
      val names = rows.head.schema.fieldNames.toSeq
      val order = names.indices.sortBy(names(_))
      (order.map(names), rows.toSeq.map(r => Json.arr(order.map(i => value(r.get(i))))))
    }

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => Json.str(s)
    case b: Array[Byte] => Json.str(b.map(x => f"$x%02x").mkString)
    case r: Row => Json.arr(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      Json.arr(m.toSeq.map { case (k, x) => Json.arr(Seq(value(k), value(x))) }.sorted)
    case s: Iterable[_] => Json.arr(s.map(value).toSeq)
    case other => Json.str(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) Json.str(d.toString)
    else java.lang.Double.toString(
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
