package graft.pipeline

import graft.functions.TextFunctions.TokenRatio
import graft.infer.{InferOps, InferenceClient, MockInference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The V1 long-document QA pipeline re-expressed as a Spark plan
  * (SURVEY.md §3.1; reference /root/reference/LLMxMapReduce_V1/pipeline.py:30):
  *
  *   chunk → map → filter → collapse-loop → reduce
  *
  * Input: one row per (doc_id, question, text). Output: (doc_id, answer).
  *
  * Spark shape: chunking is a generator expression (`posexplode` over a
  * chunker UDF); map is an embarrassingly-parallel batched inference pass
  * (no shuffle); the collapse loop is a driver-controlled iteration of
  * [window bin-assign → groupBy-merge] — Spark's partial→final aggregation
  * expressed over an LLM merge; reduce is one `groupBy(doc_id)` with sorted
  * `collect_list` into a final inference call. At 100 TB every stage scales
  * with partition count: only the per-document groupBy/window shuffles, and
  * those key on doc_id (no global ordering anywhere).
  */
object V1Pipeline {

  final case class Config(
      chunkBudget: Int = 256,      // tokens per chunk (map stage)
      chunkOverlap: Int = 0,       // tokens repeated from the previous chunk
      collapseBudget: Int = 512,   // token budget the collapsed set must fit
      binBudget: Int = 384,        // tokens per collapse bin
      maxCollapseIters: Int = 8)

  /** The irrelevance marker (cf. pipeline.py:10-27). */
  val NoInfo = "[NO INFORMATION]"

  def run(
      docs: DataFrame, // doc_id, question, text
      client: InferenceClient = new MockInference,
      cfg: Config = Config(),
      auditDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    registerChunker(spark, cfg.chunkBudget, cfg.chunkOverlap)
    // S4: per-stage input/output audit log (cf. LLMxMapReduce_V1/
    // utils.py:30-46) — side-output JSONL per stage when enabled. A plain
    // side write: InferOps.complete caches the rows its first action
    // computes, so the audit files and the answer come from the same model
    // replies, each computed once.
    def audit(stage: String, df: DataFrame): DataFrame = {
      auditDir.foreach(dir =>
        df.write.mode("overwrite").json(s"$dir/$stage"))
      df
    }

    // ---- chunk (T2/T3): generator expression, one row per chunk
    val chunks = docs.select(
      col("doc_id"), col("question"),
      posexplode(expr("graft_chunk(text)")).as(Seq("chunk_idx", "chunk")))

    // ---- map (A1): batched inference, no shuffle
    val mapped = audit("map", InferOps.complete(
      chunks.withColumn("prompt",
        concat(lit("MAP|"), col("question"), lit("|"), col("chunk"))),
      "prompt", "response", client)
      .select(col("doc_id"), col("question"), col("chunk_idx"),
        col("response")))

    // ---- filter (F1): drop [NO INFORMATION] unless the question asks for it
    val parsed = withProtocolFields(mapped)
    val kept = audit("filter", parsed.filter(
      !upper(col("answer")).contains(NoInfo) ||
        upper(col("question")).contains(NoInfo)))

    // ---- collapse loop (A2/W7): while any doc exceeds the budget, pack
    // adjacent records into bins and LLM-merge each bin. Driver loop with
    // lineage truncation (IterativeStage).
    def oversized(df: DataFrame): Boolean =
      !df.groupBy("doc_id")
        .agg(sum(length(col("response")).divide(TokenRatio)).as("tok"))
        .filter(col("tok") > cfg.collapseBudget)
        .isEmpty

    val (collapsed, _) = IterativeStage.loop(
      kept.select("doc_id", "question", "chunk_idx", "response"),
      cfg.maxCollapseIters,
      done = df => !oversized(df)) { df =>
      // reference-faithful greedy packing (restart-at-boundary), not the
      // window running-sum approximation — see Packing.exactBins
      val binned = graft.operators.Packing.packTextBins(
        df, "doc_id", Seq("chunk_idx"), "response", cfg.binBudget)
      val packed = binned
        .groupBy("doc_id", "question", "bin")
        .agg(
          array_join(
            expr("transform(array_sort(collect_list(struct(chunk_idx, response))), p -> p.response)"),
            "\n---\n").as("joined"))
      InferOps.complete(
        packed.withColumn("prompt", concat(lit("COLLAPSE|"), col("joined"))),
        "prompt", "response", client)
        .select(col("doc_id"), col("question"),
          col("bin").as("chunk_idx"), col("response"))
    }

    // ---- reduce (A3): one final call per doc over the ordered survivors;
    // confidence calibration (max_by semantics) lives in the mock protocol.
    val gathered = collapsed
      .groupBy("doc_id", "question")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(chunk_idx, response))), p -> p.response)"),
        "\n---\n").as("joined"))
    audit("reduce", InferOps.complete(
      gathered.withColumn("prompt",
        concat(lit("REDUCE|"), col("question"), lit("|"), col("joined"))),
      "prompt", "answer", client)
      .select("doc_id", "answer"))
  }

  /** Parse the structured-information protocol fields out of a response
    * (Extracted Information / Answer / Confidence Score — qa.yaml:19-23). */
  def withProtocolFields(df: DataFrame): DataFrame =
    df.withColumn("extracted",
        regexp_extract(col("response"), "Extracted Information: (.*)", 1))
      .withColumn("answer",
        regexp_extract(col("response"), "Answer: (.*)", 1))
      .withColumn("confidence",
        regexp_extract(col("response"), "Confidence Score: (\\d+)", 1)
          .cast("int"))

  /** Register the chunker as a SQL-callable UDF (array generator). With
    * `overlap` > 0 each chunk after the first repeats the last `overlap`
    * tokens of its predecessor (T3 — the reference's separator-aware packing
    * with overlap, Generator.py:234-299), giving the map stage cross-chunk
    * context at the cost of `overlap/budget` duplicated tokens. */
  private def registerChunker(
      spark: SparkSession, budget: Int, overlap: Int = 0): Unit =
    spark.udf.register("graft_chunk",
      (text: String) => {
        val t = Option(text).getOrElse("")
        if (overlap > 0)
          graft.functions.TextFunctions.chunkTextOverlap(t, budget, overlap)
        else graft.functions.TextFunctions.chunkText(t, budget)
      })
}
