package graft.infer

import graft.functions.TextFunctions
import graft.operators.ResultMemo
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Bridges [[InferenceClient]] into DataFrame plans — the engine's one
  * inference edge.
  *
  * `mapPartitions` with explicit batching (not a per-row UDF): one client per
  * partition-task, `batchSize` prompts per transport call — the Spark
  * equivalent of the reference's Module/Neuron gevent fan-out with a
  * semaphore-capped connection pool (SURVEY.md D10). Partition width (set by
  * the caller via `repartition`) IS the concurrency cap: 1000 executors →
  * 1000 concurrent client instances, each batching — no driver-side loop,
  * no collect.
  */
object InferOps {

  /** Cost accounting for inference traffic (the reference's token-usage
    * history, SURVEY.md A11/D9) as Spark accumulators: aggregated across all
    * executors, visible in the UI and after the job on the driver. */
  final case class TokenMetrics(
      calls: LongAccumulator,
      promptTokens: LongAccumulator,
      completionTokens: LongAccumulator)

  object TokenMetrics {
    def apply(spark: SparkSession): TokenMetrics = {
      val sc = spark.sparkContext
      TokenMetrics(
        sc.longAccumulator("graft.infer.calls"),
        sc.longAccumulator("graft.infer.promptTokens"),
        sc.longAccumulator("graft.infer.completionTokens"))
    }
  }

  /** Append `outCol` = client.complete(row[promptCol]) to every row.
    *
    * The model is called once per row. The result is a LAZY local
    * checkpoint: the first action computes each partition and caches it,
    * and every later action (an audit write, a count, a second consumer)
    * reads the cached rows instead of calling the model again — the model
    * is nondeterministic and costs money, and the metrics count each call
    * once. Lazy, so it adds no job of its own. Callers therefore put no
    * checkpoint of their own on top of the result. Under
    * [[ResultMemo.bypass]] the raw `mapPartitions` dataflow is returned so
    * plan tooling still sees what runs below the edge. */
  def complete(
      df: DataFrame,
      promptCol: String,
      outCol: String,
      client: InferenceClient,
      batchSize: Int = 16,
      metrics: Option[TokenMetrics] = None): DataFrame = {
    val schema    = df.schema
    val promptIdx = schema.fieldIndex(promptCol)
    val outSchema = StructType(schema.fields :+ StructField(outCol, StringType))
    val enc       = Encoders.row(outSchema)
    ResultMemo.lazyCheckpointed(df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val prompts = batch.map(_.getString(promptIdx))
        val replies = client.completeBatch(prompts)
        metrics.foreach { m =>
          m.calls.add(prompts.length.toLong)
          m.promptTokens.add(prompts.map(TextFunctions.estimateTokens(_).toLong).sum)
          m.completionTokens.add(replies.map(TextFunctions.estimateTokens(_).toLong).sum)
        }
        batch.lazyZip(replies).map((r, o) => Row.fromSeq(r.toSeq :+ o))
      }
    }(enc))
  }
}
