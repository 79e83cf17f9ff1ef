package perfbench

import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import Main.OpRec

/** Stream ingest as one closed-loop op: five stateful `Streams` frames
  * (tumbling counts, the click-purchase interval join, dedup, KMV updates,
  * packing) each read seeded event, document and order files one file per
  * micro-batch (Trigger.AvailableNow) into a memory sink, all five running
  * at once. Every op starts its queries afresh, so every op writes the same
  * state. Each sink must equal its batch twin: the same frame builder over
  * the same files read as a batch. */
final class StreamOp(dir: String, work: String, val rows: Long) {
  /** Same hash as the engine's batch KMV sketch (Sketches.kmvHash). */
  private def kmvHash(key: Column): Column =
    conv(substring(md5(concat(lit("kmv|"), key.cast("string"))), 1, 15), 16, 10).cast("long")

  private def frames(events: DataFrame, docs: DataFrame, orders: DataFrame): Seq[(String, String, DataFrame)] = {
    val keyed = orders.select(col("o_orderpriority").as("prio"), kmvHash(col("o_custkey")).as("h"))
    Seq(
      ("tumble", "complete", Streams.tumblingCounts(events)),
      ("join", "append", Streams.clickPurchaseJoin(events)),
      ("dedup", "append", Streams.dedupStream(docs)),
      ("kmv", "update", Streams.kmvUpdates(keyed)),
      ("pack", "update", Streams.packUpdates(docs)))
  }

  /** The final sketch per group is its highest-version emission. */
  private def finalKmv(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("prio").orderBy(col("ver").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("prio", "n_kept", "hk", "minima")
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().toSeq.map(r => Canon.value(r)).sorted

  /** Each twin's sorted rows, computed once, outside every op. */
  private lazy val twins: Map[String, Seq[String]] = {
    val spark = SparkSession.active
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def batch(kind: String): DataFrame =
      spark.read.option("pathGlobFilter", s"$kind*.parquet").parquet(dir)
    frames(graft.Tables.normalizeEventTs(batch("events")), batch("documents"), batch("orders"))
      .map { case (name, _, df) => name -> sorted(if (name == "kmv") finalKmv(df) else df) }.toMap
  }

  def op(spark: SparkSession, id: String, check: Boolean): OpRec =
    Main.timed(spark, OpRec(id, "stream_ingest", inputRows = rows)) {
      val t0 = System.nanoTime()
      val fs = Trace.span("build")(frames(Streams.eventsStream(spark, dir),
        Streams.documentsStream(spark, dir), Streams.ordersStream(spark, dir)))
      val t1 = System.nanoTime()
      val qs = Trace.span("execute") {
        val qs = fs.map { case (name, mode, df) =>
          // the query name (also the sink's view) leads with the op id:
          // Probe.StreamProbe and Main.streamJson attribute batches by it
          df.writeStream.outputMode(mode).format("memory").queryName(s"${id}__$name")
            .option("checkpointLocation", s"$work/stream/$id/$name")
            .trigger(Trigger.AvailableNow()).start()
        }
        qs.foreach(_.awaitTermination())
        qs
      }
      (qs.map(_.name), (r: OpRec) =>
        r.copy(buildS = (t1 - t0) / 1e9, groups = qs.map(_.runId.toString)))
    } { tables =>
      try if (!check) "" else tables.flatMap { table =>
        val name = table.drop(table.indexOf("__") + 2)
        val sink = spark.table(table)
        val got = sorted(if (name == "kmv") finalKmv(sink) else sink)
        if (got == twins(name)) None else Some(s"stream sink $name differs from its batch twin")
      }.mkString("; ")
      finally tables.foreach(spark.catalog.dropTempView)
    }
}
