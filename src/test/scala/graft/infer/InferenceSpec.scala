package graft.infer

import graft.SparkTestBase

class InferenceSpec extends SparkTestBase {

  test("HalvingClient halves content until the call succeeds (digest_module.py:117-131)") {
    var seen = List.empty[Int]
    val picky = new InferenceClient {
      override def complete(p: String): String = {
        val content = p.substring(p.lastIndexOf('|') + 1)
        seen ::= content.length
        if (content.length > 100) throw new RuntimeException("too long")
        s"ok:${content.length}"
      }
    }
    val c = new HalvingClient(picky)
    val out = c.complete("DIGEST|meta|" + ("x" * 800))
    assert(out == "ok:100")
    // 800 -> 400 -> 200 -> 100: four attempts
    assert(seen.reverse == List(800, 400, 200, 100))
  }

  test("HalvingClient gives up with the fallback after maxAttempts") {
    val always = new InferenceClient {
      override def complete(p: String): String = throw new RuntimeException("no")
    }
    val c = new HalvingClient(always, maxAttempts = 3, fallback = "EMPTY")
    assert(c.complete("DIGEST|m|" + "y" * 64) == "EMPTY")
  }

  test("MockInference protocol is deterministic") {
    val m = new MockInference
    val p = "SUGGEST|outline|digest text"
    assert(m.complete(p) == m.complete(p))
    assert(m.complete("EVAL|abc") == m.complete("EVAL|abc"))
  }

  test("complete calls the model once per row across two actions (A11)") {
    import spark.implicits._
    RecordingClient.prompts.clear()
    val metrics = InferOps.TokenMetrics(spark)
    val docs = (1 to 20).map(i => (i.toLong, s"MAP|q|chunk $i ANSWER[x$i]"))
      .toDF("id", "prompt")
    val replied = InferOps.complete(docs, "prompt", "reply",
      new RecordingClient, batchSize = 4, metrics = Some(metrics))
    // two actions over one frame: the second reads the rows the first
    // materialized instead of asking the model again
    assert(replied.count() == 20)
    assert(replied.collect().length == 20)
    assert(RecordingClient.prompts.size == 20,
      s"expected one client call per row, got ${RecordingClient.prompts.size}")
    assert(metrics.calls.value == 20)
    assert(metrics.promptTokens.value > 0)
    assert(metrics.completionTokens.value > 0)
  }
}
