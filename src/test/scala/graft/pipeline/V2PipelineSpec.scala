package graft.pipeline

import graft.SparkTestBase
import graft.infer.{MockInference, RecordingClient}
import org.apache.spark.sql.functions._

/** End-to-end V2 survey pipeline on mock inference: 2 surveys × 3 papers
  * through encode → group → skeleton → digest → refine block → decode
  * (the t1 smoke shape from SURVEY.md §5.5). */
class V2PipelineSpec extends SparkTestBase {

  private def fixture = {
    import spark.implicits._
    def paper(t: String) =
      (t, s"# Intro\nBody of $t with several findings and details.")
    Seq(
      ("s1", "Stream Processing",
        Seq(paper("Pipelined Dataflow"), paper("Windowed Aggregation"),
          paper("State Stores"))),
      ("s2", "Vector Search",
        Seq(paper("LSH Methods"), paper("Graph ANN"))))
      .toDF("survey_id", "title", "papers")
      .withColumn("papers", col("papers").cast(
        "array<struct<title:string,txt:string>>"))
  }

  test("encode explodes papers and slugs bibkeys (S1/S2/F2)") {
    val papers = V2Pipeline.encode(fixture)
    assert(papers.count() == 5)
    val keys = papers.select("bibkey").collect().map(_.getString(0)).toSet
    assert(keys.contains("pipelined-dataflow") && keys.contains("graph-ann"))
  }

  test("grouping is a balanced round-robin (X3)") {
    val grouped = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config(nGroups = 2))
    val sizes = grouped.groupBy("survey_id", "group_id").count()
      .collect().map(_.getLong(2))
    assert(sizes.forall(n => n >= 1 && n <= 2))
  }

  test("full pipeline produces cited, assembled surveys") {
    val out = V2Pipeline.run(fixture, new MockInference,
      V2Pipeline.Config(nGroups = 2, blockCount = 1, convLayers = 2,
        kernelWidth = 2, poolSize = 3))
      .collect().map(r => r.getAs[String]("survey_id") -> r).toMap

    assert(out.keySet == Set("s1", "s2"))
    val s1 = out("s1")
    val content = s1.getAs[String]("content")
    // all skeleton sections present in assembled content
    assert(content.contains("Prose for"))
    assert(content.contains("[polished]"))
    // citations re-keyed to numeric indices (J2)
    assert("\\[\\d+(, \\d+)*\\]".r.findFirstIn(content).isDefined)
    assert(!content.matches("(?s).*\\[pipelined-dataflow.*"))
    // cite ratio in (0, 1] (A8)
    val ratio = s1.getAs[Double]("cite_ratio")
    assert(ratio > 0.0 && ratio <= 1.0)
    // refine block ran: skeleton carries the MODIFY marker
    assert(s1.getAs[String]("skeleton_md").contains("refined-"))
    // chart node injected a mermaid figure near its section (J7/T14)
    assert(content.contains("```mermaid"))
    assert(content.contains("**Overview of "))
  }

  test("markdown exports write per-survey content.md + skeleton.md (S8)") {
    val out = java.nio.file.Files.createTempDirectory("graft_md_").toString
    val result = V2Pipeline.run(fixture, new MockInference,
      V2Pipeline.Config(nGroups = 2, blockCount = 0, convLayers = 1))
    V2Pipeline.writeMarkdownExports(result, out)
    Seq("s1", "s2").foreach { sid =>
      val content = java.nio.file.Files.readString(
        java.nio.file.Paths.get(out, sid, "content.md"))
      val skel = java.nio.file.Files.readString(
        java.nio.file.Paths.get(out, sid, "skeleton.md"))
      assert(content.nonEmpty && skel.startsWith("#"))
    }
  }

  test("refine loop skips re-digest when heading structure is unchanged") {
    RecordingClient.prompts.clear()
    val out = V2Pipeline.run(fixture, new V2PipelineSpec.CountingMock(false),
      V2Pipeline.Config(nGroups = 2, blockCount = 1))
    out.collect()
    val calls = RecordingClient.callsPerPrefix()
    // 5 papers; the mock's MODIFY refines prose only (no heading change),
    // so the post-refine digest pass must be skipped: exactly one DIGEST
    // call per paper for the whole run
    assert(calls("DIGEST") == 5, s"expected 5 DIGEST calls (one pass), got $calls")
    // every stage asks the model once per row: no prompt is sent twice
    V2PipelineSpec.assertOncePerPrompt(surveys = 2, layers = 2)
  }

  test("refine loop re-digests surveys whose heading structure changes") {
    RecordingClient.prompts.clear()
    val out = V2Pipeline.run(fixture, new V2PipelineSpec.CountingMock(true),
      V2Pipeline.Config(nGroups = 2, blockCount = 1))
    out.collect()
    val calls = RecordingClient.callsPerPrefix()
    // s1 (3 papers) gets a heading change on MODIFY and re-digests; s2
    // (2 papers) keeps its first-pass digests: 5 + 3
    assert(calls("DIGEST") == 8, s"expected 5+3 DIGEST calls, got $calls")
    V2PipelineSpec.assertOncePerPrompt(surveys = 2, layers = 2)
  }

  test("fused refine loop matches the unfused per-layer dataflow") {
    // the fused task-local replay (refineSkeleton) must be byte-identical
    // to the unfused window/merge/prune stages, across layer depths
    // including the unfused checkpoint path (convLayers > 2)
    val client = new MockInference
    val papers = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config(nGroups = 2))
    val skeleton = V2Pipeline.skeletonInit(papers, client)
    val digests  = V2Pipeline.digest(papers, skeleton, client)
    for (layers <- Seq(1, 2, 3)) {
      val cfg = V2Pipeline.Config(nGroups = 2, convLayers = layers,
        kernelWidth = 2, poolSize = 3)
      val fused = V2Pipeline.refineSkeleton(skeleton, digests, client, cfg)
        .orderBy("survey_id").collect().toSeq
      val unfused = V2Pipeline.refineSkeletonUnfused(skeleton, digests, client, cfg)
        .orderBy("survey_id").collect().toSeq
      assert(fused == unfused, s"fused/unfused diverged at convLayers=$layers")
    }
  }

  test("digest shape-check trips on a corrupted skeleton (J1)") {
    val papers = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config())
    // skeleton whose headings can't match digest output: digest() derives
    // digests FROM the skeleton, so corrupt the check input instead —
    // feed digests from skeleton A but validate against skeleton B.
    val client = new MockInference
    val skelA = V2Pipeline.skeletonInit(papers, client)
    val digests = V2Pipeline.digest(papers, skelA, client)
    val skelB = skelA.withColumn("skeleton_md", lit("# Only One Section"))
    // structural conformance of A-digests against B-skeleton must fail
    val bad = digests.select(col("survey_id"), col("path")).distinct()
      .join(V2Pipeline.skeletonRows(skelB).select("survey_id", "path"),
        Seq("survey_id", "path"), "left_anti").count()
    assert(bad > 0)
  }
}

object V2PipelineSpec {
  import org.scalatest.Assertions._

  /** Calls == distinct prompts for every prefix but MERGE. The fused
    * convolution replay may draw the same kernel sample in two layers and
    * so send one MERGE prompt twice on purpose; there the count is one call
    * per survey and layer. */
  def assertOncePerPrompt(surveys: Int, layers: Int): Unit =
    RecordingClient.logged.groupBy(_.takeWhile(_ != '|')).foreach {
      case ("MERGE", ps) =>
        assert(ps.size == surveys * layers,
          s"MERGE: ${ps.size} calls for $surveys surveys x $layers layers")
      case (prefix, ps) =>
        assert(ps.size == ps.distinct.size,
          s"$prefix: ${ps.size} calls for ${ps.distinct.size} distinct prompts")
    }

  /** With `mutateHeading`, turns s1's MODIFY into a structural (heading)
    * edit so the selective re-digest path is exercised. */
  final class CountingMock(mutateHeading: Boolean) extends RecordingClient {
    override protected def reply(p: String, r: String): String =
      if (mutateHeading && p.startsWith("MODIFY|") &&
          p.contains("Stream Processing"))
        r.replaceFirst("# Conclusion", "# Closing Remarks")
      else r
  }
}
