package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Inventory of the engine's `SPARK_GRAFT_*` environment knobs. Every env
  * read in `src/main/scala` (the `graft/tools` probes excepted) must be
  * declared below with the reason it exists, so a new knob — or a plan-form
  * switch kept alive only for re-measurement — cannot land without being
  * declared in the same diff. No SparkSession needed. */
class EnvKnobsSpec extends AnyFunSuite {

  private val declared: Map[String, String] = Map(
    "CPUS"        -> "local[N] core count for Bench, Verify and GraftSession",
    "SF_DIR"      -> "Bench's input scale-factor directory",
    "WARM_DIR"    -> "Bench's warm-up session input, when not the bench SF",
    "BENCH_REPS"  -> "Bench's number of complete suite passes",
    "D16_CAPK"    -> "d16 deployment lever: per-cell cap for large corpora",
    "D04_BANDS"   -> "d04 deployment lever: the measured 24x12 band scheme",
    "STATE_PARTS" -> "streaming state-store partitions, for A/B runs",
    "BIN_PART"    ->
      "q04/q05 hash-form switch, until the memo keeps range partitioning")

  private val envRead =
    """(?:sys\.env[.\w]*|System\.getenv)\(\s*"SPARK_GRAFT_(\w+)"""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val tools = root.resolve("graft/tools")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(tools))
      .toList
    finally walk.close()
  }

  test("every SPARK_GRAFT_* env read outside graft/tools is declared") {
    val found = sources.flatMap { p =>
      envRead.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p)
    }
    assert(found.nonEmpty, "scanner found no env reads at all")
    val undeclared = found.filterNot(f => declared.contains(f._1))
    assert(undeclared.isEmpty,
      s"undeclared knobs (add each with its reason): $undeclared")
    val unused = declared.keySet -- found.map(_._1)
    assert(unused.isEmpty, s"declared knobs nothing reads: $unused")
  }
}
