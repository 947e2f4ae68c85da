package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every environment variable the library reads is named here. A decided
  * A/B switch is deleted together with the paths it selects; this list keeps
  * one from returning unnoticed — adding a name is a deliberate edit.
  */
class EnvAllowListSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val Allowed = Set(
    "GRAFT_BENCH_BUDGET_SEC", "GRAFT_BENCH_CONV", "GRAFT_BENCH_CONV_FLOOR",
    "GRAFT_BENCH_CONV_MIN", "GRAFT_BENCH_CORES_HIGH", "GRAFT_BENCH_CORES_LOW",
    "GRAFT_BENCH_CORES_PEAK", "GRAFT_BENCH_CPU_FACTOR", "GRAFT_BENCH_DIR",
    "GRAFT_BENCH_FORK", "GRAFT_BENCH_SKIP_QUERIES", "GRAFT_BENCH_TRIALS",
    "GRAFT_MASTER", "GRAFT_STREAM_SCRATCH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  /** An env read: `sys.env` / `System.getenv`, then the variable's name as
    * a string literal (through `.get`, `.getOrElse`, `.contains` or apply).
    */
  private val Access = """sys\.env|System\.getenv""".r
  private val Named = """^(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([A-Za-z0-9_]+)"""".r

  test("src/main reads only allow-listed environment variables") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val reads = for {
      f: Path <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- Access.findAllMatchIn(line)
    } yield (s"$f:${n + 1}", Named.findFirstMatchIn(line.substring(m.end)).map(_.group(1)))
    assert(reads.nonEmpty, "scanner found no env reads at all")
    val unnamed = reads.collect { case (at, None) => at }
    assert(unnamed.isEmpty, s"env reads without a literal variable name: $unnamed")
    val unknown = reads.collect { case (at, Some(name)) if !Allowed(name) => s"$at $name" }
    assert(unknown.isEmpty, s"env variables outside the allow-list: $unknown")
  }
}
