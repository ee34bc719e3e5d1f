package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** The mains' flag parser fails before any work, naming the flag, where a
  * pairwise split dropped a trailing flag or ignored a misspelt one. */
class JobFlagsSpec extends AnyFunSuite {

  private def rejected(main: Array[String] => Unit, args: String*): String =
    intercept[IllegalArgumentException](main(args.toArray)).getMessage

  test("a flag with no value fails, naming it") {
    // the anti-filter flag dropped: the forward filter would run instead
    assert(rejected(ProbeJob.main, "--input", "t", "--bank", "b", "--key", "conv_id",
      "--out", "p", "--reverse") === "requirement failed: flag --reverse has no value")
    // --once dropped: a continuous trigger that never ends would run instead
    assert(rejected(StreamSketchJob.main, "--input", "t", "--out", "s", "--once") ===
      "requirement failed: flag --once has no value")
    assert(rejected(GenJob.main, "--out", "--convs", "10") ===
      "requirement failed: flag --out has no value")
  }

  test("a flag the main does not list fails, naming it") {
    // misspelt --max-parts: every part would be built
    assert(rejected(SketchBuildJob.main, "--input", "t", "--out", "b", "--max-part", "3")
      .contains("unknown flag --max-part"))
    assert(rejected(ProfileJob.main, "t").contains("unknown flag t"))
  }

  test("listed flags with values parse to a map") {
    assert(JobSession.flags(Array("--a", "1", "--b", "x y"), "--a", "--b", "--c") ===
      Map("--a" -> "1", "--b" -> "x y"))
  }
}
