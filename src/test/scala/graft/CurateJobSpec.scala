package graft

import org.scalatest.funsuite.AnyFunSuite

class CurateJobSpec extends AnyFunSuite {

  test("CurateJob flags: an unknown key or a key with no value fails, naming the flag") {
    assert(CurateJob.parseFlags(Seq("--input", "in", "--output", "out", "--max-partitions", "2")) ==
      Map("input" -> "in", "output" -> "out", "max-partitions" -> "2"))
    assert(CurateJob.parseFlags(Nil) == Map.empty)
    def failure(args: String*) = intercept[IllegalArgumentException](CurateJob.parseFlags(args)).getMessage
    assert(failure("--input", "in", "--max-partition", "2").contains("unknown flag --max-partition"))
    assert(failure("input", "in").contains("unknown flag input"))
    assert(failure("--input", "in", "--concurrency").contains("flag --concurrency has no value"))
    assert(failure("--input", "--output", "out").contains("flag --input has no value"))
  }
}
