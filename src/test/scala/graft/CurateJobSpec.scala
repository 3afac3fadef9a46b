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
    assert(failure("--input", "in", "--max-partitions").contains("flag --max-partitions has no value"))
    // waves are sized by input bytes: there is no partitions-per-wave flag
    assert(failure("--concurrency", "2").contains("unknown flag --concurrency"))
    assert(failure("--input", "--output", "out").contains("flag --input has no value"))
  }

  test("CurateJob integer values: a non-integer names its flag or env var") {
    assert(CurateJob.intValue("--write-partitions", "16") == 16)
    def failure(args: String*) = intercept[IllegalArgumentException](CurateJob.main(args.toArray)).getMessage
    assert(failure("--input", "in", "--output", "out", "--write-partitions", "eight") ==
      "--write-partitions must be an integer, got 'eight'")
    assert(failure("--input", "in", "--output", "out", "--max-partitions", "1.5") ==
      "--max-partitions must be an integer, got '1.5'")
    assert(intercept[IllegalArgumentException](CurateJob.intValue("SPARK_GRAFT_CPUS", ""))
      .getMessage == "SPARK_GRAFT_CPUS must be an integer, got ''")
  }
}
