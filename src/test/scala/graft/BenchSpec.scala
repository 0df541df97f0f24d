package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure decisions: which mirror roots a fresh build may delete,
  * which core counts it accepts, and which file a run writes. */
class BenchSpec extends AnyFunSuite {
  test("staleMirrors: deletes only roots of a stale layout") {
    val own = Bench.MirrorPrefix + "0123abcd"
    val otherFixture = Bench.MirrorPrefix + "ffff0000"
    val v4 = "graft_bench_mirror_v4_0123abcd"
    val names = Seq(own, otherFixture, v4, "graft_ld_gr_sup96_s1_p2_x", "unrelated")
    assert(Bench.staleMirrors(names) == Seq(v4))
  }

  test("cpusFrom: a positive integer, else an error naming the variable") {
    assert(Bench.cpusFrom("8") == Right(8))
    for (bad <- Seq("*", "0", "-2", "", "4 ", "four", "2.5")) {
      val e = Bench.cpusFrom(bad)
      assert(e.isLeft, s"accepted '$bad'")
      assert(e.swap.exists(_.contains("SPARK_GRAFT_CPUS")))
    }
  }

  test("benchTarget: BENCH.json only when absent or recording the same cpus") {
    assert(Bench.benchTarget(None, 8) == "BENCH.json")
    assert(Bench.benchTarget(Some("""{"metric":"total","cpus":8,"x":1}"""), 8) == "BENCH.json")
    assert(Bench.benchTarget(Some("""{"metric":"total","cpus":32}"""), 8) == "BENCH_c8.json")
    assert(Bench.benchTarget(Some("""{"metric":"total","cpus":80}"""), 8) == "BENCH_c8.json")
    assert(Bench.benchTarget(Some("""{"metric":"total","value":1.0}"""), 8) == "BENCH_c8.json")
  }
}
