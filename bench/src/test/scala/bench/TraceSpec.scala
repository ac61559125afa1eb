package bench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def scratch(prefix: String): File = {
    val base = new File("target")
    base.mkdirs()
    Files.createTempDirectory(base.toPath, prefix).toFile
  }

  test("union counts overlapping intervals once") {
    assert(Intervals.unionWithin(Seq((0.0, 10.0), (5.0, 15.0)), 0, 100) == 15.0)
    assert(Intervals.unionWithin(Seq((5.0, 15.0), (0.0, 10.0)), 0, 100) == 15.0)
  }

  test("union adds disjoint intervals and nests contained ones") {
    assert(Intervals.unionWithin(Seq((0.0, 2.0), (4.0, 7.0)), 0, 100) == 5.0)
    assert(Intervals.unionWithin(Seq((0.0, 10.0), (2.0, 3.0)), 0, 100) == 10.0)
    assert(Intervals.unionWithin(Seq((0.0, 2.0), (2.0, 5.0)), 0, 100) == 5.0)
  }

  test("union clips to the window and ignores intervals outside it") {
    assert(Intervals.unionWithin(Seq((-5.0, 5.0), (8.0, 20.0)), 0, 10) == 7.0)
    assert(Intervals.unionWithin(Seq((20.0, 30.0)), 0, 10) == 0.0)
    assert(Intervals.unionWithin(Nil, 0, 10) == 0.0)
  }

  test("self time subtracts the union of child spans") {
    val op = Span(0, -1, "op", "", 100, 200)
    val kids = Seq(
      Span(1, 0, "a", "", 110, 140),
      Span(2, 0, "b", "", 130, 150), // overlaps a
      Span(3, 0, "c", "", 190, 230)) // runs past the parent's end
    assert(Intervals.selfTime(op, kids) == 100 - 40 - 10)
    assert(Intervals.selfTime(op, Nil) == 100)
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("the same seed writes byte-identical inputs; another seed does not") {
    val dir = scratch("bench-gen")
    def gen(sub: String, seed: Long): Map[String, String] = {
      val d = s"$dir/$sub"
      Gen.tweets(seed, 300, s"$d/tweets.csv")
      Gen.lookup(seed, 200, 8, 4, 2, 4, 50, 2, s"$d/lookup")
      Gen.digests(d)
    }
    val a = gen("a", 7)
    assert(a.size == 7)
    assert(gen("b", 7) == a)
    assert(gen("c", 8) != a)
  }

  test("lookup batches plant near-dups and non-English docs") {
    val dir = scratch("bench-lookup")
    val t = Gen.lookup(3, 100, 8, 4, 2, 4, 50, 3, dir.toString)
    assert(t.batchFiles.size == 3)
    t.planted.zip(t.batchEnglish).foreach { case (pairs, en) =>
      assert(pairs.size == 8 && en.size == 14)
      assert(pairs.forall { case (a, b) => en(a) && b >= Gen.IndexIdBase })
    }
  }
}
