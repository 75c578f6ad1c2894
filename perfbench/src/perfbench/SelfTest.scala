package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row

/** The benchmark's own unit checks, no Spark session needed:
  * `perfbench.SelfTest <scratch dir>`; exits 1 on the first failure.
  * perfbench/tests runs it together with a smoke run of each workload. */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    percentiles()
    counting()
    determinism(dir)
    answers()
    if (failures > 0) sys.exit(1)
    println("selftest ok")
  }

  private def percentiles(): Unit = {
    expect(Stats.median(Seq(5.0, 1, 3)) == 3.0, "median of odd count")
    expect(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5, "median of even count")
    val hundred = (1 to 100).map(_.toDouble)
    expect(Stats.percentile(hundred, 90) == 90.0, "nearest-rank p90")
    expect(Stats.percentile(hundred, 50) == 50.0, "nearest-rank p50")
    // the highest percentile with at least ten samples beyond it
    expect(Stats.tailLevel(100) == Some(90), s"tail of 100: ${Stats.tailLevel(100)}")
    expect(Stats.tailLevel(1000) == Some(99), s"tail of 1000: ${Stats.tailLevel(1000)}")
    expect(Stats.tailLevel(20) == Some(50), s"tail of 20: ${Stats.tailLevel(20)}")
    expect(Stats.tailLevel(19).isEmpty, s"tail of 19: ${Stats.tailLevel(19)}")
    expect(Stats.tailLevel(40) == Some(75), s"tail of 40: ${Stats.tailLevel(40)}")
  }

  private def counting(): Unit = {
    val t = new Tally
    t.record(ok = true, "fine")
    t.record(ok = false, "wrong answer")
    expect(t.attempt("throws")(sys.error("boom")).isEmpty, "exception yields no result")
    expect(t.attempt("returns")(42) == Some(42), "attempt passes results through")
    // a successful attempt is only counted once its answer is checked
    expect(t.attempted == 3 && t.failed == 2, s"tally ${t.attempted}/${t.failed}")
    expect(t.failures.exists(_.startsWith("throws: RuntimeException: boom")),
      s"failure reasons ${t.failures}")
  }

  private def determinism(dir: Path): Unit = {
    def gen(name: String, seed: Long) =
      Inputs.generate(dir.resolve(name), seed, base = 40, growth = 0.1,
        increments = 2, absentCount = 8)
    val (a, b, c) = (gen("a", 7), gen("b", 7), gen("c", 8))
    expect(a.describe("sha256") == b.describe("sha256"), "same seed, same bytes")
    expect(a.describe("sha256") != c.describe("sha256"), "other seed, other bytes")
    expect(a.releases.map(_.alleles) == Seq(40, 44, 48), s"sizes ${a.releases.map(_.alleles)}")
    a.releases.sliding(2).foreach { case Seq(x, y) =>
      expect(Files.readString(y.path).startsWith(Files.readString(x.path)),
        s"${y.id} extends ${x.id}")
    }
    expect(a.releases.last.names.toSet.intersect(a.absent.toSet).isEmpty,
      "absent names are absent")
    expect(a.releases.head.path.toFile.length > 0 &&
      Files.mismatch(a.releases.head.path, c.releases.head.path) == -1,
      "the base release is the same for every seed")
    expect(a.releases(1).names != c.releases(1).names,
      "the seed picks which records the increments add")
    expect(a.absent.toSet != c.absent.toSet, "the seed picks the absent names")
  }

  private def answers(): Unit = {
    val rows = Seq(Row("x", 1L), Row("y", 2L), Row("z", 3L))
    expect(Reads.canon(rows) == Reads.canon(rows.reverse), "answers ignore row order")
    expect(Reads.canon(rows) != Reads.canon(rows.take(2)), "answers see missing rows")
    val cc = Workloads.unionFind(Seq("b" -> "a", "c" -> "b", "e" -> "d"))
    val want = Reads.canon(Seq(Row("a", "a"), Row("b", "a"), Row("c", "a"),
      Row("d", "d"), Row("e", "d")))
    expect(cc == want, "union-find labels each component by its least member")

    def agree(a: Map[String, (Long, BigDecimal)], b: Map[String, (Long, BigDecimal)]) =
      Workloads.compareTables(a, b).forall(_._1)
    val both = Map("GFE" -> (3L, BigDecimal(7)), "Feature" -> (2L, BigDecimal(-5)))
    expect(agree(both, both), "equal tables agree")
    expect(!agree(both, both.updated("GFE", (3L, BigDecimal(8)))), "a changed hash fails")
    expect(!agree(both - "Feature", both), "a table the store lost fails")
    expect(!agree(both, both - "GFE"), "a table the refold lacks fails")
  }
}
