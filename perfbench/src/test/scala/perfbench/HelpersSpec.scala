package perfbench

import graft.engine.{Fixtures, TokenRow}
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("the high percentile leaves at least ten samples beyond it, and no more percentile does") {
    assert(Stats.highPercentile(100).contains(90))
    assert(Stats.highPercentile(10).isEmpty)
    def beyond(n: Int, p: Int) = n - math.max(1, (p * n + 99) / 100)
    (11 to 400).foreach { n =>
      val p = Stats.highPercentile(n).get
      assert(beyond(n, p) >= 10, s"n=$n p=$p")
      if (p < 100) assert(beyond(n, p + 1) < 10, s"n=$n p=${p + 1}")
    }
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("a pass is rebuilt from per-kind medians, so one outlier operation does not move it") {
    val ops = Seq("a" -> 1.0, "b" -> 4.0, "a" -> 1.2, "b" -> 40.0, "a" -> 0.8, "b" -> 4.4)
    assert(math.abs(Stats.medianPass(ops, 3) - 5.4) < 1e-9)
    assert(math.abs(Stats.kindGeomean(ops) - math.sqrt(1.0 * 4.4)) < 1e-9)
  }

  private val rows = (0L until 200L).map(i => Fixtures.row(i, 7L, 256, 24, 512))

  test("the row digest ignores order and sees a changed, dropped or duplicated row") {
    val d = Digest.ofTokenRows(rows.iterator)
    assert(Digest.ofTokenRows(scala.util.Random.shuffle(rows).iterator) == d)
    val split = Digest.ofTokenRows(rows.take(50).iterator) + Digest.ofTokenRows(rows.drop(50).iterator)
    assert(split == d)
    val r0 = rows.head
    val bumped = r0.copy(tokens = r0.tokens.updated(0, r0.tokens(0) + 1))
    assert(Digest.ofTokenRows((bumped +: rows.tail).iterator) != d)
    assert(Digest.ofTokenRows(rows.tail.iterator) != d)
    assert(Digest.ofTokenRows((r0 +: rows.tail :+ rows(1)).iterator) != d)
    assert(Digest.ofStrings(Iterator("a", "b")) == Digest.ofStrings(Iterator("b", "a")))
    assert(Digest.ofStrings(Iterator("a", "b")) != Digest.ofStrings(Iterator("a", "c")))
  }

  test("a wrong row is counted as a failed operation") {
    val c = new Main.Counters
    val want = Fixtures.row(5L, 7L, 256, 24, 512)
    val wrong = want.copy(tokens = want.tokens.map(_ ^ 1))
    c.op("right row")(Main.check(Main.sameRow(want, Fixtures.row(5L, 7L, 256, 24, 512)), "right"))
    c.op("wrong row")(Main.check(Main.sameRow(wrong, want), "wrong"))
    c.op("wrong table") {
      val decoded = Digest.ofTokenRows((wrong +: rows.filterNot(_.doc_id == want.doc_id)).iterator)
      Main.check(decoded == Digest.ofTokenRows(rows.iterator), "decoded table differs")
    }
    assert(c.attempted == 3 && c.failed == 2)
  }

  private def span(id: Int, parent: Int, layer: String, s: Long, e: Long) = Span(id, parent, layer, layer, s, e)

  test("self time is the span minus the union of its children, clipped to the span") {
    val spans = Seq(
      span(1, 0, "pipeline", 0, 100),
      span(2, 1, "codec", 10, 30),
      span(3, 1, "codec", 20, 50), // overlaps its sibling
      span(4, 1, "decoder", 90, 120), // runs past its parent
      span(5, 3, "encoder", 25, 35))
    val self = Span.selfNsByLayer(spans)
    assert(self("pipeline") == 100 - 40 - 10)
    assert(self("codec") == 20 + (30 - 10))
    assert(self("decoder") == 30)
    assert(self("encoder") == 10)
    assert(Span.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 25L))) == 25)
  }

  test("numbers format the same under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val ms = Seq(Fmt.Metric("pass_s", 1.5, "s"), Fmt.Metric("tiny", 1.25e-7, "ms"))
      val line = Fmt.resultLine(correct = true, 3, 0, ms)
      assert(line == """{"correct": true, "attempted": 3, "failed": 0, "metrics": """ +
        """{"pass_s": {"value": 1.5, "unit": "s"}, "tiny": {"value": 1.25E-7, "unit": "ms"}}}""")
      assert(Fmt.table(ms).head.contains("1.500000"))
      assert(Fmt.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
    } finally Locale.setDefault(saved)
  }
}
