package perfbench

import java.util.Locale

/** Order statistics used by every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(1, (p * s.length + 99) / 100) - 1)
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * strictly above its nearest rank, or None when the sample is too
    * small for any (fewer than beyond + 1 samples). 100 samples give 90.
    */
  def highPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = (100L * (n - beyond) / math.max(n, 1)).toInt
    if (n <= beyond || p < 1) None else Some(p)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** One pass's wall time rebuilt from the median time of each operation
    * kind, for passes that all run the same operation list: a slow
    * outlier operation moves it no more than a median moves.
    */
  def medianPass(ops: Seq[(String, Double)], passes: Int): Double =
    ops.groupBy(_._1).values.map(v => median(v.map(_._2)) * v.length / passes).sum

  /** Geometric mean over all operations, each taken at its kind's median. */
  def kindGeomean(ops: Seq[(String, Double)]): Double =
    geomean(ops.groupBy(_._1).values.toSeq.flatMap(v => Seq.fill(v.length)(median(v.map(_._2)))))
}

/** Locale-independent number formatting: JSON and the metric table read
  * the same under any JVM default locale (a comma-decimal default would
  * otherwise turn 1.5 into "1,5" through String.format).
  */
object Fmt {
  /** Shortest round-trip decimal form: every measured digit is kept. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    java.lang.Double.toString(d)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  final case class Metric(name: String, value: Double, unit: String)

  /** The result object: the last line the benchmark prints. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** One human-readable line per metric: name, value, unit. */
  def table(metrics: Seq[Metric]): Seq[String] =
    metrics.map(m => String.format(Locale.ROOT, "%-44s %18.6f %s", m.name, Double.box(m.value), m.unit))
}

/** Order-independent multiset digest: the row count plus the wrapping
  * sum of a 64-bit hash of each row. Permuting rows leaves it unchanged;
  * adding, dropping, duplicating or altering a row changes it (up to
  * 64-bit hash collisions).
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  private val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()

  def hashBytes(b: Array[Byte]): Long = xx.hash(b, 0, b.length, 0x51ed270b7L)

  def ofStrings(rows: Iterator[String]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, hashBytes(r.getBytes("UTF-8"))))

  private val rowBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  /** Hash of one token row over all of its fields. */
  def rowHash(docId: String, tokens: Array[Int], nTok: Int, source: String): Long = {
    val id = docId.getBytes("UTF-8")
    val src = source.getBytes("UTF-8")
    val need = 12 + id.length + src.length + 4 * tokens.length
    if (rowBuf.get.length < need) rowBuf.set(new Array[Byte](2 * need))
    val b = rowBuf.get
    val bb = java.nio.ByteBuffer.wrap(b)
    bb.putInt(id.length).put(id).putInt(src.length).put(src).putInt(nTok)
    var i = 0
    while (i < tokens.length) { bb.putInt(tokens(i)); i += 1 }
    xx.hash(b, 0, need, 0x51ed270b7L)
  }

  def ofTokenRows(rows: Iterator[graft.engine.TokenRow]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, rowHash(r.doc_id, r.tokens, r.n_tok, r.source)))
}

/** Spans recorded around every call the benchmark makes into a layer.
  * Kept in memory, written when the run ends; off unless tracing.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time per layer, in nanoseconds: each span's duration minus the
    * part of its interval that its direct children cover (overlapping
    * children are counted once; child time outside the parent is ignored).
    */
  def selfNsByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        s.durNs - covered
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final class Tracer(val on: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = the run itself
  private var nextId = 1

  /** Runs `f` inside a span when tracing is on; a plain call otherwise. */
  def apply[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path, runId: String): Unit = {
    val lines = spans.map(s =>
      s"""{"run": ${Fmt.str(runId)}, "id": ${s.id}, "parent": ${s.parent}, "name": ${Fmt.str(s.name)}, """ +
        s""""layer": ${Fmt.str(s.layer)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
