package perfbench

import graft.SparkEntry
import graft.codec.{IntCodec, Selector, StrCodec}
import graft.engine._
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The repository benchmark. One process, one client: the main thread
  * runs operations one at a time (closed loop) on local[N], N = the
  * host's cores, and measures them from outside the engine, by timing
  * the calls into each layer, by a SparkListener of its own and by
  * reading the files the engine writes.
  *
  * Workloads (see BENCHMARK.json for why each exists):
  *   ingest — Pipeline.run encodes both corpora into fresh directories;
  *   read   — checksum-verified full scans of both encoded corpora and
  *            point lookups (doc index on zipf-long, bloom on dict-short).
  *
  * Every operation's output is checked; a wrong result counts as a
  * failed operation. With tracing off the result carries the
  * end-to-end metrics; the traced run adds the listener, spans and the
  * per-layer decomposition and reports the per-layer metrics.
  *
  * Usage: Main --workload ingest|read --seed N --seconds S --trace 0|1
  *             --work DIR --data DIR --goldens FILE
  */
object Main {
  final case class Corpus(name: String, sfx: String, rows: Long, vocab: Int, medianLen: Int, maxLen: Int)
  /** Fixtures defaults: long documents over a GPT-2-sized vocabulary. */
  val ZipfLong = Corpus("zipf-long", "long", 4200L, 50257, 512, 32768)
  /** Short documents over a byte-sized vocabulary: per-row work dominates. */
  val DictShort = Corpus("dict-short", "short", 87500L, 256, 24, 512)
  val Corpora = Seq(ZipfLong, DictShort)
  /** ~3.5M tokens per corpus at 1M tokens per chunk: about six chunks
    * per corpus, so the encode kernel has work for every core. This is a
    * quarter of the engine default (Chunker.DefaultTokensPerChunk), so no
    * chunk exceeds Selector.SampleThreshold and encodes never take the
    * selector's sampled-stats path; the traced run times that path on
    * its own (see [[sampledPathMetrics]]).
    */
  val TokensPerChunk: Long = 1L << 20
  /** Row i of a corpus is drawn from Fixtures.row at index i * RowStride.
    * Fixtures seeds row idx with java.util.Random(seed + idx), and the
    * first draws of adjacent seeds are nearly evenly spaced, so the 4,200
    * contiguous rows of zipf-long would cover only a seed-dependent slice
    * of the length distribution (1.9M to 4.8M tokens over eight seeds). Spread
    * indices give the whole distribution for every seed. For the same
    * reason the seed is multiplied by [[SeedMix]]: adjacent --seed values
    * would otherwise give nearly the same corpus.
    */
  val RowStride = 1000003L
  val SeedMix = 0x9e3779b97f4a7c15L
  /** Set-ups per untraced run; setup_s is their median. Read's first
    * set-up is cold (about 25 s) and the second warm (about 9 s); a third
    * would not fit the benchmark's total time limit on a slow host.
    */
  val IngestSetupReps = 3
  val ReadSetupReps = 2
  /** Lookups in the traced run: 50 samples put the highest percentile
    * with ten samples beyond it at p80.
    */
  val TracedLookups = 50
  /** Six lookups per read pass and at least three passes: per-kind
    * medians over three passes, in about the time of two passes of ten.
    */
  val LookupsPerPass = 6
  val WarmLookups = 2
  val PhaseLookups = 20
  val ScansPerTrace = 3
  val KernelChunks = 3
  val KernelReps = 3
  val NamedQueries = Seq("q10", "q26", "q27", "q38", "q45", "q52", "q53", "q64", "q65", "q81")

  final class CheckFailed(msg: String) extends RuntimeException(msg)
  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)

  def secsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Attempted and failed operations of a run. */
  class Counters {
    var attempted = 0L
    var failed = 0L

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      System.err.println(s"[perfbench] FAILED $what: $e")
    }

    /** One attempted operation: an exception or a failed check counts it
      * as failed.
      */
    def op[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch { case e: Exception => fail(what, e); None }
    }
  }

  /** One benchmark run: session, counters and the metrics it reports. */
  final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                  val trace: Tracer, val probe: SparkProbe, val work: Path,
                  val dataDir: String, val goldens: Map[String, Golden]) extends Counters {
    val metrics = ArrayBuffer.empty[Fmt.Metric]
    def put(name: String, value: Double, unit: String): Unit = metrics += Fmt.Metric(name, value, unit)
    def dir(name: String): String = work.resolve("data").resolve(name).toString

    private val t0 = System.nanoTime()
    /** Progress on stderr, with seconds since the run started. */
    def log(msg: String): Unit =
      System.err.println(s"[perfbench ${Fmt.num(math.rint((System.nanoTime() - t0) / 1e7) / 100)}s] $msg")

    /** A call into a layer: spanned and tagged with a job group. */
    def call[T](name: String, layer: String, group: String)(f: => T): T = {
      val (v, dt) = secsOf(trace(name, layer)(probe.window(group)(f)))
      log(s"$name [$group] ${Fmt.num(dt)} s")
      v
    }

    /** Runs `warm` untimed passes, then timed passes until at least `min`
      * have run and `seconds` have elapsed. A pass is given its job-group
      * prefix and returns the (kind, seconds) of each operation it
      * completed. Returns the timed pass count and their operations.
      */
    def passes(warm: Int, min: Int)(pass: String => Seq[(String, Double)]): (Int, Seq[(String, Double)]) = {
      (1 to warm).foreach { i =>
        val (_, dt) = secsOf(pass("warm"))
        log(s"warm-up pass $i: ${Fmt.num(dt)} s")
      }
      val t0 = System.nanoTime()
      val ops = ArrayBuffer.empty[(String, Double)]
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (o, dt) = secsOf(trace(s"pass$n", "bench")(pass("pass")))
        ops ++= o
        n += 1
        log(s"pass $n: ${Fmt.num(dt)} s")
      }
      (n, ops.toSeq)
    }

    /** Set-ups to run: the traced run sets up once, to stay within the
      * run time limit, so it reports no setup_s.
      */
    def setupReps(n: Int): Int = if (trace.on) 1 else n

    /** The end-to-end metrics (prefixed "trace." in the traced run, where
      * they show the tracing overhead). `encoded` are the tables the
      * workload wrote or read.
      */
    def endToEnd(setup: Seq[Double], passes: Int, ops: Seq[(String, Double)], encoded: Seq[(Input, String)]): Unit = {
      val prefix = if (trace.on) "trace." else ""
      if (!trace.on) put("setup_s", Stats.median(setup), "s")
      put(prefix + "pass_s", Stats.medianPass(ops, passes), "s")
      put(prefix + "op_geomean_ms", Stats.kindGeomean(ops) * 1e3, "ms")
      val bytes = encoded.map { case (in, out) => in -> Verifier.dirBytes(Pipeline.chunksPath(out)) }
      put(prefix + "bytes_per_token", bytes.map(_._2).sum.toDouble / encoded.map(_._1.tokens).sum, "bytes/token")
      // the size bar (ROADMAP: size <= stock parquet) as a ratio per corpus,
      // so a corpus over the bar shows in every result without failing it
      bytes.foreach { case (in, b) =>
        put(s"${prefix}size_vs_stock_${in.c.sfx}", b.toDouble / in.stockBytes, "ratio")
        System.out.println(s"# size bar ${in.c.name}: $b chunk bytes, ${in.stockBytes} stock parquet bytes, " +
          (if (b <= in.stockBytes) "within" else "OVER"))
      }
      System.out.println(s"# setups=${setup.length} timed passes=$passes operations=${ops.length}")
    }
  }

  // ---- inputs ------------------------------------------------------------

  final case class Input(c: Corpus, dir: String, rows: Long, tokens: Long, digest: Digest, stockBytes: Long)

  def tokensAt(spark: SparkSession, dir: String): Dataset[TokenRow] =
    spark.read.parquet(dir).as[TokenRow](Encoders.product[TokenRow])

  /** The corpus as stock Spark parquet+zstd: the encoder's input and the
    * size its output is compared with (size_vs_stock_*).
    */
  def writeCorpus(r: Run, c: Corpus, dir: String): Unit = r.call(s"fixtures.${c.sfx}", "fixtures", "setup") {
    val seed = r.seed
    r.spark.range(0, c.rows, 1, 2 * r.spark.sparkContext.defaultParallelism)
      .map((i: java.lang.Long) => fixtureRow(c, seed, i))(Encoders.product[TokenRow])
      .write.mode("overwrite").option("compression", "zstd").parquet(dir)
  }

  def digestOf(ds: Dataset[TokenRow]): Digest =
    ds.mapPartitions(it => Iterator(Digest.ofTokenRows(it)))(Encoders.product[Digest])
      .collect().foldLeft(Digest.empty)(_ + _)

  /** Row and token totals of a written corpus, and its row digest when
    * the workload compares decoded rows against it.
    */
  def describe(r: Run, c: Corpus, dir: String, withDigest: Boolean): Input = {
    val ds = tokensAt(r.spark, dir)
    val d = if (withDigest) digestOf(ds) else Digest.empty
    val row = ds.agg(count(lit(1)), sum(col("n_tok"))).first()
    Input(c, dir, row.getLong(0), row.getLong(1), d, Verifier.dirBytes(dir))
  }

  /** Pipeline.run of the corpus, or of `rows` when given. */
  def encode(r: Run, in: Input, out: String, group: String,
             rows: Option[Dataset[TokenRow]] = None): Pipeline.EncodeReport =
    r.call(s"pipeline.run.${in.c.sfx}", "pipeline", group) {
      Pipeline.run(r.spark, rows.getOrElse(tokensAt(r.spark, in.dir)), out, TokensPerChunk)
    }

  /** Checks an encoded directory: decoded rows equal the input as a
    * multiset. Its size against stock parquet is reported, not checked
    * (size_vs_stock_*).
    */
  def verifyEncoded(r: Run, in: Input, out: String): Unit =
    r.op(s"round trip ${in.c.name}") {
      val got = digestOf(Pipeline.readTokens(r.spark, out))
      check(got == in.digest, s"${in.c.name}: decoded $got != input ${in.digest}")
    }

  /** Rows, n_tok total and materialized token total of a full scan. */
  def scanTotals(r: Run, in: Input, dir: String, group: String): Unit = {
    val row = r.call(s"pipeline.readTokens.${in.c.sfx}", "pipeline", group) {
      Pipeline.readTokens(r.spark, dir).toDF()
        .agg(count(lit(1)), sum(col("n_tok")), sum(size(col("tokens")))).first()
    }
    val (n, t, m) = (row.getLong(0), row.getLong(1), row.getLong(2))
    check(n == in.rows && t == in.tokens && m == in.tokens,
      s"${in.c.name} scan: rows $n tokens $t/$m, expected ${in.rows}/${in.tokens}")
  }

  /** The lookup keys: row indices drawn from the seed, alternating corpora. */
  def lookupKeys(seed: Long, n: Int): Seq[(Corpus, Long)] = {
    val rnd = new scala.util.Random(seed ^ 0x10c4b00cL)
    (0 until n).map { i =>
      val c = Corpora(i % Corpora.length)
      (c, Math.floorMod(rnd.nextLong(), c.rows))
    }
  }

  /** The doc_id Fixtures gives row `idx`; it depends on nothing else. */
  def docId(idx: Long): String = Fixtures.row(idx, 0L, 64, 1, 1).doc_id

  /** Row `idx` of corpus `c`: its content from Fixtures.row at the spread
    * index (see [[RowStride]]), its doc_id that of `idx`, as in
    * Fixtures.tokenTable.
    */
  def fixtureRow(c: Corpus, seed: Long, idx: Long): TokenRow =
    Fixtures.row(idx * RowStride, seed * SeedMix, c.vocab, c.medianLen, c.maxLen).copy(doc_id = docId(idx))

  def sameRow(a: TokenRow, b: TokenRow): Boolean =
    a.doc_id == b.doc_id && a.n_tok == b.n_tok && a.source == b.source &&
      java.util.Arrays.equals(a.tokens, b.tokens)

  /** One point lookup; it must return exactly the regenerated row. */
  def lookup(r: Run, c: Corpus, dir: String, idx: Long, group: String): Unit = {
    val rows = r.call(s"pipeline.readTokensForDocId.${c.sfx}", "pipeline", group) {
      Pipeline.readTokensForDocId(r.spark, dir, docId(idx)).collect()
    }
    val want = fixtureRow(c, r.seed, idx)
    check(rows.length == 1 && sameRow(rows(0), want),
      s"${c.name} lookup ${want.doc_id}: ${rows.length} rows, expected exactly the generated row")
  }

  /** Set-up shared by read and the traced run: both corpora written,
    * encoded, and the doc index built for zipf-long. Returns
    * (corpus, input dir, encoded dir).
    */
  def encodedCorpora(r: Run, tag: String): Seq[(Corpus, String, String)] = Corpora.map { c =>
    val in = r.dir(s"$tag-in-${c.sfx}")
    val out = r.dir(s"$tag-enc-${c.sfx}")
    writeCorpus(r, c, in)
    r.call(s"pipeline.run.${c.sfx}", "pipeline", "setup")(
      Pipeline.run(r.spark, tokensAt(r.spark, in), out, TokensPerChunk))
    if (c == ZipfLong) r.call("pipeline.buildDocIndex", "pipeline", "setup")(Pipeline.buildDocIndex(r.spark, out))
    (c, in, out)
  }

  // ---- workloads ---------------------------------------------------------

  def ingest(r: Run): Unit = {
    val reps = r.setupReps(IngestSetupReps)
    val setup = (1 to reps).map(i =>
      secsOf(Corpora.foreach(c => writeCorpus(r, c, r.dir(s"in$i-${c.sfx}"))))._2)
    val inputs = Corpora.map(c => describe(r, c, r.dir(s"in$reps-${c.sfx}"), withDigest = true))
    val outs = ArrayBuffer.empty[(Input, String)]
    var dirs = 0
    val (n, ops) = r.passes(warm = 1, min = 3) { tag =>
      inputs.flatMap { in =>
        dirs += 1
        val out = r.dir(s"enc$dirs-${in.c.sfx}")
        if (tag == "warm") {
          // JIT warm-up on a quarter of the rows: the same plans, at less
          // kernel cost; its output is not the corpus, so it is not verified
          val quarter = tokensAt(r.spark, in.dir).where(pmod(xxhash64(col("doc_id")), lit(4)) === 0)
          r.op(s"warm-up encode ${in.c.name}")(encode(r, in, out, "warm:encode", Some(quarter)))
          Nil
        } else r.op(s"encode ${in.c.name}")(secsOf(encode(r, in, out, s"$tag:encode"))._2).map { dt =>
          outs += ((in, out))
          in.c.sfx -> dt
        }
      }
    }
    r.endToEnd(setup, n, ops, inputs.map(in => (in, outs.filter(_._1 == in).last._2)))
    outs.foreach { case (in, out) =>
      verifyEncoded(r, in, out)
      r.log(s"verified $out")
    }
    if (r.trace.on) layers(r, inputs.map(in => (in, outs.filter(_._1 == in).last._2)))
  }

  def read(r: Run): Unit = {
    val setups = (1 to r.setupReps(ReadSetupReps)).map(i => secsOf(encodedCorpora(r, s"setup$i")))
    val corpora = setups.last._1
    val encoded = corpora.map { case (c, in, out) => (describe(r, c, in, withDigest = false), out) }
    val outOf = encoded.map { case (in, out) => in.c -> out }.toMap
    val keys = lookupKeys(r.seed, 1 << 16).iterator
    val (n, ops) = r.passes(warm = 1, min = 3) { tag =>
      encoded.flatMap { case (in, out) =>
        r.op(s"scan ${in.c.name}")(secsOf(scanTotals(r, in, out, s"$tag:scan"))._2).map(s"scan-${in.c.sfx}" -> _)
      } ++ (1 to (if (tag == "warm") WarmLookups else LookupsPerPass)).flatMap { _ =>
        val (c, idx) = keys.next()
        r.op(s"lookup ${c.name} $idx")(secsOf(lookup(r, c, outOf(c), idx, s"$tag:lookup"))._2).map(s"lookup-${c.sfx}" -> _)
      }
    }
    r.endToEnd(setups.map(_._2), n, ops, encoded)
    if (r.trace.on) layers(r, encoded)
  }

  def fullName(q: String): String = SparkEntry.queries.keys.find(_.startsWith(q + "_")).get

  /** The ROADMAP's named queries over the query fixture, as Bench part 1
    * runs them (session warm-up, q52 inputs prebuilt, noop sink): a
    * first sweep fills the session caches and checks each query's
    * content digest against the golden file; a second, timed sweep
    * checks its row count.
    */
  def namedQueries(r: Run): Unit = {
    val s = r.spark
    val dir = r.dataDir
    s.range(0, 1000000).selectExpr("sum(id * 3)").collect()
    s.read.parquet(s"$dir/documents.parquet").limit(10).collect()
    SparkEntry.q52InputsFor(s, dir)
    val named = NamedQueries.map(fullName)
    named.foreach { name =>
      r.op(s"$name digest") {
        val d = r.call(s"sparkentry.$name", "sparkentry", "layer:fill") {
          SparkEntry.queries(name)(s, dir).toJSON
            .mapPartitions(it => Iterator(Digest.ofStrings(it)))(Encoders.product[Digest])
            .collect().foldLeft(Digest.empty)(_ + _)
        }
        System.out.println(s"# query digest $name\t${d.rows}\t${d.sum}")
        val golden = r.goldens.getOrElse(name, throw new CheckFailed(s"$name has no golden digest"))
        check(d.rows == golden.rows && golden.digest.forall(_ == d), s"$name digest $d != golden $golden")
      }
    }
    named.foreach { name =>
      r.op(name) {
        val obs = Observation(name)
        val (_, dt) = secsOf(r.call(s"sparkentry.$name", "sparkentry", s"layer:$name") {
          SparkEntry.queries(name)(s, dir).observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        })
        val n = obs.get("n").asInstanceOf[Long]
        val want = r.goldens.get(name).map(_.rows)
        check(want.contains(n), s"$name returned $n rows, golden $want")
        val q = NamedQueries.find(q => name.startsWith(q + "_")).get
        r.put(s"sparkentry.$q.s", dt, "s")
        r.put(s"sparkentry.$q.jobs", r.probe.jobs(s"layer:$name").toDouble, "count")
      }
    }
  }

  /** Keeps computed results observable, so the JIT cannot drop the work. */
  @volatile var sink = 0

  /** Median wall nanoseconds of `f` over [[KernelReps]] single-threaded calls. */
  def kernelNs(f: => Any): Double =
    Stats.median((1 to KernelReps).map { _ =>
      val t0 = System.nanoTime()
      sink ^= System.identityHashCode(f)
      (System.nanoTime() - t0).toDouble
    })

  /** The traced run's per-layer decomposition over both corpora: encode
    * step by step, scans, lookups by phase, single-thread kernel samples
    * over real chunks, and the named queries.
    */
  def layers(r: Run, encoded: Seq[(Input, String)]): Unit = {
    val s = r.spark
    val noop = (ds: Dataset[_]) => ds.write.format("noop").mode("overwrite").save()
    encoded.foreach { case (in, encDir) =>
      val x = in.c.sfx
      val ds = tokensAt(s, in.dir)
      // planning and encoding twice each, keeping the faster: their
      // difference is a fraction of a second, so one slow sample must
      // not flip its sign
      def best(f: => Unit): Double = math.min(secsOf(f)._2, secsOf(f)._2)
      val plan = best(r.call(s"chunker.chunked.$x", "chunker", "layer:plan")(noop(Chunker.chunked(ds, TokensPerChunk))))
      val enc = best(r.call(s"encoder.encode.$x", "encoder", "layer:encode")(
        noop(Encoder.encode(Chunker.chunked(ds, TokensPerChunk)))))
      val out = r.dir(s"layer-enc-$x")
      val (rep, run) = secsOf(encode(r, in, out, "layer:run"))
      r.put(s"chunker.plan_s_$x", plan, "s")
      r.put(s"encoder.encode_s_$x", enc - plan, "s")
      r.put(s"pipeline.run_s_$x", run, "s")
      r.put(s"pipeline.write_s_$x", run - enc, "s")
      r.put(s"encoder.chunks_$x", rep.chunksEncoded.toDouble, "count")
      r.put(s"encoder.pre_zstd_bytes_per_token_$x", rep.encodedBytes.toDouble / in.tokens, "bytes/token")
      r.put(s"bytes_per_token_$x", Verifier.dirBytes(Pipeline.chunksPath(out)).toDouble / in.tokens, "bytes/token")
      r.put(s"encode_${x}_tok_per_s", in.tokens / run, "tokens/s")
      val scans = (1 to ScansPerTrace).map(_ => secsOf(scanTotals(r, in, encDir, "layer:scan"))._2)
      r.put(s"pipeline.scan_s_$x", Stats.median(scans), "s")
      r.put(s"scan_${x}_tok_per_s", in.tokens / Stats.median(scans), "tokens/s")
      val wins = Pipeline.readChunks(s, encDir).groupBy("codec_tokens").count().collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
      // only the winning codecs, so a printed line, not a metric: the set
      // of winners varies with the seed
      System.out.println(s"# selector.chunks_$x " +
        wins.toSeq.sortBy(_._1).map { case (c, k) => s"$c=$k" }.mkString(" "))
      kernelMetrics(r, in, encDir)
      sampledPathMetrics(r, in, encDir)
    }
    lookupMetrics(r, encoded)
    namedQueries(r)
  }

  def kernelMetrics(r: Run, in: Input, encDir: String): Unit = {
    val x = in.c.sfx
    val sample = Pipeline.readChunks(r.spark, encDir).orderBy("chunk_id").limit(KernelChunks).collect()
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var toks, rows, misses = 0L
    sample.foreach { c =>
      val tokens = IntCodec.decode(c.tokens_enc)
      val docIds = StrCodec.decode(c.doc_ids_enc)
      val n = tokens.length
      val chunked = Decoder.decodeChunk(c).map(t => ChunkedRow(c.chunk_id, t.doc_id, t.tokens, t.n_tok, t.source)).toArray
      def k(name: String, layer: String)(f: => Any): Double = {
        val ns = r.trace(name, layer)(kernelNs(f))
        acc(name) += ns
        ns
      }
      k("encoder.encodeChunk", "encoder")(Encoder.encodeChunk(c.chunk_id, chunked.iterator))
      k("docbloom.build", "encoder")(DocBloom.build(docIds.toSeq))
      k("checksum.ofTokens", "encoder")(Checksum.ofTokens(tokens, n))
      k("selector.stats", "codec")(Selector.stats(tokens, 0, n))
      k("selector.exactDistinct", "codec")(Selector.exactDistinct(tokens, 0, n))
      k("selector.encodeAuto", "codec")(Selector.encodeAuto(tokens, 0, n))
      k("selector.encodeAutoZstdAware", "codec")(Selector.encodeAutoZstdAware(tokens, 0, n))
      k("intcodec.encode", "codec")(IntCodec.forName(c.codec_tokens).encode(tokens))
      k("strcodec.encodeAuto", "codec")(StrCodec.encodeAuto(docIds))
      k("intcodec.decode", "codec")(IntCodec.decode(c.tokens_enc))
      k("intcodec.decode.lengths", "codec")(IntCodec.decode(c.lengths_enc))
      k("strcodec.decode", "codec")(StrCodec.decode(c.doc_ids_enc))
      k("strcodec.decode.sources", "codec")(StrCodec.decode(c.sources_enc))
      k("decoder.decodeChunk", "decoder")(Decoder.decodeChunk(c).foreach(_ => ()))
      if (Selector.choose(tokens, 0, n).name != c.codec_tokens) misses += 1
      toks += n
      rows += docIds.length
    }
    def perTok(name: String) = acc(name) / toks
    def perRow(name: String) = acc(name) / rows
    r.put(s"encoder.kernel_ns_per_tok_$x", perTok("encoder.encodeChunk"), "ns/token")
    r.put(s"encoder.bloom_ns_per_row_$x", perRow("docbloom.build"), "ns/row")
    r.put(s"encoder.checksum_ns_per_tok_$x", perTok("checksum.ofTokens"), "ns/token")
    r.put(s"selector.stats_ns_per_tok_$x", perTok("selector.stats"), "ns/token")
    r.put(s"selector.exact_distinct_ns_per_tok_$x", perTok("selector.exactDistinct"), "ns/token")
    r.put(s"selector.zstd_trial_ns_per_tok_$x",
      perTok("selector.encodeAutoZstdAware") - perTok("selector.encodeAuto"), "ns/token")
    r.put(s"intcodec.encode_ns_per_tok_$x", perTok("intcodec.encode"), "ns/token")
    r.put(s"strcodec.encode_ns_per_row_$x", perRow("strcodec.encodeAuto"), "ns/row")
    r.put(s"selector.argmin_miss_rate_$x", misses.toDouble / sample.length, "ratio")
    r.put(s"decoder.unpack_ns_per_tok_$x", perTok("intcodec.decode"), "ns/token")
    r.put(s"decoder.checksum_ns_per_tok_$x", perTok("checksum.ofTokens"), "ns/token")
    r.put(s"strcodec.decode_ns_per_row_$x", perRow("strcodec.decode"), "ns/row")
    r.put(s"decoder.materialize_ns_per_row_$x",
      (acc("decoder.decodeChunk") - acc("intcodec.decode") - acc("checksum.ofTokens") - acc("strcodec.decode") -
        acc("strcodec.decode.sources") - acc("intcodec.decode.lengths")) / rows, "ns/row")
    if (in.c == ZipfLong) {
      val c = sample.head
      val id = StrCodec.decode(c.doc_ids_enc)(c.n_rows / 2)
      r.put("decoder.doc_tokens_us", r.trace("decoder.decodeDocTokens", "decoder")(kernelNs(Decoder.decodeDocTokens(c, id))) / 1e3, "us")
    }
  }

  /** The selector on one array larger than Selector.SampleThreshold, the
    * sampled-stats path that every chunk at the engine's default size
    * takes: the decoded tokens of all chunks of the corpus's largest
    * source, in chunk order (2M to 4M tokens, about what one default-size
    * chunk of that source would hold).
    */
  def sampledPathMetrics(r: Run, in: Input, encDir: String): Unit = {
    val x = in.c.sfx
    val chunks = Pipeline.readChunks(r.spark, encDir).collect()
    val top = chunks.groupBy(_.part_source).maxBy(_._2.map(_.n_tokens).sum)._2.sortBy(_.chunk_id)
    val tokens = top.flatMap(c => IntCodec.decode(c.tokens_enc))
    val n = tokens.length
    require(n > Selector.SampleThreshold, s"${in.c.name}: largest source has $n tokens, too few for the sampled path")
    def k(name: String)(f: => Any): Double = r.trace(name, "codec")(kernelNs(f)) / n
    r.put(s"selector.sampled_choose_ns_per_tok_$x", k("selector.choose.sampled")(Selector.choose(tokens, 0, n)), "ns/token")
    val auto = k("selector.encodeAuto.sampled")(Selector.encodeAuto(tokens, 0, n))
    val aware = k("selector.encodeAutoZstdAware.sampled")(Selector.encodeAutoZstdAware(tokens, 0, n))
    r.put(s"selector.sampled_zstd_trial_ns_per_tok_$x", aware - auto, "ns/token")
    System.out.println(s"# sampled path $x: $n tokens, stride ${n / Selector.SampleThreshold + 1}, " +
      s"choose=${Selector.choose(tokens, 0, n).name} zstd-aware=${Selector.encodeAutoZstdAware(tokens, 0, n)._1.name}")
  }

  /** Lookup latency over [[TracedLookups]] lookups, and its phases on the
    * first [[PhaseLookups]]: candidate chunks (doc index on zipf-long,
    * metadata + bloom on dict-short), then the payload read.
    */
  def lookupMetrics(r: Run, encoded: Seq[(Input, String)]): Unit = {
    val s = r.spark
    val outOf = encoded.map { case (in, out) => in.c -> out }.toMap
    if (!Pipeline.docIndexIsFresh(s, outOf(ZipfLong)))
      r.call("pipeline.buildDocIndex", "pipeline", "layer:index")(Pipeline.buildDocIndex(s, outOf(ZipfLong)))
    val chunks = encoded.map { case (in, out) => in.c -> Pipeline.readChunks(s, out).count() }.toMap
    val keys = lookupKeys(r.seed ^ 0x7ace, TracedLookups)
    val total = ArrayBuffer.empty[Double]
    val index, bloom, payload, candidates = ArrayBuffer.empty[Double]
    keys.zipWithIndex.foreach { case ((c, idx), i) =>
      val dir = outOf(c)
      val (_, all) = secsOf(lookup(r, c, dir, idx, "layer:lookup"))
      total += all * 1e3
      if (i < PhaseLookups) {
        val id = docId(idx)
        val (ids, phase1) = secsOf(
          if (c == ZipfLong) r.call("pipeline.lookupChunkIdsViaIndex", "pipeline", "layer:phase1")(
            Pipeline.lookupChunkIdsViaIndex(s, dir, Seq(id)).get)
          else r.call("pipeline.pointLookupChunkIds", "pipeline", "layer:phase1")(Pipeline.pointLookupChunkIds(s, dir, id)))
        (if (c == ZipfLong) index else bloom) += phase1 * 1e3
        payload += (all - phase1) * 1e3
        candidates += ids.length.toDouble / chunks(c)
      }
    }
    val hi = Stats.highPercentile(total.length).get
    System.out.println(s"# lookup samples=${total.length}: p50 and p$hi (the highest percentile with ten beyond)")
    r.put("lookup.samples", total.length.toDouble, "count")
    r.put("lookup_p50_ms", Stats.median(total.toSeq), "ms")
    r.put(s"lookup_p${hi}_ms", Stats.percentile(total.toSeq, hi), "ms")
    r.put("pipeline.lookup_index_ms", Stats.median(index.toSeq), "ms")
    r.put("pipeline.lookup_bloom_ms", Stats.median(bloom.toSeq), "ms")
    r.put("pipeline.lookup_payload_ms", Stats.median(payload.toSeq), "ms")
    r.put("pipeline.lookup_candidates", candidates.sum / candidates.length, "ratio")
    r.put("spark.jobs_per_lookup", r.probe.jobs("layer:lookup").toDouble / keys.length, "count")
  }

  final case class Golden(rows: Long, digest: Option[Digest])

  /** Golden file lines: name, row count, digest sum or "-" for queries
    * whose content digest is not stable across runs of one commit.
    */
  def readGoldens(path: String): Map[String, Golden] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(name, rows, d) = l.split("\t")
      name -> Golden(rows.toLong, if (d == "-") None else Some(Digest(rows.toLong, d.toLong)))
    }.toMap

  /** Host canary: wall seconds for `threads` threads to each finish the
    * same fixed xorshift loop. One thread shows a slow core; one per core
    * also shows contention between cores.
    */
  def canaryS(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink ^= x.toInt
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(8, cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val fn: Run => Unit = workload match {
      case "ingest" => ingest
      case "read" => read
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val canaryBefore = (canaryS(1), canaryS(cores))
    val spark = session(work)
    val probe = new SparkProbe(spark)
    if (traced) spark.sparkContext.addSparkListener(probe)
    val r = new Run(spark, seed, seconds, new Tracer(traced), probe, work, opt("data"), readGoldens(opt("goldens")))
    fn(r)
    r.log("workload done")
    val canaryAfter = (canaryS(1), canaryS(cores))
    if (traced) {
      r.metrics.prependAll(probe.report("pass:"))
      val self = Span.selfNsByLayer(r.trace.all)
      SelfTimeLayers.foreach(layer => r.put(s"$layer.self_s", self.getOrElse(layer, 0L) / 1e9, "s"))
      r.put("host.canary_s", (canaryBefore._1 + canaryAfter._1) / 2, "s")
      r.put("host.canary_all_s", (canaryBefore._2 + canaryAfter._2) / 2, "s")
      r.put("jvm.peak_rss_mb", peakRssMb(), "MB")
      r.trace.write(work.resolve(s"spans-$workload-$seed.jsonl"), s"$workload-$seed")
    }
    System.out.println(s"# host canary_s before=${Fmt.num(canaryBefore._1)} after=${Fmt.num(canaryAfter._1)}; " +
      s"canary_all_s ($cores threads) before=${Fmt.num(canaryBefore._2)} after=${Fmt.num(canaryAfter._2)}; " +
      s"peak_rss_mb=${Fmt.num(peakRssMb())}")
    Fmt.table(r.metrics.toSeq).foreach(l => System.out.println("# " + l))
    r.log("stopping Spark")
    spark.stop()
    r.log("stopped")
    System.out.println(Fmt.resultLine(r.failed == 0, r.attempted, r.failed, r.metrics.toSeq))
  }

  /** Layers whose self time the traced run reports ("bench" is the harness itself). */
  val SelfTimeLayers = Seq("bench", "chunker", "codec", "decoder", "encoder", "pipeline", "sparkentry")
}
