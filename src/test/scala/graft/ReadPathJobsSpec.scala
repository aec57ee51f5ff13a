package graft

import graft.engine.{Fixtures, Pipeline}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Spark jobs per read-path call on a warmed session. Every engine read
  * of a chunks or doc-index directory carries its schema, so no call
  * pays a schema-inference job, and the candidate probes dedup their
  * chunk ids without a shuffle: a point lookup is one probe job plus
  * one payload job.
  */
class ReadPathJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-read-path-jobs-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  /** Jobs started per job group. */
  private final class JobCounter extends SparkListener {
    private val byGroup = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(byGroup(_) += 1)
    }
    def apply(group: String): Int = synchronized(byGroup(group))
  }
  private lazy val counter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }
  private var groups = 0

  /** The result of `f` and the number of Spark jobs it ran. Jobs are
    * counted by job group, so jobs of other threads do not count.
    */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    counter
    groups += 1
    val group = s"read-path-$groups"
    sc.setJobGroup(group, group)
    val r = try f finally sc.clearJobGroup()
    TestBus.drain(sc)
    (r, counter(group))
  }

  private def tmpDir(): String = Files.createTempDirectory("graft-test").toString

  private lazy val rows = Fixtures.tokenTable(spark, 400, seed = 13, medianLen = 64,
    maxLen = 512, partitions = 2).collect()

  /** An encoded directory (several chunks over two waves), with or
    * without its doc index.
    */
  private def encoded(indexed: Boolean): String = {
    import spark.implicits._
    val dir = tmpDir()
    Pipeline.run(spark, spark.createDataset(rows.toSeq), dir, tokensPerChunk = 8 * 1024, waves = 2)
    if (indexed) Pipeline.buildDocIndex(spark, dir)
    dir
  }
  private lazy val indexedDir = encoded(indexed = true)
  private lazy val bloomDir = encoded(indexed = false)

  /** The jobs of a point lookup for `rows(i)`, which it must find. */
  private def lookup(dir: String, i: Int): Int = {
    val (got, n) = jobs(Pipeline.readTokensForDocId(spark, dir, rows(i).doc_id).collect())
    assert(got.length == 1 && got.head.tokens.sameElements(rows(i).tokens))
    n
  }

  test("a point lookup on a fresh doc index takes exactly 2 jobs") {
    lookup(indexedDir, 0) // warm: the first freshness check fingerprints the chunk set
    assert(Pipeline.docIndexIsFresh(spark, indexedDir))
    assert(lookup(indexedDir, 1) == 2)
    assert(lookup(indexedDir, 200) == 2)
  }

  test("a bloom-path lookup takes exactly 2 jobs") {
    lookup(bloomDir, 0)
    assert(!Pipeline.docIndexIsFresh(spark, bloomDir))
    assert(lookup(bloomDir, 3) == 2)
    assert(lookup(bloomDir, 300) == 2)
  }

  test("a range probe on a fresh doc index takes 1 job") {
    assert(Pipeline.docIndexIsFresh(spark, indexedDir))
    val sorted = rows.map(_.doc_id).sorted
    val (ids, n) = jobs(Pipeline.lookupChunkIdsForRange(spark, indexedDir, sorted(10), Some(sorted(60))))
    assert(n == 1)
    assert(ids.nonEmpty && ids.distinct.length == ids.length)
    // the same candidates the chunks' own doc_id bounds give, minus the
    // chunks whose span covers the range without holding a doc in it
    val viaBounds = Pipeline.readChunks(spark, indexedDir)
      .filter(c => c.max_doc_id >= sorted(10) && c.min_doc_id < sorted(60)).collect().map(_.chunk_id)
    assert(ids.toSet.subsetOf(viaBounds.toSet))
  }

  test("building a chunks read runs no job, and its count runs no schema-inference job") {
    val (_, built) = jobs(Pipeline.readTokens(spark, bloomDir))
    assert(built == 0, "a schema-less read runs a schema-inference job when the Dataset is built")
    val (n, counted) = jobs(Pipeline.readTokens(spark, bloomDir).count())
    assert(n == rows.length)
    // Dataset.count is a partial aggregate, a shuffle and a final one:
    // the shuffle map stage and the result stage are one job each
    assert(counted == 2)
  }

  test("a second SparkEntry.t read of a table runs no job") {
    import spark.implicits._
    val dir = tmpDir()
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.parquet(s"$dir/kv.parquet")
    val (first, inferred) = jobs(SparkEntry.t(spark, dir, "kv"))
    assert(inferred == 1, "the session's first read infers the schema")
    val (second, again) = jobs(SparkEntry.t(spark, dir, "kv"))
    assert(again == 0)
    assert(second.schema == first.schema)
    assert(second.as[(String, Int)].collect().sorted.toSeq == Seq(("a", 1), ("b", 2)))
  }
}
