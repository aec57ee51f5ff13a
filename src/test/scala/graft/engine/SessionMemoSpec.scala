package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, StandardOpenOption}

/** The one session memo behind every derived-metadata cache: identity
  * on a valid hit, exactly-once release on every eviction (stamp change,
  * foreign application, unstampable path), and a components release
  * hook that really frees the label table's storage.
  */
class SessionMemoSpec extends AnyFunSuite {

  /** A memo whose computes and releases are counted. */
  private final class Counted {
    var computed = 0
    val released = scala.collection.mutable.Buffer.empty[AnyRef]
    val memo = new SessionMemo[String, AnyRef](v => released += v)
    def get(appId: String, path: String, key: String = "k"): AnyRef =
      memo.lookup(appId, path, key) { computed += 1; new Object }
  }

  private def tmpFile(): Path = {
    val f = Files.createTempFile("memo", ".parquet")
    f.toFile.deleteOnExit()
    Files.write(f, Array[Byte](1, 2, 3))
  }

  private def append(f: Path): Unit =
    Files.write(f, Array[Byte](4), StandardOpenOption.APPEND)

  test("a repeat call returns the same instance without recomputing") {
    val c = new Counted
    val f = tmpFile().toString
    val a = c.get("app-1", f)
    val b = c.get("app-1", f)
    assert(a eq b)
    assert(c.computed == 1 && c.released.isEmpty)
    // another key is its own entry, and leaves the first one alone
    val d = c.get("app-1", f, key = "k2")
    assert(!(d eq a) && c.computed == 2 && c.released.isEmpty)
    assert(c.get("app-1", f) eq a)
  }

  test("a stamp change releases the old value once and recomputes") {
    val c = new Counted
    val f = tmpFile()
    val a = c.get("app-1", f.toString)
    append(f)
    val b = c.get("app-1", f.toString)
    assert(!(a eq b) && c.computed == 2)
    assert(c.released.toSeq == Seq(a))
    assert(c.get("app-1", f.toString) eq b)
    assert(c.released.toSeq == Seq(a), "a hit releases nothing")
  }

  test("the stamp sees a file change deep inside a directory tree") {
    val dir = Files.createTempDirectory("memo-dir")
    val leaf = Files.createDirectories(dir.resolve("part_source=src0")).resolve("x.parquet")
    Files.write(leaf, Array[Byte](1))
    val before = SessionMemo.stamp(dir.toString)
    append(leaf)
    assert(SessionMemo.stamp(dir.toString) != before)
    assert(before != 0L)
    Verifier.rmTree(dir.toString)
  }

  test("an entry of a foreign appId is released when another app calls") {
    val c = new Counted
    val f = tmpFile().toString
    val a = c.get("app-1", f)
    val other = c.get("app-1", f, key = "k2")
    val b = c.get("app-2", f)
    assert(!(a eq b) && c.computed == 3)
    assert(c.released.toSet == Set(a, other) && c.released.size == 2)
    c.get("app-2", f)
    assert(c.released.size == 2, "the live app's entry stays")
  }

  test("stamp 0 is never memoized") {
    val c = new Counted
    val missing = Files.createTempDirectory("memo-none").resolve("absent").toString
    assert(SessionMemo.stamp(missing) == 0L)
    val a = c.get("app-1", missing)
    val b = c.get("app-1", missing)
    val d = c.get("app-1", missing)
    assert(c.computed == 3 && !(a eq b) && !(b eq d))
    // each recompute releases the value it supersedes, once
    assert(c.released.toSeq == Seq(a, b))
  }

  test("components release hook frees the label table's checkpoint storage") {
    def session() = {
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-session-memo-spec")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def labelsOf(s: SparkSession): DataFrame = {
      import s.implicits._
      graft.similarity.Components.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b"))
    }
    val memo = new SessionMemo[String, DataFrame](graft.similarity.Components.release)
    val f = tmpFile()
    val spark = session()
    try {
      val labels = memo(spark, f.toString, "k")(labelsOf(spark))
      val rddId = labels.queryExecution.logical.collectFirst {
        case r: LogicalRDD => r.rdd.id
      }.get
      def persisted = spark.sparkContext.getPersistentRDDs.contains(rddId)
      assert(spark.sparkContext.getPersistentRDDs.keySet == Set(rddId),
        "only the final label table stays checkpoint-backed storage")
      assert(memo(spark, f.toString, "k")(fail("must hit")) eq labels)
      append(f)
      memo(spark, f.toString, "k")(labelsOf(spark))
      assert(!persisted, "eviction must free the label table's RDD")
    } finally spark.stop()
    // the next application evicts the stopped one's entry: releasing
    // into a stopped context must not fail the new session's lookup
    val next = session()
    try assert(memo(next, f.toString, "k")(labelsOf(next)).count() == 5)
    finally next.stop()
  }
}
