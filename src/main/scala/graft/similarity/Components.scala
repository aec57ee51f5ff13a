package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a near-duplicate pair graph —
  * the step that turns q38/q41-style candidate PAIRS into an actual
  * dedup DECISION (one canonical keeper per cluster).
  *
  * Algorithm: iterative min-label propagation ("hash-to-min" family,
  * Rastogi/Machanavajjhala/Chitnis/Das Sarma, ICDE 2013; the
  * large-star/small-star refinement is Kiveris et al., SoCC 2014).
  * Every vertex starts labeled with its own id; each round it adopts
  * the minimum label among itself and its neighbors. Convergence is
  * reached in O(diameter) rounds, and near-dup graphs have tiny
  * diameters by construction: an edge means >=50% shingle Jaccard, so
  * components are dense clusters of mutual near-copies, not long
  * chains — in practice 2-4 rounds. Each round is one shuffle-join of
  * the edge list (partitioned ONCE by vertex and persisted — the big
  * side never re-shuffles) against the much smaller label table, plus
  * a map-side-combined min aggregate. At 10^9 docs with ~1% dups the
  * label table is ~10^7 rows — broadcast-sized — while the corpus
  * itself never enters the computation at all: only the pair graph
  * does.
  *
  * Determinism: the fixpoint (min id per component) is independent of
  * iteration order and partitioning, so the output is exact and
  * oracle-checkable (DuckDB recursive-CTE transitive closure).
  *
  * Convergence detection is a single scalar aggregate per round
  * (sum of labels, strictly decreasing until the fixpoint — labels
  * only ever decrease, so an unchanged sum means an unchanged table).
  * `localCheckpoint` cuts the growing lineage each round; it is LAZY
  * (`eager = false`) so the convergence aggregate is the action that
  * materializes it — one Spark job per round, not two (the eager
  * variant cost a materialize job plus a sum job every round; at
  * small scale the fixed per-job overhead, not the data, dominated
  * this operator's runtime). On a real cluster with lost-executor
  * risk, swap for reliable `checkpoint` to HDFS — one line, noted
  * here rather than silently defaulted.
  */
object Components {

  /** @param pairs DataFrame with two long columns (a, b) — undirected
    *              edges, self-loops and duplicates tolerated.
    * @return DataFrame (id: long, lbl: long) — every vertex that
    *         appears in `pairs`, labeled with the min id of its
    *         component. Vertices absent from `pairs` are singletons by
    *         definition and are NOT emitted (callers anti-join or
    *         treat absence as keeper).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    val p = pairs.toDF("a", "b")
    // partitioned by V, the JOIN key: the per-round join probes the
    // label table on the neighbor side, so v-partitioning is what the
    // cached relation's outputPartitioning must advertise for the edge
    // table to stay stationary — each round then shuffles only the
    // (much smaller) label table to the edges, plus the unavoidable
    // (u, vlbl) partial-agg exchange. (The previous u-partitioning
    // matched the aggregate key instead, which sits ABOVE the join —
    // Catalyst re-shuffled the whole edge table by v every round.)
    val edges = p.select(col("a").as("u"), col("b").as("v"))
      .union(p.select(col("b").as("u"), col("a").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1, fused and join-free: with every vertex initially
    // labeled by its own id, vertex u's first-round label is
    // min(u, min of its neighbors) — computable straight off the edge
    // table as one aggregate (per edge row, least(u, v); min by u).
    // This replaces three startup passes of the former shape (the
    // vertex-distinct init, its materializing action, and round 1's
    // edges⋈labels join). Round 1 cannot already BE the fixpoint on a
    // nonempty edge set (the larger endpoint of any edge changes), so
    // convergence checking starts against round 1's sum.
    var labels = edges
      .select(col("u").as("id"), least(col("u"), col("v")).as("l"))
      .groupBy(col("id")).agg(min(col("l")).as("lbl"))
      .localCheckpoint(false)

    // one action per table: the sum both materializes the lazy
    // checkpoint and reads out the convergence scalar; sum(empty) is
    // SQL NULL, which doubles as the emptiness probe
    def lblSum(df: DataFrame): Option[Long] = {
      val r = df.agg(sum(col("lbl"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }

    var prevSum = lblSum(labels) match {
      case None => edges.unpersist(); return labels
      case Some(s) => s
    }
    var it = 1
    var converged = false
    while (!converged && it < maxIters) {
      // min over {self label} ∪ {neighbor labels} in ONE join + ONE
      // aggregate: edges (partitioned by v once, never reshuffled)
      // join the label table on the neighbor side, each edge
      // contributes (u, vlbl), the current labels ride along as their
      // own (id, lbl) rows, and a single map-side-combined min folds
      // both. (The former shape aggregated neighbor minima first and
      // then LEFT-JOINED them back onto the label table — a second
      // join and exchange per round for the same fixpoint.)
      val contrib = edges
        .join(labels.select(col("id").as("v"), col("lbl").as("vlbl")), Seq("v"))
        .select(col("u").as("id"), col("vlbl").as("lbl"))
      val next = labels.select(col("id"), col("lbl")).union(contrib)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(false)
      val s = lblSum(next).get // non-empty: labels never lose rows
      converged = s == prevSum
      prevSum = s
      // next is materialized and its lineage cut: the previous round's
      // checkpoint is dead storage until GC would reach it
      release(labels)
      labels = next
      it += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIters rounds " +
          "(component diameter exceeds the iteration budget)")
    labels
  }

  /** Frees the storage behind a labels table of
    * [[connectedComponents]]: its localCheckpoint-ed RDD. The table is
    * unreadable afterwards. A stopped context has freed it already.
    */
  def release(labels: DataFrame): Unit =
    if (!labels.sparkSession.sparkContext.isStopped)
      labels.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
}
