package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a directed edge frame — GraphX
  * semantics: r₀ = 1.0 per node, r_{t+1}(n) = (1−d) + d ·
  * Σ_{u→n} r_t(u)/outdeg(u), dangling mass evaporates. Used as the
  * centrality readout over the near-dup graph (q93): within a duplicate
  * family, the highest-rank member is the best keep-one representative.
  *
  * Scale shape: K iterations = K contribution shuffles (groupBy
  * destination), each over a node-sized rank frame joined against the
  * out-degree-annotated edges (computed ONCE, cached). Every round's
  * ranks localCheckpoint so the plan stays O(1) deep regardless of K —
  * the [[ConnectedComponents]] pattern, including the hand-tracked
  * RDD-block release (Dataset.unpersist cannot free checkpoint blocks;
  * the final round's blocks pass to Materialize.releaseAll ownership).
  */
object PageRank {

  /** Fixed-iteration PageRank; at or under `smallGraphThreshold` edges
    * the K rounds run in one task — K iterative rounds cost more in fixed
    * per-job scheduling than one task computing the whole thing (a
    * ≤4M-edge set is ≤64 MB of longs — single-task memory, and the
    * measured sf0.1 near-dup graph spent ~0.9s/round on scheduling).
    */
  def run(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      smallGraphThreshold: Long = ConnectedComponents.SmallGraphEdges): DataFrame = {
    require(edges.columns.length >= 2,
      s"edge frame needs two endpoint columns, got ${edges.columns.mkString(",")}")
    val ec = edges.columns
    val e = graft.runner.Materialize.track(edges
      .select(col(ec(0)).cast("long").as("u"), col(ec(1)).cast("long").as("v")))
    val nEdges = e.count()
    if (sys.env.contains("GRAFT_PR_LOG"))
      println(s"[pr] edges=$nEdges path=" +
        (if (nEdges <= smallGraphThreshold) "single-task" else "distributed"))
    if (nEdges <= smallGraphThreshold) {
      // Small-graph fast path: ONE executor task runs the K iterations
      // over the cached edge array — no per-round jobs. Edges sort by
      // (u,v) first so contribution-summation order is deterministic.
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      val outSchema = StructType(Seq(StructField("node", LongType, false),
        StructField("rank", DoubleType, false)))
      val rows = e.as[(Long, Long)](enc).coalesce(1).rdd
        .mapPartitions(localPageRank(iterations, damping))
        .map { case (n, r) => Row(n, r) }
      return e.sparkSession.createDataFrame(rows, outSchema)
    }
    val outd = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // (u, v, d) — the static per-iteration join side, cached once and
    // HASH-PARTITIONED on the join key (r20, guide §2.4 / VERDICT Next
    // #3): the contribution join's big side then reuses the cached
    // layout every iteration instead of re-exchanging corpus-sized
    // edges K times; nodes are co-partitioned the same way so the
    // rank-refresh join is exchange-free on its big side too. The only
    // per-iteration shuffle left is the destination rollup (the
    // edge→contribution transpose, which no partitioning can elide).
    val parts = e.sparkSession.sessionState.conf.numShufflePartitions
    val withD = graft.runner.Materialize.track(
      e.join(outd, "u").repartition(parts, col("u")))
    val nodes = graft.runner.Materialize.track(
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .distinct().repartition(parts, col("node")))

    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val debug = sys.env.contains("GRAFT_PR_LOG")
    var ranks = nodes.withColumn("rank", lit(1.0))
      .localCheckpoint(eager = true)
    var prevRdds = bridge.checkpointRdd(ranks)
    var i = 0
    while (i < iterations) {
      val t0 = System.nanoTime()
      val contribs = withD
        .join(ranks, col("u") === col("node"))
        .select(col("v").as("node"), (col("rank") / col("d")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) + lit(damping) * coalesce(col("s"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(eager = true)
      val nextRdds = bridge.checkpointRdd(next)
      prevRdds.foreach(_.unpersist(blocking = false))
      ranks = next; prevRdds = nextRdds; i += 1
      if (debug) {
        val plan = next.queryExecution.executedPlan.toString
        val nEx = "Exchange".r.findAllIn(plan).length
        val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
          .findAllIn(plan).toSeq.distinct.mkString(",")
        println(f"[pr] iter $i ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          f"exchanges=$nEx joins=$joins")
      }
    }
    prevRdds.foreach(graft.runner.Materialize.trackRdd)
    ranks
  }

  /** The in-task iteration: identical math to the distributed loop
    * ((1−d) + d·Σ r/outdeg, dangling mass evaporates), edges processed
    * in sorted (u, v) order for a deterministic summation order.
    *
    * Pure primitive arrays (r20, guide §1.2 per-task work): node ids
    * index into dense rank/out-degree/contribution arrays via
    * binary-searched endpoint indices computed ONCE — the boxed
    * java.util.HashMap formulation (three Long-keyed maps re-allocated
    * per iteration) measured ~11 s for 3.1M edges × 10 iterations at
    * sf4 where this shape runs in well under a second. Per-destination
    * additions happen in the same sorted-edge order as the map merge
    * did, so ranks are bit-identical.
    */
  private def localPageRank(iterations: Int, damping: Double)(
      it: Iterator[(Long, Long)]): Iterator[(Long, Double)] = {
    val edges = it.toArray
    scala.util.Sorting.quickSort(edges)
    val m = edges.length
    // sorted distinct node ids (primitive sort + in-place dedup)
    val all = new Array[Long](2 * m)
    var i = 0
    while (i < m) {
      all(2 * i) = edges(i)._1; all(2 * i + 1) = edges(i)._2; i += 1
    }
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(all, n)
    // endpoint indices, resolved once
    val ui = new Array[Int](m)
    val vi = new Array[Int](m)
    val out = new Array[Long](n)
    i = 0
    while (i < m) {
      ui(i) = java.util.Arrays.binarySearch(nodes, edges(i)._1)
      vi(i) = java.util.Arrays.binarySearch(nodes, edges(i)._2)
      out(ui(i)) += 1L
      i += 1
    }
    var r = new Array[Double](n)
    java.util.Arrays.fill(r, 1.0)
    val s = new Array[Double](n)
    var it2 = 0
    while (it2 < iterations) {
      java.util.Arrays.fill(s, 0.0)
      i = 0
      while (i < m) { s(vi(i)) += r(ui(i)) / out(ui(i)); i += 1 }
      val next = new Array[Double](n)
      i = 0
      while (i < n) { next(i) = (1 - damping) + damping * s(i); i += 1 }
      r = next; it2 += 1
    }
    nodes.iterator.zipWithIndex.map { case (node, idx) => node -> r(idx) }
  }
}
