package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering
  * step a dedup pipeline runs after near-dup pair detection (MinHash /
  * SimHash / Jaccard pairs are EDGES; the unit of removal is the
  * connected COMPONENT: keep one representative per cluster, not per
  * pair, or A~B, B~C leaves A and C both retained).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * published shuffle-native CC algorithm. Each round is two
  * groupBy-shuffles over the current edge set; the edge set only
  * shrinks toward one star per component, and convergence is
  * O(log^2 n) rounds on adversarial graphs (a 10k-node path converges
  * in ~10 rounds where naive min-label propagation needs 10k). No
  * vertex state lives on the driver; per-round lineage is cut with a
  * localCheckpoint so the plan stays O(1) deep regardless of rounds
  * (at 100 TB swap for reliable `checkpoint()` on cluster storage —
  * same semantics, executor-loss-safe).
  *
  * Greenfield (no reference counterpart — the reference has no graph
  * operators); complements DedupQueries' pair detection.
  */
object ConnectedComponents {

  /** Edge sets at or under this size run as a SINGLE-TASK union-find
    * (one executor task, one job) instead of the iterative star rounds:
    * a banded near-dup pair graph is |near-dup|-sized — orders smaller
    * than the corpus — and the Kiveris loop's per-round cost at that
    * size is pure fixed latency (measured ~0.7–1.3 s/round for a
    * few-thousand-edge graph even with AQE off and 1-partition shuffles;
    * 4 rounds ≈ 3.5 s where union-find in one task is milliseconds).
    * 4M edges ≈ 64 MB / ~8M hash-map entries in one task: safe. Larger
    * graphs keep the full shuffle-parallel star rounds. This is the one
    * small-graph bound: PageRank's single-task path and the incremental
    * fold's driver-side collects read it too.
    */
  val SmallGraphEdges: Long = 4L << 20

  /** Connected components of the undirected graph given by `edges`
    * (first two columns = endpoints, any integral type; direction,
    * duplicates, and self-loops are normalized away).
    *
    * Returns ("id", "component") for every node incident to an edge,
    * where component = MIN node id in the component (deterministic
    * labels — safe for hash-compared gates). Isolated nodes never
    * appear in an edge list; callers union them back if needed.
    */
  def run(edges: DataFrame, maxIter: Int = 50,
          smallGraphThreshold: Long = SmallGraphEdges): DataFrame = {
    require(edges.columns.length >= 2,
      s"edge frame needs two endpoint columns, got ${edges.columns.mkString(",")}")
    val ec = edges.columns
    // canonical (a < b), dedup'd, self-loops dropped.
    // localCheckpoint persists RDD-level blocks that Dataset.unpersist
    // can NOT release — track each round's RDD and unpersist it by hand
    // once the next round is materialized (its blocks ARE the checkpoint,
    // so releasing early would lose the data); the final round's blocks
    // back the returned frame and pass to Materialize.releaseAll
    // ownership like every other runner-shared frame. Checkpoints are
    // LAZY: the per-round checksum aggregate is the materializing action
    // (one job per round, not two).
    var e = edges
      .select(col(ec(0)).cast("long").as("u"), col(ec(1)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .localCheckpoint(eager = false)
    var eRdd = org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(e)
    val n0 = e.count() // materializes the initial checkpoint
    val parent = edges.sparkSession
    if (n0 > 0 && n0 <= smallGraphThreshold) {
      // Small-graph fast path: ONE executor task runs classic union-find
      // over the whole (checkpointed, so already-materialized) edge set —
      // a single job with no iterative rounds. This is the documented
      // per-partition-imperative mapPartitions case: the star loop's
      // per-round latency is fixed cost, and a <=64 MB edge set never
      // needs distribution. coalesce(1) reads the checkpoint blocks into
      // one task without a shuffle; labels (component minima) are
      // order-independent, so the single task is deterministic.
      eRdd.foreach(graft.runner.Materialize.trackRdd)
      import org.apache.spark.sql.Encoders
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      return e.as[(Long, Long)](enc).coalesce(1)
        .mapPartitions(unionFind)(enc)
        .toDF("id", "component")
    }

    // Convergence = the edge set IS a set of disjoint stars (no node both
    // a parent and a child). Both star ops preserve the current partition
    // into components and map stars to stars, so star-shape is exactly
    // the fixpoint (Kiveris Thm 4.1) — and testing it directly in the
    // SAME aggregate job that materializes the round's checkpoint stops
    // one round earlier than fingerprint-equality (no confirm round) and
    // needs no final shape assertion.
    // One star-round per materialized iteration. (Fusing two rounds per
    // checkpoint was measured 5x SLOWER: each star op references its
    // input ~3x, so a 4-op fused plan carries ~81 copies of the leaf —
    // catalyst + codegen time explodes. The checkpoint boundary per
    // round keeps every plan 9-leaf small.)
    val debug = sys.env.contains("GRAFT_CC_LOG")
    var rounds = 0
    var converged = n0 == 0
    while (!converged && rounds < maxIter) {
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      val nextRdd = org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(next)
      val viol = starViolations(next)
      eRdd.foreach(_.unpersist(blocking = false))
      e = next; eRdd = nextRdd; rounds += 1
      converged = viol == 0
      if (debug) println(f"[cc] round $rounds viol=$viol ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    eRdd.foreach(graft.runner.Materialize.trackRdd)
    require(converged,
      s"connected components did not converge to stars in $maxIter rounds")
    // hand the star edges back to the CALLER's session (the loop may
    // have run in the forked fast-path session)
    val stars = org.apache.spark.sql.graftbridge.Bridge
      .ofRows(parent, e.queryExecution.logical)
    val members = stars.select(col("b").as("id"), col("a").as("component"))
    val roots = stars.select(col("a").as("id"), col("a").as("component")).distinct()
    members.unionAll(roots)
  }

  /** Driver-local union-find over an already-collected edge list — the
    * same labels (component = MIN node id) as [[run]], for batch-bounded
    * subgraphs (incremental curation's local fold path). Nodes not in
    * the returned map are isolated (label themselves).
    */
  def local(edges: IterableOnce[(Long, Long)]): Map[Long, Long] =
    unionFind(edges.iterator.filter(e => e._1 != e._2)).toMap

  /** Single-partition union-find with path compression and union-by-min:
    * attaching the larger root under the smaller makes every final root
    * the component MIN — the same deterministic labels the star rounds
    * emit. Emits one (id, component) pair per distinct node.
    *
    * Index-based over a sorted node array (r20, guide §1.2 per-task
    * work): ids resolve to dense Int indices once via binary search and
    * the parent table is a primitive Int array — the boxed
    * java.util.HashMap formulation measured ~1.2 s for a 2.4M-edge sf4
    * graph where this runs in ~0.2 s. Sorted order makes index order ==
    * id order, so union-by-min-index IS union-by-min-id: labels
    * identical.
    */
  private def unionFind(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val edges = it.toArray
    val m = edges.length
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
    val parent = new Array[Int](n)
    i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0 // path compression
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < m) {
      val ra = find(java.util.Arrays.binarySearch(nodes, edges(i)._1))
      val rb = find(java.util.Arrays.binarySearch(nodes, edges(i)._2))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    Iterator.range(0, n).map(idx => nodes(idx) -> nodes(find(idx)))
  }

  /** large-star: for every node u, hook each LARGER neighbor v to
    * m = min(N(u) ∪ {u}). Keeps every component connected while
    * strictly flattening tall structures (the doubling step).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val m = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // no distinct here: duplicate edges don't change smallStar's min
    // aggregate and its round-boundary distinct dedups the output — one
    // shuffle per round instead of two
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b")) // m <= u < v keeps a < b
      .filter(col("a") =!= col("b"))
  }

  /** small-star: for every node u, hook all SMALLER neighbors (and u)
    * to the minimum smaller neighbor. Canonical (a<b) edges are already
    * "smaller endpoint first", so grouping by b gives each node its
    * smaller neighborhood directly.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
    val n = e.select(col("b").as("u"), col("a").as("v")).join(m, "u")
    n.filter(col("v") =!= col("m"))
      .select(col("m").as("a"), col("v").as("b")) // m < v: canonical
      .unionAll(n.select(col("m").as("a"), col("u").as("b")))
      .distinct()
  }

  /** Count of star-shape violations. A disjoint-star partition needs
    * BOTH: (1) no node appears as a parent (a) and a child (b), and
    * (2) every child has exactly ONE distinct parent. Testing (1) alone
    * is unsound: {(1,3),(1,10),(2,3),(2,20)} has disjoint parent/child
    * sets yet is one connected component (3 under both 1 and 2) —
    * declaring convergence there splits a true component and labels a
    * node twice. Still one shuffle aggregate — the round's materializing
    * action and its convergence test in a single job (countDistinct
    * ignores the null parent marker on parent-side rows).
    */
  private def starViolations(e: DataFrame): Long =
    e.select(col("a").as("id"), lit(null).cast("long").as("p"))
      .unionAll(e.select(col("b").as("id"), col("a").as("p")))
      .groupBy(col("id"))
      .agg(
        sum(when(col("p").isNull, 1L).otherwise(0L)).as("asParent"),
        countDistinct(col("p")).as("parents"))
      .filter((col("asParent") > 0 && col("parents") > 0) || col("parents") > 1)
      .count()
}
