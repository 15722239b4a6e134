package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Leaves
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Transitive clustering: connected components over the match-edge frame
  * via alternating large-star / small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log² n)
  * rounds, each round two shuffles, pure DataFrame ops (north_rule: typed
  * Dataset/DataFrame, no RDD/GraphX).
  *
  * Node ids are the lexicographically sortable mention ids; the component
  * id is the minimum member id, so output clusters are deterministic.
  * `localCheckpoint` every round truncates the join lineage that otherwise
  * grows linearly with iterations (SURVEY.md §4 "iterative fixpoint").
  */
object Clustering {

  /** (src, dst) string edges → (node, cluster_id) for every node that
    * appears in an edge. Singletons (mentions with no edges) are absent —
    * callers attach them with a left join + coalesce.
    *
    * Convergence detection piggybacks on the per-round checkpoint action
    * via `Dataset.observe` (the SURVEY §2.4 metrics sidecar): ONE Spark
    * job per round instead of checkpoint + separate signature agg — the
    * driver-side fixpoint latency is the serial fraction that caps
    * scaling efficiency on short rounds. */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 50,
                          driverEdgeLimit: Long = 1000000L): DataFrame = {
    require(maxIter >= 1)
    val spark = edges0.sparkSession

    // Scale-adaptive physical strategy (the same decision a broadcast-join
    // threshold makes): after supernode collapse the scoring graph is
    // routinely tiny relative to the corpus (nodes ∝ distinct surface
    // forms, not turns). When the edges fit comfortably on the driver, one
    // bounded collect + union-find replaces the O(log n) round loop whose
    // per-round fixed job latency is pure serial fraction at any cluster
    // size — identical output (min-member components, property-tested
    // against the loop in ClusteringSpec). Above the limit, the distributed
    // large/small-star loop runs as before. The edges are a leaf first, so
    // the upstream (blocking + scoring, or the q16 tokenize self-join) runs
    // once whichever path runs; a caller's leaf is read as it is.
    val isLeaf = graft.CacheTracker.leafRdd(edges0).isDefined
    val leaf = if (isLeaf) edges0 else edges0.localCheckpoint(true)
    val head = Leaves.strings(leaf, "src", "dst")(
      math.min(driverEdgeLimit + 1, Int.MaxValue.toLong).toInt)
    if (head.length <= driverEdgeLimit) {
      if (!isLeaf) graft.CacheTracker.release(leaf)
      return driverCC(spark, head)
    }

    // canonical parent-pointer form: dst < src, no self-loops, distinct
    val canonical = leaf
      .where(col("src") =!= col("dst"))
      .select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    var (edges, prevSig) = checkpointWithSignature(canonical, "cc_init")
    if (!isLeaf) graft.CacheTracker.release(leaf)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (next, sig) =
        checkpointWithSignature(smallStar(largeStar(edges)), s"cc_round_$iter")
      converged = sig == prevSig
      prevSig = sig
      graft.CacheTracker.release(edges)
      edges = next
      iter += 1
    }

    // After convergence every edge is (node, root). Roots point to
    // themselves implicitly; emit them explicitly.
    graft.CacheTracker.register(edges) // read lazily below: the caller's scope releases it
    val nodes = edges.select(col("src").as("node"), col("dst").as("cluster_id"))
    val roots = edges.select(col("dst").as("node")).distinct()
      .join(edges.select(col("src")).distinct(), col("node") === col("src"), "left_anti")
      .select(col("node"), col("node").as("cluster_id"))
    nodes.unionByName(roots)
  }

  /** Large-star: connect every neighbor v > u to min(N(u) ∪ {u}).
    *
    * Per-node min via groupBy+join, NOT a window: `min` aggregates
    * map-side (partial agg), so a 10⁸-degree hub ships one partial row
    * per input partition instead of funneling every edge through one
    * window task, and the join back is AQE-skew-splittable — windows are
    * not. */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
    sym.join(mins, Seq("src"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), least(col("mn"), col("src")).as("dst"))
      .distinct()
  }

  /** Small-star: for each u with parent pointers dst < u, connect all of
    * {u} ∪ N_small(u) to the minimum. Input/output in canonical dst<src
    * form (which largeStar guarantees). Same groupBy+join shape as
    * largeStar for the same skew reason. */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("src").agg(min(col("dst")).as("m"))
    // neighbors (except the min itself) re-point to the min…
    val nbrs = edges.join(mins, Seq("src"))
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // …and u points to the min (mins is already one row per u).
    val self = mins.select(col("src"), col("m").as("dst"))
    nbrs.unionAll(self).distinct()
  }

  /** Driver-side union-find over a collected edge list. Output identical
    * to the distributed loop: (node, cluster_id = min member id) for every
    * node of a non-loop edge. */
  private def driverCC(spark: SparkSession, pairs: Array[Array[String]]): DataFrame = {
    val idx = scala.collection.mutable.HashMap.empty[String, Int]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(s: String): Int = idx.getOrElseUpdate(s, { names += s; names.length - 1 })
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    // the loop's canonical form drops self-loops and null ends
    pairs.foreach { case Array(a, b) =>
      if (a != null && b != null && a != b) {
        val ia = id(a); val ib = id(b)
        while (parent.length < names.length) parent += parent.length
        val ra = find(ia); val rb = find(ib)
        if (ra != rb) parent(ra) = rb
      }
    }
    // min member name per component root
    val minOf = scala.collection.mutable.HashMap.empty[Int, String]
    var i = 0
    while (i < names.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur.isEmpty || names(i) < cur.get) minOf(r) = names(i)
      i += 1
    }
    // external rows become a local relation without a generated serializer
    val rows = names.indices.map(i => Row(names(i), minOf(find(i))))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", StringType), StructField("cluster_id", StringType))))
  }

  /** Eagerly checkpoint `df` while computing its change-detection
    * fingerprint (row count, modular hash sum) IN the same job via
    * observe(). Hashes are reduced mod 1e9+7 before summing so the sum
    * stays well inside Long under ANSI arithmetic (Spark 4 default) up to
    * ~9e9 rows. */
  private def checkpointWithSignature(df: DataFrame, name: String)
      : (DataFrame, (Long, Long)) = {
    val observed = df.observe(name,
      count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L))), lit(0L)).as("h"))
    val ckpt = observed.localCheckpoint(true) // the one action of the round
    val row = observed.queryExecution.observedMetrics(name)
    (ckpt, (row.getLong(0), row.getLong(1)))
  }
}
