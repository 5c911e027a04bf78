package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Fixpoint, Observed}
import graft.Checkpoints.PinOps

/** Graph analytics over edge lists — the link-analysis tier of a corpus
  * curation pipeline (rank pages/hosts by link structure to weight or
  * filter training documents; companion to the connected-components
  * clustering in [[Dedup.connectedComponents]]).
  *
  * Everything is DataFrame-iterative: per iteration one join on the edge
  * source + one aggregation on the destination — the standard distributed
  * PageRank dataflow. No driver-side graph state; the loops run through
  * [[graft.Fixpoint]], whose pins keep the plan from nesting with the
  * iteration count.
  */
object Graph {

  /** Per-JVM cache of derived EDGE LISTS, keyed by the owning SparkSession
    * + a caller key that must uniquely identify the input dataset (the
    * same cache contract as `Dedup.ngramClustersFor`): deriving a graph
    * from fact tables (join + distinct) is an index-like build, paid once
    * per dataset, while the rank iterations remain per-query compute. */
  private val edgesCache = new graft.SessionMemo[String, DataFrame]()

  def edgesFor(spark: org.apache.spark.sql.SparkSession, key: String)
              (build: => DataFrame): DataFrame =
    edgesCache.getOrCompute(spark, key)(build.pin())

  /** Per-JVM cache of the PageRank PREPROCESSING artifacts — the
    * degree-annotated edge table and the node list. Both are pure
    * functions of the edge list (one degree agg + one distinct), so they
    * belong with the edge build on the once-per-dataset side of the
    * index/compute split; the rank iterations stay per-query. */
  private val degCache =
    new graft.SessionMemo[String, (DataFrame, DataFrame)]()

  /** Integer-quantized PageRank: ranks live in micro-units (start =
    * 1,000,000 per node) and each iteration is
    * `rank'(v) = 150,000 + Σ_{u→v} (rank(u) * 850) div (1000 * outdeg(u))`
    * — the damping-0.85 power iteration with the teleport term as a
    * constant (unnormalized variant) and every contribution an INTEGER
    * division. All arithmetic is exact long math, so the result is
    * independent of partitioning and combine order — replayable
    * hash-exactly by an ANSI-SQL oracle, unlike double-precision PageRank
    * whose sums drift with reduction order.
    *
    * Dangling nodes (no out-edges) contribute nothing (their mass decays
    * into the teleport constant); symmetrize the edge list first if every
    * node should both emit and receive. `iters` is fixed (no convergence
    * probe): at 100 TB a bounded number of power iterations is the
    * standard operating point, and each costs one edge⋈rank shuffle. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, memoKey: Option[String] = None): DataFrame = {
    // edge table with out-degree attached, materialized ONCE: every
    // iteration re-reads it, and an unmaterialized plan would re-derive
    // the (possibly expensive) edge expression per round. With `memoKey`
    // (same dataset-key contract as [[edgesFor]]) the pair is built at
    // most once per dataset and shared across queries.
    def build(): (DataFrame, DataFrame) = {
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // pinned hash-partitioned on their join keys, so no round
      // re-exchanges these two loop constants (r19)
      val ed = graft.Checkpoints.pinPartitioned(
        e.join(deg, "src"), Seq("src"))
      val nd = graft.Checkpoints.pinPartitioned(
        ed.select(col("src").as("node"))
          .unionByName(ed.select(col("dst").as("node")))
          .distinct(), Seq("node"))
      (ed, nd)
    }
    val (edgesDeg, nodes) = memoKey match {
      case Some(key) =>
        degCache.getOrCompute(edges.sparkSession, key)(build())
      case None => build()
    }
    Fixpoint.repeat(nodes.select(col("node"), lit(1000000L).as("rank")),
        iters) { ranks =>
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("(rank * 850) div (1000 * outdeg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"),
          "left_outer")
        .select(col("node"),
          (lit(150000L) + coalesce(col("c"), lit(0L))).as("rank"))
    }
  }

  /** Community detection by SYNCHRONOUS weighted label propagation:
    * every node starts labeled with its own id; each round, every node
    * simultaneously adopts the label carrying the greatest total incident
    * edge weight among its neighbors, ties broken by the SMALLEST label.
    * The synchronous update + total tiebreak make the result a pure
    * function of the graph — unlike the textbook asynchronous LPA, whose
    * output depends on visit order — so a fixed-`iters` run is replayable
    * exactly by an unrolled SQL twin.
    *
    * Scale shape: per round, one edge⋈label shuffle, one (node, label)
    * weight aggregation (map-side partial), one per-node argmax window —
    * all keyed, label table bounded by the node count, checkpoint cadence
    * as [[pageRankInt]]. `edges` is undirected (u, v, w) and symmetrized
    * internally; self-loops vote for the node's own label and are
    * normally excluded upstream. */
  def labelPropagation(edges: DataFrame, uCol: String, vCol: String,
                       wCol: String, iters: Int): DataFrame = {
    val e0 = edges.select(col(uCol).as("u"), col(vCol).as("v"),
      col(wCol).as("w"))
    // a plain pin: sym is rebuilt per call, and a co-partitioned pin's
    // extra exchange cost more than the round exchanges it saved (r19)
    val sym = e0.unionByName(
      e0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .pin() // read every round
    val nodes = sym.select(col("u").as("node")).distinct().pin()
    Fixpoint.repeat(nodes.select(col("node"), col("node").as("lbl")),
        iters)(lpaRound(sym, _))
      .select(col("node"), col("lbl").as("community"))
  }

  /** One synchronous LPA round: neighbor-label weight votes, then the
    * per-node (weight DESC, label ASC) argmax. Package-visible so the
    * plan shape is pinnable on the live round (the iteration's trailing
    * checkpoint collapses the public entry point's plan). */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val votes = sym
      .join(labels.select(col("node").as("v"), col("lbl")), "v")
      .groupBy(col("u").as("node"), col("lbl"))
      .agg(sum(col("w")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("s").desc, col("lbl").asc)
    votes.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).select("node", "lbl")
  }

  /** Co-occurrence projection: an undirected edge (u, v) between distinct
    * `nodeCol` values that share at least `minShared` distinct `viaCol`
    * values — the standard bipartite→unipartite projection (customers
    * sharing parts, documents sharing terms) that turns fact tables into
    * similarity graphs.
    *
    * Scale shape: one distinct on (node, via), then a self-join on `via`
    * whose fan-out is the squared per-via node count — so hyper-connector
    * vias (a stop-word term, a part every customer buys) are DROPPED at
    * `maxPerVia` first, the same hot-bucket cap as the LSH dedup family
    * (a via shared by everyone carries no similarity signal and would
    * dominate the shuffle). Emits (u, v, n_shared) with u < v. */
  def cooccurrenceEdges(df: DataFrame, nodeCol: String, viaCol: String,
                        minShared: Long, maxPerVia: Long = 1000): DataFrame = {
    val nv = df.select(col(nodeCol).as("node"), col(viaCol).as("via"))
      .distinct()
    // the cap trades recall, never silently: dropped vias are counted in
    // an observed metric, like the dedup family's bucket caps. edgesFor's
    // eager pin runs it at build time, so it goes through Observed.observe
    // to reach Observed.run callers
    val keptVias = Observed.observe(
        nv.groupBy("via").agg(count(lit(1)).as("n_nodes")),
        "cooccurrence_vias",
        sum(when(col("n_nodes") > maxPerVia, 1L).otherwise(0L))
          .as("dropped_vias"))
      .where(col("n_nodes") <= maxPerVia).select("via")
    val kept = nv.join(keptVias, "via")
    // (node, via) is distinct, so each shared via contributes exactly one
    // joined row and count(*) is the shared-via count
    kept.as("a").join(kept.as("b"),
        col("a.via") === col("b.via") && col("a.node") < col("b.node"))
      .groupBy(col("a.node").as("u"), col("b.node").as("v"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Exact per-node triangle counts over an undirected edge list, via
    * DEGREE-ORDERED orientation: each edge points from its lower-(degree,
    * id) endpoint to the higher one, wedges pair the out-neighbors of a
    * common source, and a wedge closes into a triangle when its two tips
    * are themselves an oriented edge. Every triangle is generated exactly
    * once (from its lowest-rank vertex), and out-degrees are bounded by
    * O(√m) on any graph — the standard trick that keeps the wedge table
    * near-linear instead of Σdeg² on skewed graphs.
    *
    * The oriented-edge table is one distinct + one degree agg + joins on
    * the edge key; the wedge⋈edge close is the only quadratic-risk step
    * and degree ordering is exactly what bounds it. Output: (node,
    * n_triangles) for every edge endpoint, zeros included — and since the
    * TRIANGLE SET is orientation-independent, a plain id-ordered SQL
    * twin replays the result exactly. */
  def triangleCounts(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val und = edges
      .select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .pin() // read 3x: degrees, orientation, node universe
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .pin() // read 3x: both wedge sides + the closing probe
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.s") === col("y.s") &&
          (col("x.dt") < col("y.dt") ||
            (col("x.dt") === col("y.dt") && col("x.t") < col("y.t"))))
      .select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    val tri = wedges
      .join(oriented.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    und.select(col("u").as("node")).unionByName(und.select(col("v").as("node")))
      .distinct()
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Multi-source BFS: exact shortest HOP distance from any seed node,
    * up to `maxHops` — "how many links from a trusted seed" is the
    * classic link-distance trust signal for corpus curation, and hop
    * counts are exact integers so the result is partitioning- and
    * combine-order-free.
    *
    * Scale shape: per level ONE frontier⋈edges join (hash on src) + one
    * distinct + one anti-join against the settled set — the textbook
    * distributed frontier expansion; no per-walk enumeration, so cycles
    * and diamond fan-in cost nothing (a node is settled the first level
    * it appears, which IS its shortest distance). Each level pins one
    * state, the settled set, through [[graft.Fixpoint.upTo]]; the
    * frontier is the previous level's rows of it, and the level's measure
    * is how many nodes it settled: the loop exits early at 0. Output:
    * (node, dist) for every node within `maxHops` of a seed; unreached
    * nodes are absent. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    seeds: Seq[String], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "at least one seed node")
    val spark = edges.sparkSession
    import spark.implicits._
    // not co-partition-pinned, as in labelPropagation (r19)
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    Fixpoint.upTo("shortest paths",
        seeds.distinct.toDF("node").select(col("node"), lit(0L).as("dist")),
        maxHops,
        hop => count(when(col("dist") === hop.toLong, true)).as("settled")) {
      (settled, hop) =>
        settled.unionByName(e
          .join(settled.where(col("dist") === hop - 1L)
            .select(col("node").as("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(settled, Seq("node"), "left_anti")
          .select(col("node"), lit(hop.toLong).as("dist")))
    }
  }

  /** k-core membership: the unique maximal subgraph in which every node
    * keeps degree ≥ k, by distributed iterative peeling — the "densest
    * stable cluster" trust tier of a link graph.
    *
    * Peeling is ORDER-INDEPENDENT: the fixpoint is the same unique core
    * whatever order sub-k nodes leave in, which makes the oracle's
    * fixed-round unrolled SQL replay exact (rounds past convergence peel
    * nothing).
    *
    * Scale shape per round: drop the edges at a sub-k endpoint, then ONE
    * degree hash-aggregate over the survivors, joined back onto both
    * endpoints — one [[graft.Fixpoint]] pin, which also reports how many
    * edges are still to peel. No node list reaches the driver.
    *
    * Output: (node, core_degree) for core members, core_degree being the
    * node's degree INSIDE the core (≥ k); empty when there is no k-core.
    * Input is normalized to a SIMPLE graph first (self-loops dropped,
    * duplicate rows deduped), which would otherwise inflate degrees. A
    * residual left at `maxRounds` is NOT a k-core, so the call FAILS
    * LOUDLY there; peel depth can be diameter-deep on path-like graphs. */
  def kCore(edges: DataFrame, uCol: String, vCol: String, k: Long,
            maxRounds: Int = 20): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val sym = edges
      .select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .unionByName(edges
        .select(col(vCol).cast("long").as("u"), col(uCol).cast("long").as("v"))
        .where(col("u") =!= col("v")))
      .distinct()
      .pin()
    // each state row carries both endpoints' degrees within the state
    def withDegrees(e: DataFrame): DataFrame = {
      val deg = e.groupBy("u").agg(count(lit(1)).as("du"))
      e.join(deg, "u")
        .join(deg.select(col("u").as("v"), col("du").as("dv")), "v")
    }
    Fixpoint.untilStable("k-core", withDegrees(sym), maxRounds,
        _ => count(when(col("du") < k || col("dv") < k, true))
          .as("edges_to_peel")) { (state, _) =>
      withDegrees(state.where(col("du") >= k && col("dv") >= k)
        .select("u", "v"))
    }.groupBy("u").agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("node"), col("core_degree"))
  }
}
