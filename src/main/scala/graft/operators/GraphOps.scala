package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Graph operators for corpus curation: connected components over the
  * near-dup candidate graph = dedup CLUSTERS (each document labeled
  * with the smallest doc id reachable through pair edges), the step
  * after pairwise near-dup detection in a real curation pipeline —
  * pairs alone can't answer "which copies form one group".
  */
object GraphOps {

  /** Connected components by iterative min-label propagation.
    *
    * Each iteration is one equi-join (edge dst → current labels) plus
    * one min-aggregation — both key-partitioned hash shuffles, no
    * global structure. Iteration count = graph diameter; near-dup
    * clusters are small and dense, so convergence is 2-5 rounds.
    * `localCheckpoint` cuts the growing lineage every round (the loop
    * would otherwise re-derive the whole candidate pipeline per
    * iteration); at cluster scale the same loop runs with
    * `checkpoint()` to a reliable dir. Driver-side state is one
    * convergence boolean per round — never row data.
    *
    * Deterministic: the fixpoint (per-component min id) is unique
    * regardless of join order or partitioning.
    */
  def connectedComponents(nodes: DataFrame, nodeCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    val bidir = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .localCheckpoint(true)
    var labels = nodes.select(col(nodeCol).as("node"))
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // Convergence via the label-sum invariant: min-propagation only ever
    // DECREASES a node's label, so the (exact, DECIMAL) sum of labels is
    // strictly monotone until the fixpoint — "sum unchanged" ⟺ "no node
    // changed". One scalar aggregate per round instead of the old
    // join-and-scan-for-differences job.
    // Null-safe: an EMPTY node set sums to null (→ 0 here, so the loop
    // converges immediately on the empty result). Labels must be
    // integral for the decimal cast to be exact — node ids here are
    // ids, not measures; fractional ids would make "sum unchanged"
    // an approximation, not an invariant.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaEdges = bidir.join(labels, bidir("dst") === labels("node"))
        .select(bidir("src").as("node"), labels("label").as("label"))
      val next = labels.unionAll(viaEdges)
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
  }

  /** k-core decomposition membership: iteratively peel nodes of degree
    * < k from the undirected graph until every survivor has ≥ k
    * surviving neighbors. The standard dense-subgraph extractor —
    * e.g. keeping only the strongly cross-linked core of a near-dup /
    * citation / co-click graph.
    *
    * Each round is one degree hash-agg plus one semi-join filter of the
    * edge list against surviving nodes — key-partitioned shuffles only,
    * no global structure; `localCheckpoint` cuts lineage per round.
    * Driver state per round is one count (how many nodes fell). Rounds
    * are bounded by the peel depth (≤ |V| pathologically, small in
    * practice); `maxIter` caps it. The fixpoint is unique (the k-core
    * is a well-defined subgraph independent of peel order), so the
    * result is deterministic under any partitioning.
    *
    * Returns surviving (node, degree) rows — degree WITHIN the core.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50): DataFrame = {
    // canonical undirected simple graph: drop self-loops, dedup pairs,
    // then symmetrize so one degree agg on `a` counts every endpoint
    var e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    e = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var iter = 0
    var fell = 1L
    while (fell > 0 && iter < maxIter) {
      val deg = e.groupBy("a").agg(count(lit(1)).as("__d"))
        .localCheckpoint(true) // one materialization feeds count + filter
      val keep = deg.filter(col("__d") >= k).select("a")
      fell = deg.filter(col("__d") < k).count()
      if (fell > 0) {
        e = e.join(keep, Seq("a"), "left_semi")
          .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
          .localCheckpoint(true)
      }
      iter += 1
    }
    e.groupBy(col("a").as("node")).agg(count(lit(1)).cast("long").as("degree"))
  }

  /** Barrier-synchronous semi-supervised label propagation over an
    * undirected edge list: seed nodes carry fixed labels; each round,
    * every STILL-UNLABELED node adopts the majority label among its
    * already-labeled neighbors (ties → smallest label; isolated or
    * all-unlabeled-neighbor nodes stay unlabeled and may label in a
    * later round). Round r reads only round r−1's assignment, so the
    * result is deterministic under any partitioning — the fixed-round
    * cousin of [[kCore]]'s peel loop, one hash join + one count agg +
    * one argmax agg per round, label state localCheckpoint'd per round
    * (the iterative lineage discipline).
    *
    * `edges` must already be UNIQUE UNDIRECTED pairs (src < dst, e.g.
    * [[graft.operators.SimilarityOps.mutualKnn]] output); the operator
    * symmetrizes internally. Output: (node id, label, round labeled)
    * for every node labeled within `rounds` rounds — seeds at round 0.
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, idCol: String, labelCol: String,
                     rounds: Int = 2): DataFrame = {
    val dir = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__d"))
    val und = dir.unionAll(dir.select(col("__d").as("__s"),
        col("__s").as("__d")))
      .localCheckpoint(true) // read every round
    var labeled = seeds.select(col(idCol).cast("long").as("__id"),
        col(labelCol).cast("long").as("__lbl"),
        lit(0).as("round"))
      .localCheckpoint(true)
    for (r <- 1 to rounds) {
      val votes = und
        .join(labeled.select(col("__id").as("__d"), col("__lbl")),
          Seq("__d"))
        .join(labeled.select(col("__id").as("__s")), Seq("__s"),
          "left_anti")
        .groupBy(col("__s"), col("__lbl"))
        .agg(count(lit(1)).as("__c"))
      val newly = votes
        .groupBy(col("__s"))
        .agg(max(struct(col("__c").as("c"),
          (-col("__lbl")).as("nl"))).as("__m"))
        .select(col("__s").as("__id"), (-col("__m.nl")).as("__lbl"),
          lit(r).as("round"))
      labeled = labeled.unionAll(newly).localCheckpoint(true)
    }
    labeled.select(col("__id").as(idCol),
      col("__lbl").as("label_pred"), col("round"))
  }

  /** Cross-engine-deterministic PageRank, Pregel-as-joins shape (per
    * iteration: contributions = edges ⋈ ranks on the source key, then a
    * hash aggregation on dst; out-degrees computed once and
    * SHUFFLE-joined — a broadcast of the O(|nodes|) degree table would
    * OOM at graph scale). Every iteration's inbound mass is summed EXACTLY —
    * per-edge contributions round to 14 dp and accumulate as DECIMAL,
    * and the new rank is re-rounded to 12 dp — so after any number of
    * iterations the ranks are a pure function of the graph, not of
    * partitioning or merge order. (The 2·10⁻¹⁵-relative contribution
    * perturbation from rounding is orders below the 6 dp output.)
    * Teleport literals are 0.15/0.85 exactly — NOT `1.0 - 0.85`, which
    * is a different double than the 0.15 an oracle engine parses.
    */
  def pageRankPortable(nodes: DataFrame, nodeCol: String, edges: DataFrame,
                       srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    // Materialize the edge list once: each iteration joins it, and an
    // un-checkpointed lineage would re-derive the (possibly expensive —
    // e.g. MinHash-candidate) edge pipeline every round.
    val ed = edges.select(col(srcCol).as("node"), col(dstCol).as("__dst"))
      .localCheckpoint(true)
    // |V| as a driver scalar (the sanctioned 1-row collect class):
    // the former broadcast(1-row agg) re-ran a count job and built a
    // fresh broadcast exchange in EVERY iteration's checkpointed plan.
    val nv0 = nodes.select(col(nodeCol).as("node"))
      .agg(count(lit(1)).cast("double")).head.getDouble(0)
    // Empty-graph guard: with zero nodes every downstream table is
    // empty and the divisor is never observed by any ROW — but as a
    // literal it would CONSTANT-FOLD to an ANSI divide-by-zero at
    // analysis time (the column form only ever divided on actual
    // rows). 1.0 is value-neutral: no row exists to read it.
    val nv = if (nv0 == 0.0) 1.0 else nv0
    // node-sized tables each iteration re-reads: materialize ONCE
    // (the same lineage-cut discipline as the rank table itself).
    val nd = nodes.select(col(nodeCol).as("node")).localCheckpoint(true)
    val deg = ed.groupBy(col("node"))
      .agg(count(lit(1)).cast("double").as("__deg"))
      .localCheckpoint(true)
    var ranks = nd
      .select(col("node"), round(lit(1.0) / lit(nv), 12).as("rank"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(ranks, "node").join(deg, "node")
        .groupBy(col("__dst").as("node"))
        .agg(sum(expr("CAST(round(rank / __deg, 14) AS DECIMAL(30,16))"))
          .as("__in"))
      ranks = nd
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(lit(0.15) / lit(nv) +
            lit(0.85) * coalesce(col("__in").cast("double"), lit(0.0)), 12)
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Deterministic 2-step random walk over a bipartite graph — the
    * positive-pair sampler behind DeepWalk/node2vec-style embedding
    * training (start → via → end becomes a (start, end) skip-gram
    * pair). "Random" is md5 of (node, walk id, step): the walk is a
    * pure function of the graph + walk id, so the sampled corpus is
    * reproducible across runs and partitionings — the property that
    * makes training data audits possible.
    *
    * Plan shape: neighbor lists get a per-node rank and degree (one
    * key-partitioned window per side), each step is an equi-join on
    * the node with the rank pinned to hash % degree — never a
    * materialized neighbor explosion, never driver-side state. A
    * mega-degree node makes its rank window hot; pre-capping with
    * [[SamplingOps.domainQuota]]-style thinning preserves the
    * uniform-pick semantics over the capped list.
    */
  def bipartiteWalk(edges: DataFrame, leftCol: String, rightCol: String,
                    starts: DataFrame, walksPerStart: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both neighbor-rank sides (pn, cn) consume the deduped edge list —
    // materialize it once instead of re-deriving the upstream join per side
    val e = edges.select(col(leftCol).as("__l"), col(rightCol).as("__r"))
      .distinct().localCheckpoint(true)
    val pn = e
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__l").orderBy("__r")) - 1)
      .withColumn("__deg", count(lit(1)).over(Window.partitionBy("__l")))
    val cn = e
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__r").orderBy("__l")) - 1)
      .withColumn("__deg", count(lit(1)).over(Window.partitionBy("__r")))
    def pick(node: org.apache.spark.sql.Column, wid: org.apache.spark.sql.Column,
             step: Int, deg: org.apache.spark.sql.Column) =
      Md5Int(concat(node.cast("string"), lit(":"),
        wid.cast("string"), lit(s":$step")), 1, 8) % deg
    val w = starts.select(col(leftCol).as("start_node")).distinct()
      .withColumn("walk_id",
        explode(array((0 until walksPerStart).map(i => lit(i.toLong)): _*)))
    val s1 = w.join(pn, pn("__l") === w("start_node") &&
        pn("__rn") === pick(w("start_node"), col("walk_id"), 1, pn("__deg")))
      .select(col("start_node"), col("walk_id"), col("__r").as("via_node"))
    s1.join(cn, cn("__r") === s1("via_node") &&
        cn("__rn") === pick(s1("via_node"), col("walk_id"), 2, cn("__deg")))
      .select(col("start_node"), col("walk_id"), col("via_node"),
        col("__l").as("end_node"))
  }

  /** HITS hubs/authorities (Kleinberg) with max-normalization — the
    * link-analysis twin of [[pageRankPortable]]. Each half-iteration
    * is one equi-join + one sum aggregation on a key; scores live as
    * DECIMAL(20,9) (rounded after each normalization) so the sums are
    * order-independent and engines agree bit-for-bit — normalizing by
    * MAX (exact under decimals) instead of the L2 norm is what keeps
    * the fixed-point math portable. The edge list is materialized once
    * (localCheckpoint) and reused by every half-step.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 2, topK: Int = 20): DataFrame = {
    require(iterations >= 1)
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__p"))
      .distinct().localCheckpoint(true)
    def normalize(src: DataFrame, valCol: String): DataFrame = {
      // the score table feeds BOTH the max agg and the division — pin it
      // (node-sized, distributed) so each half-step computes once, and
      // the iteration lineage stays cut
      val df = src.localCheckpoint(true)
      // 1-row max as a driver scalar (sanctioned class): the former
      // broadcast(agg) built a fresh broadcast exchange per half-step.
      // BigDecimal.doubleValue is the same nearest-double conversion
      // as Spark's DECIMAL→DOUBLE cast, so the quotient is identical.
      val mxRow = df.agg(max(col(valCol))).head
      val mx = if (mxRow.isNullAt(0)) null
        else java.lang.Double.valueOf(mxRow.getDecimal(0).doubleValue)
      df.withColumn(valCol,
        round(col(valCol).cast("double") / lit(mx), 9)
          .cast("decimal(20,9)"))
    }
    var a = normalize(
      e.groupBy("__p").agg(count(lit(1)).cast("decimal(28,9)").as("__a")),
      "__a")
    for (_ <- 2 to iterations) {
      val h = normalize(
        e.join(a, Seq("__p"))
          .groupBy("__s").agg(sum("__a").cast("decimal(28,9)").as("__h")),
        "__h")
      a = normalize(
        e.join(h, Seq("__s"))
          .groupBy("__p").agg(sum("__h").cast("decimal(28,9)").as("__a")),
        "__a")
    }
    a.orderBy(col("__a").desc, col("__p"))
      .limit(topK)
      .select(col("__p").as("node"), col("__a").cast("double").as("authority"))
  }

  /** Triangle count with DEGREE-ORDERED edge orientation — the trick
    * that makes wedge enumeration survive skew: each undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher one,
    * so every node's out-degree is bounded by √(2·|E|) regardless of
    * how hub-heavy the graph is, and the wedge join's cost Σ out-deg²
    * is O(|E|^1.5) instead of the hub's degree squared. Each triangle
    * has exactly one node with two out-edges under this orientation, so
    * it is counted exactly once: wedges (v, w) from a common source are
    * closed by probing the oriented edge v→w (a hash equi-join).
    *
    * Input edges may be directed/duplicated; they are canonicalized to
    * distinct undirected (a < b) pairs first. Self-loops are dropped.
    * Output: one row (n_nodes, n_edges, n_wedges, n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame =
    triangleCensus(canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true)) // degrees + orientation + probe reuse it

  /** Distinct undirected edges as (a, b) with a < b; self-loops are
    * dropped. The canonical edge table of every undirected-graph
    * statistic here; callers that read it more than once checkpoint it.
    */
  private[operators] def canonicalEdges(edges: DataFrame, srcCol: String,
                                        dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** The degree-ordered wedge core over canonical edges (a < b): the
    * degree table (node, degree), the oriented edges (src, dst), each
    * directed from its lower-(degree, id) endpoint and checkpointed
    * eagerly, and the wedges (src, v, w), v < w, two out-edges of one
    * source. Under this orientation every triangle is exactly one
    * wedge closed by the edge (v, w).
    */
  private[operators] def orientedWedges(
      canon: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient low → high by (degree, id); broadcast is NOT used for deg
    // (O(|nodes|) rows) — both joins shuffle on the node key
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
    val oriented = withDeg.select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), Seq("src"))
      .filter(col("v") < col("w"))
    (deg, oriented, wedges)
  }

  /** [[triangleCount]]'s census over an already canonical edge table. */
  private[operators] def triangleCensus(canon: DataFrame): DataFrame = {
    val (deg, oriented, wedges) = orientedWedges(canon)
    // one pass over the wedge stream: a left probe against the (unique)
    // canonical edge set marks closed wedges, and a single aggregate
    // counts both — the O(E^1.5) wedge join used to be evaluated twice
    // (once for n_wedges, once under the semi-join)
    val probe = oriented.select(
        least(col("src"), col("dst")).as("v"),
        greatest(col("src"), col("dst")).as("w"))
      .withColumn("__closed", lit(1))
    val wstats = wedges.join(probe, Seq("v", "w"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("__closed")).as("n_triangles"))
    canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(wstats)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }

  /** First-order Markov transition matrix over per-entity ordered event
    * streams: for each entity, pair every state with its successor
    * (`lead` over (ts, tie)), count (src → dst) transitions, and
    * normalize each row of the matrix to probabilities.
    *
    * The only per-row work is one window partitioned BY ENTITY — state
    * is bounded per user, never global. The (src, dst) count table is
    * |states|² rows at most, so the row-normalization (a second tiny
    * agg joined back, not a window over raw data) is driver-negligible
    * at any corpus size. `tieCol` makes the successor deterministic
    * under timestamp ties. p = n/Σn is an exact integer-to-double
    * division — bit-identical across engines before rounding.
    */
  def markovTransitions(events: DataFrame, entityCol: String,
                        tsCol: String, tieCol: String, stateCol: String,
                        roundTo: Int = 6): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val trans = events
      .select(col(entityCol), col(tsCol), col(tieCol),
        col(stateCol).as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("src")).agg(sum(col("n")).as("__t"))
    trans.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"),
          roundTo).as("p"))
  }

  /** Degree assortativity of a bipartite edge list: the Pearson
    * correlation between the two endpoints' degrees, taken over EDGES
    * (Newman 2002's mixing coefficient, bipartite form) — positive
    * when busy left nodes attach to busy right nodes (hub-hub mixing),
    * negative for hub-to-leaf structure.
    *
    * Shape discipline: edges are deduplicated first; each side's
    * degree table is an aggregate on that side's key, joined back on
    * the same keys (both joins shuffle-or-broadcast on a key, never
    * all-pairs); the correlation is one `corr` aggregate over the edge
    * list. Rounded like the other corr surfaces (q68).
    */
  def degreeAssortativity(edges: DataFrame, leftCol: String,
                          rightCol: String, roundTo: Int = 4): DataFrame = {
    val e = edges.select(col(leftCol).as("__l"), col(rightCol).as("__r"))
      .distinct()
    val dl = e.groupBy(col("__l")).agg(count(lit(1)).as("__dl"))
    val dr = e.groupBy(col("__r")).agg(count(lit(1)).as("__dr"))
    e.join(dl, "__l").join(dr, "__r")
      .agg(count(lit(1)).as("n_edges"),
        round(corr(col("__dl").cast("double"), col("__dr").cast("double")),
          roundTo).as("assortativity"))
  }

  /** Local clustering coefficient per node: C(v) = 2·T(v)/(d(v)·(d(v)−1)),
    * the fraction of v's neighbor pairs that are themselves connected —
    * the per-node refinement of [[triangleCount]]'s global census.
    *
    * Same O(|E|^1.5) discipline: canonical edges once, degree-ordered
    * orientation (out-degree ≤ √(2E) under any hub skew), wedge
    * equi-join on the oriented source, closure probe against the
    * canonical edge set. Each closed wedge IS one triangle (counted
    * once), and it credits all three corners: explode the (src, v, w)
    * triple and count per node. Degree-0/1 nodes get null C (no
    * neighbor pair to close).
    */
  def localClustering(edges: DataFrame, srcCol: String, dstCol: String,
                      roundTo: Int = 6): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true) // degrees + orientation + probe reuse it
    val (deg, _, wedges) = orientedWedges(canon)
    val triangles = wedges
      .join(canon.select(col("a").as("v"), col("b").as("w")),
        Seq("v", "w"), "left_semi")
    val triPerNode = triangles
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(coalesce(col("triangles"), lit(0L)).cast("double") * 2 /
            (col("degree") * (col("degree") - 1)), roundTo)).as("lcc"))
      .orderBy("node")
  }

  /** Adamic–Adar link prediction: for node pairs NOT yet connected,
    * score = Σ over common neighbors w of 1/ln(deg w), top-`k` by
    * score. The common-neighbor enumeration is the center-node wedge
    * join (adjacency ⋈ adjacency on the center), whose cost is
    * Σ deg², so centers above `maxDegree` are EXCLUDED — the standard
    * dial, and a principled one: a hub every node touches contributes
    * ~nothing (1/ln(deg) → 0) yet would cost deg² candidate rows. At
    * corpus scale `maxDegree` bounds per-center work regardless of
    * hub skew; recall loss is only among pairs whose ONLY shared
    * neighbors are super-hubs.
    *
    * Per-wedge contributions snap to 12 dp and sum as exact decimals
    * (order-independent under any partitioning); existing edges are
    * removed with one anti-join on the canonical pair; the top-k is a
    * TakeOrdered heap, never a global sort.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 topK: Int, maxDegree: Int = 64,
                 roundTo: Int = 6): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true) // adjacency + degree + anti-probe reuse it
    val und = canon.select(col("a").as("w"), col("b").as("nb"))
      .unionAll(canon.select(col("b").as("w"), col("a").as("nb")))
    val deg = und.groupBy("w").agg(count(lit(1)).as("__deg"))
    val centers = und.join(
      deg.filter(col("__deg") <= maxDegree && col("__deg") >= 2), "w")
    val wedges = centers.select(col("w"), col("__deg"), col("nb").as("u"))
      .join(centers.select(col("w"), col("nb").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val scored = wedges
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        sum(round(lit(1.0) / log(col("__deg").cast("double")), 12)
          .cast("decimal(38,12)")).as("__aa"))
      .join(canon.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
    scored
      .select(col("u"), col("v"), col("n_common"),
        round(col("__aa").cast("double"), roundTo).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Newman modularity of a node partition: per community c,
    * Q_c = L_c/m − (d_c/2m)² where L_c = internal edges, d_c = degree
    * mass, m = total edges — the "is this clustering better than
    * random" score for the communities [[labelPropagate]] (or any
    * other assignment) produced. Σ_c Q_c is the global Q.
    *
    * Edges canonicalize once (a<b, distinct); labels join onto both
    * endpoints (two equi-joins — the only shuffles that scale with
    * |E|); L_c and d_c are exact integer sums; the two-scalar total
    * (m) broadcasts. Output per community with its Q contribution at
    * `roundTo` dp — one extra agg gives the global score.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String, labelCol: String,
                 roundTo: Int = 6): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).as("__node"),
      col(labelCol).as("__lab"))
    val tagged = canon
      .join(lab.select(col("__node").as("a"), col("__lab").as("__la")), "a")
      .join(lab.select(col("__node").as("b"), col("__lab").as("__lb")), "b")
      .localCheckpoint(true) // m + internal + degree mass read it
    val m = tagged.agg(count(lit(1)).as("__m"))
    val internal = tagged.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__c")).agg(count(lit(1)).as("__lc"))
    val degMass = tagged
      .select(explode(array(col("__la"), col("__lb"))).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("__dc"))
    val nodesPer = lab.groupBy(col("__lab").as("__c"))
      .agg(count(lit(1)).as("n_nodes"))
    nodesPer
      .join(degMass, Seq("__c"), "left")
      .join(internal, Seq("__c"), "left")
      .crossJoin(broadcast(m))
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("__lc"), lit(0L)).as("internal_edges"),
        coalesce(col("__dc"), lit(0L)).as("degree_mass"),
        round(coalesce(col("__lc"), lit(0L)).cast("double") /
            col("__m").cast("double") -
          (coalesce(col("__dc"), lit(0L)).cast("double") /
            (lit(2.0) * col("__m"))) *
          (coalesce(col("__dc"), lit(0L)).cast("double") /
            (lit(2.0) * col("__m"))), roundTo).as("q_contrib"))
  }

  /** Moran's I spatial/network autocorrelation: for a node attribute
    * x and a 0/1 adjacency edge list, I = (n/W)·Σ_{ij} w_ij·dᵢ·dⱼ /
    * Σᵢ dᵢ² with d = x − x̄ — "do connected nodes carry similar
    * values?" Positive I = homophily, negative = checkerboard. The
    * scalar companion to [[assortativity]] (which correlates degrees;
    * this correlates any attribute).
    *
    * x̄ is one broadcast aggregate ROUNDED at 6 dp (shared-constant
    * rule); the numerator is TWO hash joins of the edge list against
    * the |nodes| deviation table (never node²); cross-products snap
    * to 12 dp and decimal-sum.
    */
  def moransI(nodes: DataFrame, idCol: String, valCol: String,
              edges: DataFrame, srcCol: String, dstCol: String,
              roundTo: Int = 6): DataFrame = {
    val v = nodes.select(col(idCol).as("__id"),
      col(valCol).cast("double").as("__x"))
    val mean = v.agg(round(sum(round(col("__x"), 6)
        .cast("decimal(28,6)")).cast("double") / count(lit(1)), 6)
      .as("__xb"))
    val dev = v.crossJoin(broadcast(mean))
      .select(col("__id"), (col("__x") - col("__xb")).as("__d"))
      .localCheckpoint(true) // both edge endpoints + the Σd² read it
    val den = dev.agg(sum(round(col("__d") * col("__d"), 12)
        .cast("decimal(38,12)")).as("__dd"),
      count(lit(1)).as("__nn"))
    val num = edges.filter(col(srcCol) =!= col(dstCol))
      .join(dev.select(col("__id").as("__s"), col("__d").as("__di")),
        col(srcCol) === col("__s"))
      .join(dev.select(col("__id").as("__t"), col("__d").as("__dj")),
        col(dstCol) === col("__t"))
      .agg(count(lit(1)).as("__w"),
        sum(round(col("__di") * col("__dj"), 12)
          .cast("decimal(38,12)")).as("__cross"))
    num.crossJoin(broadcast(den))
      .select(col("__nn").cast("long").as("n_nodes"),
        col("__w").cast("long").as("n_edges"),
        when(col("__w") > 0 && col("__dd").cast("double") > 0,
          round(col("__nn").cast("double") / col("__w") *
            col("__cross").cast("double") /
            col("__dd").cast("double"), roundTo)).as("morans_i"))
  }

  /** Degree assortativity of an undirected graph: the Pearson
    * correlation of endpoint degrees over all (symmetrized) edges
    * (Newman 2002). On a near-dup graph the sign reads the dup
    * topology: assortative (hubs link hubs) = template networks that
    * dedup as blocks; disassortative (hubs link leaves) = hub-and-
    * mirror syndication where killing the hub's cluster removes most
    * of the dup mass.
    *
    * Scale: degrees are one hash agg over the canonical edge list;
    * the moment sums (Σx, Σx², Σxy over the 2·E symmetrized endpoint
    * pairs) accumulate as exact DECIMAL(38,0) integers, so the
    * correlation is one double formula over exact sums — the repo's
    * OLS discipline, no float accumulation anywhere.
    */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val canon = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true) // degrees + both endpoint joins read it
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
    val sym = canon.select(col("a"), col("b"))
      .unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .join(deg.select(col("node").as("a"), col("__deg").as("__x")), "a")
      .join(deg.select(col("node").as("b"), col("__deg").as("__y")), "b")
    val m = sym.agg(count(lit(1)).as("__m"),
      sum(col("__x").cast("decimal(38,0)")).as("__sx"),
      sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"),
      sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"))
    deg.agg(count(lit(1)).as("n_nodes")).crossJoin(broadcast(m))
      .select(col("n_nodes"), expr("__m div 2").as("n_edges"),
        when(col("__m") * col("__sxx") - col("__sx") * col("__sx") > 0,
          MetricOps.normZero(round(
            (col("__m") * col("__sxy") - col("__sx") * col("__sx"))
              .cast("double") /
              (col("__m") * col("__sxx") - col("__sx") * col("__sx"))
                .cast("double"), 6))).as("assortativity"))
  }

  /** Bounded BFS hop census: minimum hop distance (≤ `maxHops`) from
    * a seed set over an undirected edge list, reported as a histogram
    * (hop → node count; unreached nodes land in hop −1). On a near-dup
    * candidate graph seeded with one source's documents this measures
    * SYNDICATION REACH — how much of the corpus is within h copy-steps
    * of that source — and on any graph it is the frontier-size profile
    * that prices an iterative algorithm before running it to
    * convergence.
    *
    * Scale: classic frontier BFS — each round joins the (checkpointed)
    * edge list against ONLY the previous frontier and left-joins the
    * distance spine; `maxHops` bounds the rounds, and every
    * intermediate localCheckpoints eagerly so lineage never stacks.
    */
  def bfsHops(nodes: DataFrame, nodeCol: String, edges: DataFrame,
              srcCol: String, dstCol: String, seeds: DataFrame,
              seedCol: String, maxHops: Int): DataFrame = {
    val ed = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .unionAll(edges.select(col(dstCol).as("__s"),
        col(srcCol).as("__d")))
      .distinct()
      .localCheckpoint(true)
    var dist = nodes.select(col(nodeCol).as("node"))
      .join(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("__h", lit(0)), Seq("node"), "left")
      .localCheckpoint(true)
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("__h") === h - 1)
        .select(col("node").as("__f"))
      val reached = ed.join(frontier, col("__s") === col("__f"))
        .select(col("__d").as("node")).distinct()
        .withColumn("__nh", lit(h))
      dist = dist.join(reached, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__h"), col("__nh")).as("__h"))
        .localCheckpoint(true)
    }
    dist.groupBy(coalesce(col("__h"), lit(-1)).cast("long").as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Global transitivity (clustering coefficient) of an undirected
    * graph: 3·triangles / paths-of-length-2. On a near-dup candidate
    * graph this is the audit behind the "cluster = transitive closure"
    * assumption every connected-components dedup makes: transitivity
    * near 1 means LSH components are genuine copy-families; low
    * transitivity means chains of marginal pairs are welding unrelated
    * documents into one cluster and the survivor policy will delete
    * non-duplicates.
    *
    * Scale: triangles via [[triangleCount]]'s degree-oriented wedge
    * join (O(E^1.5) under any skew); the path-2 denominator
    * Σ deg·(deg−1)/2 is one extra hash agg over the SMALL edge list —
    * both reduce to 1-row tables that merge as broadcasts.
    */
  def transitivity(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    // EAGER localCheckpoint: the edge lineage (e.g. a full LSH
    // verify) must compute once — the triangle census and the degree
    // pass both read it, and the census runs on this table as is.
    val canon = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true)
    val tc = triangleCensus(canon)
    val paths = canon
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
      .agg(coalesce(sum(expr("__deg * (__deg - 1) div 2")), lit(0L))
        .as("n_paths2"))
    tc.crossJoin(broadcast(paths))
      .select(col("n_nodes"), col("n_edges"), col("n_paths2"),
        col("n_triangles"),
        when(col("n_paths2") > 0, expr(
          "CAST((n_triangles * 3 * 2000000 + n_paths2) " +
            "div (2 * n_paths2) AS BIGINT)")).as("transitivity_ppm"))
  }
}
