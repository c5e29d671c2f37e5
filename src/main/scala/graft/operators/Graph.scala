package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.integral_divide

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training corpora carry a link graph, and graph centrality is
  * a standard quality signal when selecting documents (the reference
  * pipeline has no graph stage — this is parity-plus capability for the
  * LLM-data brief, like dedup and ANN).
  *
  * PageRank here is EXACT-INTEGER: ranks live in micro-units (1e6 = mass
  * 1.0) and every step is integer arithmetic — `r div deg` per edge,
  * `(Σ·17) div 20` for the 0.85 damping — so the result is independent of
  * distributed summation order. Floating-point PageRank differs run-to-run
  * at the ulp level once partial sums reorder; the integer formulation is
  * the [[Relational.stableAvg]] discipline applied to iteration, and it is
  * what makes the operator oracle-gradeable (and its output cacheable /
  * diffable across runs) at any cluster size.
  *
  * Scale shape: the edge relation (the 100 TB side) is joined with the
  * node-sized rank relation once per iteration — ranks broadcast when
  * small, and the per-iteration shuffle is the `groupBy(dst)` partial
  * aggregate (map-side combined). Out-degrees are attached to the edges
  * ONCE up front and the augmented edge relation is materialized, so
  * iterations never recompute the degree aggregate or re-scan the source.
  */
object Graph {

  /** Deterministic synthetic link graph over contiguous node ids
    * `0..n-1`: node `u` links to `(a·u + b·j) mod n` for `j = 1..outDeg`.
    * Closed-form replayable (the fixture discipline of
    * [[Multimodal.withPixelMedia]]); real corpora bring their own edge
    * list straight into [[pageRank]].
    */
  def arithmeticEdges(nodes: DataFrame, id: String, n: Long, outDeg: Int = 3,
                      a: Long = 31, b: Long = 7): DataFrame = {
    require(n > 0, s"arithmeticEdges: n must be > 0, got $n")
    require(outDeg >= 1, s"arithmeticEdges: outDeg must be >= 1, got $outDeg")
    nodes.select(col(id).cast("long").as("src"))
      .select(col("src"), explode(sequence(lit(1L), lit(outDeg.toLong))).as("j"))
      .select(col("src"), ((col("src") * a + col("j") * b) % n).as("dst"))
  }

  /** Integer-exact PageRank: `iters` power iterations at damping 0.85
    * over micro-unit ranks (`r₀ = 1_000_000`;
    * `r' = 150_000 + (Σ_in (r div deg) · 17) div 20`). Dangling nodes
    * (no out-edges) drop their mass — the standard simplification; nodes
    * with no in-edges settle at the 150 000 base. Returns
    * `(id, rank_micro)` with the caller's id column name preserved.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, id: String,
               iters: Int = 5, reliable: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 100, s"pageRank: iters must be 1..100, got $iters")
    val nodeIds = nodes.select(col(id).cast("long").as("v"))
    // out-degree rides the edge row so iterations never re-aggregate it
    val deg = edges.select(col("src").cast("long").as("src"))
      .groupBy("src").agg(count(lit(1)).as("deg"))
    // lazy on the default path (each round is consumed exactly once, so the
    // checkpoint materializes inside the consuming job — no per-iteration
    // driver round-trips); eager under `reliable` so a superseded round is
    // never released before its successor's blocks exist
    val withDeg = Materialize.once(
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .join(deg, Seq("src")), reliable, eager = reliable)

    var ranks = Materialize.once(
      nodeIds.select(col("v"), lit(1000000L).as("r")), reliable, eager = reliable)
    var it = 0
    while (it < iters) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst").as("v"), integral_divide(col("r"), col("deg")).as("c"))
        .groupBy("v").agg(sum(col("c")).as("acc"))
      val next = Materialize.once(
        nodeIds.join(contribs, Seq("v"), "left")
          .select(col("v"),
            (lit(150000L) + integral_divide(coalesce(col("acc"), lit(0L)) * 17L, lit(20L)))
              .as("r")), reliable, eager = reliable)
      Materialize.release(ranks, reliable)
      ranks = next
      it += 1
    }
    val out = ranks.select(col("v").as(id), col("r").as("rank_micro"))
    Materialize.release(withDeg, reliable)
    out
  }

  /** Deterministic multi-component test graph: within each `blockSize`
    * block of ids, non-hub nodes (id % 10 ≠ 0) star onto their decade hub
    * (id − id%10), and hubs chain onto the block root (id − id%blockSize).
    * Every block is one component of known membership, depth 2 — so
    * min-label propagation converges in 3 rounds and the oracle can
    * replay each round as a chained CTE. Closed-form, like
    * [[arithmeticEdges]]; real corpora bring their own edge list.
    */
  def blockEdges(nodes: DataFrame, id: String, blockSize: Long = 100L): DataFrame = {
    require(blockSize >= 20, s"blockEdges: blockSize must be >= 20, got $blockSize")
    val v = nodes.select(col(id).cast("long").as("src"))
    val leaf = v.filter(col("src") % 10 =!= 0)
      .select(col("src"), (col("src") - col("src") % 10).as("dst"))
    val hub = v.filter(col("src") % 10 === 0 && col("src") % blockSize =!= 0)
      .select(col("src"), (col("src") - col("src") % blockSize).as("dst"))
    leaf.unionByName(hub)
  }

  /** Connected components by bounded-round min-label propagation —
    * the consolidation step that turns near-dup PAIRS into dedup GROUPS
    * at corpus scale. Labels start at the node id; each round every node
    * takes the minimum of its own label and its neighbours' previous
    * labels (edges symmetrized once up front). After `iters` rounds every
    * component whose radius (from its minimum-id node) is ≤ `iters` has
    * converged to that minimum id — the caller picks `iters` from the
    * expected component diameter, and the fixed round count is what keeps
    * the operator oracle-replayable instead of
    * converged-whenever-the-loop-stopped.
    *
    * Scale shape (the PageRank discipline): the symmetrized edge relation
    * is materialized ONCE; each round is one join against the node-sized
    * label relation plus one `groupBy(dst) min` partial-agg exchange —
    * min is fully combinable, so a hot hub reduces map-side. Superseded
    * label rounds are released.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, id: String,
                          iters: Int, reliable: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"connectedComponents: iters must be 1..100, got $iters")
    val sym = Materialize.once(
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .union(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
        .distinct(), reliable, eager = reliable)
    var labels = Materialize.once(
      nodes.select(col(id).cast("long").as("v"), col(id).cast("long").as("label")),
      reliable, eager = reliable)
    var it = 0
    while (it < iters) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v")).agg(min(col("label")).as("nl"))
      val next = Materialize.once(
        labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label")),
        reliable, eager = reliable)
      Materialize.release(labels, reliable)
      labels = next
      it += 1
    }
    val out = labels.select(col("v").as(id), col("label").as("component"))
    Materialize.release(sym, reliable)
    out
  }

  /** Exact per-node triangle counts via DEGREE-ORDERED edge orientation —
    * the clustering-coefficient numerator, a standard link-spam signal
    * (farms are near-cliques; organic neighborhoods are sparse). Each
    * undirected edge orients from its lower endpoint to its higher under
    * the total order (degree, id); every triangle then has exactly one
    * node with both out-edges, so wedges from that apex joined against the
    * closing oriented edge count each triangle once.
    *
    * The orientation IS the scale story: out-degrees under it are
    * O(√m)-bounded (a 10⁷-degree hub's wedges explode quadratically if
    * edges orient by raw id; ordered by degree the hub receives edges
    * instead of fanning them out), which is the standard bound that makes
    * distributed triangle enumeration feasible. Wedge build and closure
    * are two equi-joins on the oriented relation — no windows, no
    * cross product; per-node counts are one exploded aggregate at the end.
    * Output: `(node, n_triangles)` for nodes in at least one triangle.
    */
  def triangleCounts(edges: DataFrame, src: String, dst: String,
                     reliable: Boolean = false): DataFrame = {
    val und = edges
      .select(least(col(src), col(dst)).cast("long").as("a"),
        greatest(col(src), col(dst)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient each edge from the smaller (degree, id) endpoint to the larger
    val keyed = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    // three downstream consumers (both wedge legs + closure probe) —
    // materialized once so the dedup + degree joins don't run three times
    val oriented = Materialize.once(
      keyed.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("da").as("ku"), col("b").as("v"), col("db").as("kv")))
          .otherwise(
            struct(col("b").as("u"), col("db").as("ku"), col("a").as("v"), col("da").as("kv")))
          .as("e"))
        .select(col("e.u").as("u"), col("e.ku").as("ku"),
          col("e.v").as("v"), col("e.kv").as("kv")),
      reliable)
    // wedges (u → x, u → y) with x before y in the total order; the closing
    // edge, if present, is oriented exactly x → y
    val e1 = oriented.select(col("u"), col("v").as("x"), col("kv").as("kx"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("kv").as("ky"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(struct(col("kx"), col("x")) < struct(col("ky"), col("y")))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
