package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Barrier

/** Property-graph-over-relational modeling (reference
  * `lecture-lab/graph_ddls.sql:7-33`): vertices(identifier, type,
  * properties) and edges(subject, object, edge_type, properties), with
  * the property bag serialized as a JSON string (the reference builds
  * it with `json_build_object`, `team_vertices.sql:8-14`; its own Spark
  * port uses a MAP — we keep JSON for cross-engine comparability).
  * All reference graph operations are relational; no GraphX needed.
  */
object Graph {

  /** Build a vertex table from any entity DataFrame. Property order is
    * preserved (JSON key order is deterministic).
    */
  def vertices(df: DataFrame, id: Column, vertexType: String,
      props: Seq[(String, Column)]): DataFrame =
    df.select(
      id.cast("string").as("identifier"),
      lit(vertexType).as("vertex_type"),
      to_json(struct(props.map { case (n, c) => c.as(n) }: _*))
        .as("properties"))

  /** Co-occurrence pair counts: for each group (e.g. part), every
    * unordered pair of distinct items (e.g. suppliers) seen in it,
    * with the number of groups sharing the pair. Output columns
    * `item_a < item_b`, `n`.
    *
    * Shape: collect each group's item set once, sort it, and GENERATE
    * the ordered pairs with posexplode + a codegen'd `slice` of the
    * prefix — never a self-join (which would materialize every pair
    * row through a sort-merge join) and never a per-element lambda
    * filter (higher-order functions are interpreted and rescan the
    * array per element).
    *
    * The aggregation strategy is the caller's regime call, because the
    * right answer flips with the DISTINCT PAIR-KEY SPACE, not the data
    * size:
    *  - `mapSideCombine = false` (default): explicit repartition of
    *    raw (int, int) pairs, aggregate once co-located. Right when
    *    pair keys are nearly distinct within a map partition (item
    *    space grows with the data — e.g. market baskets over the part
    *    catalog): partial aggregation would get ~no reduction and only
    *    burn a hash-map build per task; measured ~40% faster there,
    *    and the trade holds at 100 TB where pair space grows item².
    *  - `mapSideCombine = true`: plain groupBy with Spark's partial
    *    aggregation. Right when the item space is SMALL and fixed
    *    (hundreds of items ⇒ pair keys in the thousands): generated
    *    pair instances collapse map-side and the shuffle moves a few
    *    thousand partials instead of every pair. Measured on q17's
    *    shape (1000 suppliers, ~500k pair keys, 17× instances-per-key
    *    at sf0.1) the two regimes tie — the combine win needs
    *    instances-per-key well beyond the per-task key space.
    */
  def coPairs(df: DataFrame, group: Column, item: Column,
      shufflePartitions: Int, packKey: Boolean = false,
      mapSideCombine: Boolean = false,
      spreadGeneration: Boolean = false): DataFrame = {
    val grouped = df.groupBy(group)
      .agg(sort_array(collect_set(item)).as("_items"))
    // spreadGeneration (r13, the q157 verify lesson, guide §2.5):
    // when the GROUP space is small (q17/q64 group by part key —
    // ~25k groups, a ~2.4 MB aggregate output), AQE byte-coalesces
    // the post-aggregate exchange to 2-3 tasks while this stage
    // GENERATES Σ|items|²/2 pair rows — 25× its input bytes at
    // sf0.1 — so the coalesced width serializes the query's dominant
    // compute; an explicit round-robin exchange of the small grouped
    // arrays restores the width (q17 3.3→2.4 s, q64 2.2→1.7 s).
    // OPT-IN because when the group space is LARGE (q158 groups by
    // order), the aggregate output is already wide enough and the
    // extra exchange only costs (measured q158 1.9→2.6 s with it on).
    val staged0 =
      if (spreadGeneration) grouped.repartition(shufflePartitions)
      else grouped
    val generated = staged0
      .select(col("_items"), posexplode(col("_items")).as(Seq("_pos", "item_b")))
      // slice = the sorted prefix strictly before item_b ⇒ item_a <
      // item_b by construction; _outer + attribute filter instead of a
      // plain explode so the optimizer can't infer a size()>0 filter
      // that re-evaluates the computed slice twice (PLANS.md)
      .select(col("item_b"),
        explode_outer(slice(col("_items"), lit(1), col("_pos"))).as("item_a"))
      .filter(col("item_a").isNotNull)
    if (packKey) {
      // pack the pair into ONE long before the shuffle (valid only for
      // non-negative items fitting 32 bits, e.g. dictionary ids): the
      // wide exchange moves a single 8-byte key instead of two fields,
      // and the aggregate hashes one long — ~25% faster here, more at
      // scale where the pair shuffle IS the query
      val packed = generated
        .select(shiftleft(col("item_b").cast("long"), 32)
          .bitwiseOR(col("item_a").cast("long")).as("_pk"))
      val staged =
        if (mapSideCombine) packed
        else packed.repartition(shufflePartitions, col("_pk"))
      staged
        .groupBy(col("_pk"))
        .agg(count(lit(1)).as("n"))
        .select(
          col("_pk").bitwiseAND(lit(0xffffffffL)).as("item_a"),
          // UNSIGNED shift: item_b in [2³¹, 2³²) sets bit 63 of the
          // packed key, and an arithmetic shift would sign-extend it
          // back out as a negative id
          shiftrightunsigned(col("_pk"), 32).as("item_b"),
          col("n"))
    } else {
      val staged =
        if (mapSideCombine) generated
        else generated
          .repartition(shufflePartitions, col("item_a"), col("item_b"))
      staged
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n"))
    }
  }

  /** Triangle census of an undirected graph given canonical edges
    * (u < v, one row per edge), as one summary row. "Wedges" here are
    * the ordered candidate paths a<b<c with both legs (a,b), (b,c)
    * present — exactly the triple set a triangle can close over, so
    * each triangle is generated and counted precisely once (this is
    * smaller than the graph-theoretic 2-path count, which centers any
    * vertex).
    *
    * Relational formulation: wedge = edges ⋈ edges on e1.v = e2.u
    * (the a<b<c ordering is free because every edge is stored small→
    * large), closed by checking a third edge copy for (a,c). At scale
    * the join keys are vertex ids — shuffle-partitioned both sides;
    * when the edge list is bounded (top-K edges, as in q64) the joins
    * broadcast instead.
    */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("u").as("a"), col("v").as("b"))
    val e2 = edges.select(col("u").as("b"), col("v").as("c"))
    val e3 = edges.select(col("u").as("a"), col("v").as("c"),
      lit(1).as("_closed"))
    val wedges = e1.join(e2, "b").select(col("a"), col("b"), col("c"))
    val closed = wedges.join(e3, Seq("a", "c"), "left")
      .agg(
        count(lit(1)).as("n_wedges"),
        count(col("_closed")).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges")).crossJoin(closed)
  }

  /** Connected components by iterative min-label propagation — the
    * transitive closure a near-dup pair list needs to become dedup
    * GROUPS (chain a~b~c collapses to one component even when a≁c
    * directly). Each iteration is one distributed join+aggregate;
    * a [[Barrier]] truncates the lineage so the plan does not
    * grow with iterations (the classic Spark iterative-algorithm
    * discipline). Converges in O(log diameter) rounds: plain
    * propagation for the first rounds (shallow near-dup clusters
    * finish there for free), then pointer doubling (comp ← comp[comp])
    * halves the remaining chain depth every round.
    *
    * @param edges undirected edge list with columns `u`, `v`
    * @return (id, comp) — every vertex labeled with its component's
    *         minimum vertex id
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      localSolveMaxEdges: Long = 1L << 21): DataFrame = {
    // checkpoint the symmetrized edges FIRST: every iteration joins
    // against them, and an unmaterialized edge list would re-execute
    // its entire upstream (e.g. a near-dup candidate pipeline) once
    // per round
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      .transform(Barrier(_))
    // hybrid solve, the AQE-broadcast discipline: an iterative
    // distributed loop costs several jobs PER ROUND in fixed overhead,
    // which dominates utterly when the post-LSH graph is small (a
    // 512-edge graph was taking ~6 s in pure scheduling). Below an
    // explicit bounded threshold (~32 MB of edge pairs), collect and
    // run driver union-find in milliseconds; past it — where that
    // collect would be the real scale hazard — use the loop. The
    // threshold bounds driver memory BY CONSTRUCTION; both paths
    // produce identical min-labels (union-find tracks the component
    // minimum as the root label).
    val isLong = sym.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLong && sym.count() <= 2 * localSolveMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = sym.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          // keep the smaller id as root — the root IS the min label
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      return parent.keys.toSeq.map(id => (id, find(id)))
        .toDF("id", "comp")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("id"))
    }
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).transform(Barrier(_))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = sym.join(labels, col("a") === col("id"))
        .groupBy(col("b").as("nid"))
        .agg(min(col("comp")).as("ncomp"))
      // carry a per-row change flag out of the SAME join that updates
      // the label — the convergence check is then a near-free scan of
      // the checkpointed result instead of an extra shuffle join of
      // next against labels every round
      // aliases in one select don't shadow input attributes, so both
      // expressions read the INPUT comp
      val next = labels.join(prop, col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")))
            .as("comp"),
          (coalesce(col("ncomp"), col("comp")) < col("comp"))
            .as("_chg"))
        .transform(Barrier(_))
      // the first round always changes labels on a non-empty graph
      // (every vertex starts self-labeled with ≥1 edge), so its count
      // job is skipped — but ONLY when another round will run the real
      // check; at maxIter=1 the forced 1 would turn into a spurious
      // non-convergence error
      changed =
        if (i == 0 && maxIter > 1) 1L
        else next.filter(col("_chg")).count()
      labels = next.select(col("id"), col("comp"))
      // pointer doubling from round 3 on: comp ← comp[comp] halves the
      // remaining label-chain depth, so total rounds grow with
      // log(diameter) instead of diameter — the difference between a
      // deep path graph converging in ~12 rounds vs needing one round
      // per hop. Deferred past the first rounds so shallow graphs
      // (the near-dup-cluster common case) never pay the extra
      // self-join; comp values are always vertex ids present in
      // labels, and comp(x) ≤ x makes the jump monotone non-increasing
      // (the left join + coalesce is belt-and-braces, not load-bearing)
      if (changed > 0 && i >= 2) {
        labels = labels
          .join(labels.select(col("id").as("_pid"),
            col("comp").as("_pcomp")), col("comp") === col("_pid"),
            "left")
          .select(col("id"),
            coalesce(col("_pcomp"), col("comp")).as("comp"))
          .transform(Barrier(_))
      }
      i += 1
    }
    // returning partial labels would silently split a deep component
    // into several groups — fail loudly instead (diameter > maxIter
    // means the caller must raise maxIter, not trust the output)
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter iterations " +
        s"($changed labels still changing); raise maxIter — the graph " +
        "diameter exceeds the round budget")
    labels
  }

  /** Incremental connected-components maintenance — the IVM
    * counterpart of [[connectedComponents]], for a dedup graph that
    * keeps receiving near-dup edges (new documents arriving against a
    * 100 TB labeled history).
    *
    * The maintained labeling is NEVER recomputed and never shuffled:
    *  1. restrict the old labels to the delta's endpoints (broadcast
    *     semi-join — a map-side filter over the label table);
    *  2. contract each delta edge through those labels (an old
    *     component participates as its single label node — valid
    *     because the label is the component MINIMUM, so the contracted
    *     min is the true merged min) and solve CC on the contracted
    *     graph, whose size is bounded by the DELTA, not history;
    *  3. broadcast the resulting relabel map back: old rows update by
    *     joining on their component label (one map-side pass), and
    *     delta-only vertices take their contracted label directly.
    *
    * Steady-state cost: O(|Δ|) for the contracted solve plus one
    * map-side pass over the label table — the same discipline as
    * [[IncrementalAgg.retractWithRecompute]]'s touched-key rescan.
    *
    * @param ccOld    a valid [[connectedComponents]] output (id,
    *                 comp): comp is the component min and appears as
    *                 its own row
    * @param newEdges delta edge list with columns `u`, `v`
    * @return (id, comp) over old ∪ delta vertices — equal to a full
    *         recompute on the union graph (property-proven)
    */
  def incrementalComponents(ccOld: DataFrame, newEdges: DataFrame,
      maxIter: Int = 20, localSolveMaxEdges: Long = 1L << 21)
      : DataFrame = {
    val verts = newEdges.select(col("u").as("id"))
      .unionByName(newEdges.select(col("v").as("id")))
      .distinct()
    // delta-endpoint labels: Δ-bounded, reused three times below
    val touched = ccOld.join(broadcast(verts), Seq("id"), "left_semi")
      .transform(Barrier(_))
    val contracted = newEdges
      .join(broadcast(touched.select(col("id").as("u"),
        col("comp").as("_lu"))), Seq("u"), "left_outer")
      .join(broadcast(touched.select(col("id").as("v"),
        col("comp").as("_lv"))), Seq("v"), "left_outer")
      .select(coalesce(col("_lu"), col("u")).as("u"),
        coalesce(col("_lv"), col("v")).as("v"))
    val remap = connectedComponents(contracted, maxIter,
        localSolveMaxEdges)
      .select(col("id").as("_old"), col("comp").as("_new"))
    // joining on comp (not id) updates EVERY member of a touched old
    // component through its label node; untouched components miss the
    // Δ-bounded map and pass through
    val updatedOld = ccOld
      .join(broadcast(remap), col("comp") === col("_old"), "left_outer")
      .select(col("id"), coalesce(col("_new"), col("comp")).as("comp"))
    val newVerts = verts
      .join(broadcast(touched.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(remap), col("id") === col("_old"), "left_outer")
      .select(col("id"), coalesce(col("_new"), col("id")).as("comp"))
    updatedOld.unionByName(newVerts)
  }

  /** Component RETRACTION — the delete-side counterpart of
    * [[incrementalComponents]]. Removing vertices can SPLIT a
    * component (connectivity may have run through them), which has no
    * algebraic inverse — exactly MIN/MAX retraction's problem
    * ([[IncrementalAgg.retractWithRecompute]]), and the same answer:
    * recompute from retained detail, but ONLY where the delete batch
    * touches.
    *
    *  1. affected components = labels of the deleted ids (broadcast
    *     the batch into the label table — map-side);
    *  2. their surviving membership is batch-groups-bounded; the
    *     retained edge log filters to edges between surviving members
    *     of affected components via broadcast semi-joins (history
    *     never shuffles);
    *  3. CC re-solves that bounded subgraph; untouched components
    *     pass through column-identically.
    *
    * Survivors that lose their last edge drop out of the labeling —
    * matching a full recompute, which never sees isolated vertices.
    *
    * @param labels  a valid [[connectedComponents]] labeling (id, comp)
    * @param edges   the retained pair log (u, v) the labeling was
    *                built from
    * @param deleted ids to remove, with column `id`
    * @return (id, comp) ≡ connectedComponents(edges minus every edge
    *         touching a deleted id) — property-proven
    */
  def retractComponents(labels: DataFrame, edges: DataFrame,
      deleted: DataFrame, maxIter: Int = 20,
      localSolveMaxEdges: Long = 1L << 21): DataFrame = {
    val del = deleted.select(col("id")).distinct()
    val affected = labels.join(broadcast(del), Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    // surviving members of affected components: batch-groups-bounded
    val members = labels
      .join(broadcast(affected), Seq("comp"), "left_semi")
      .join(broadcast(del), Seq("id"), "left_anti")
      .transform(Barrier(_))
    val mu = members.select(col("id").as("u"))
    val mv = members.select(col("id").as("v"))
    val subEdges = edges
      .join(broadcast(mu), Seq("u"), "left_semi")
      .join(broadcast(mv), Seq("v"), "left_semi")
    val resolved = connectedComponents(subEdges, maxIter,
      localSolveMaxEdges)
    labels.join(broadcast(affected), Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .unionByName(resolved)
  }

  /** PageRank in exact fixed-point integer arithmetic. Ranks are longs
    * at `scale` (default 10¹²); each round distributes `rank DIV
    * out_degree` along edges and renews every vertex as
    * `(100−dampPct)·scale/100 + dampPct·(incoming sum) DIV 100`.
    * Every step is truncating non-negative integer division, so the
    * result is bit-identical in any engine, under retries, and across
    * partitionings — float PageRank diverges at the ulp by summation
    * order, which would break the cross-engine hash compare AND make
    * the ranks irreproducible as ML features. Dangling-vertex mass is
    * dropped (the simplified formulation); ranks are comparable
    * without normalization.
    *
    * Same iterative discipline as [[connectedComponents]]: the
    * loop-invariant degree-annotated edge list is checkpointed once,
    * each round is one join + one aggregate + a checkpoint, lineage
    * stays flat. A fixed iteration count (no convergence test) keeps
    * the round count deterministic.
    *
    * Overflow bound: `nVertices · scale · dampPct` must stay below
    * 2⁶³ — at the default scale that is ~10⁵ vertices; pass a smaller
    * `scale` for bigger graphs (10⁶ vertices at scale 10⁹ etc.).
    *
    * @param edges directed, deduplicated edge list (`src`, `dst`)
    * @return (node, pr) fixed-point ranks
    */
  def pageRankInt(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampPct: Int = 85,
      localSolveMaxEdges: Long = 1L << 21): DataFrame = {
    require(dampPct > 0 && dampPct < 100, s"dampPct must be 1..99, got $dampPct")
    // checkpoint the (possibly expensive) edge list FIRST: degrees,
    // the degree-annotated join, and the vertex set all derive from
    // it, and without the checkpoint each derivation would re-execute
    // the caller's whole edge-construction pipeline
    val e = Barrier(edges.select(col("src"), col("dst")))
    // hybrid solve (same discipline as [[connectedComponents]]): a
    // bounded-size graph runs the identical truncating fixed-point
    // arithmetic on the driver — Long `/` on non-negative values IS
    // `DIV` — instead of paying several scheduled jobs per round
    val isLong = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLong && e.count() <= localSolveMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(Long, Long)].collect()
      val degM = es.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
      val verts = (es.map(_._1) ++ es.map(_._2)).distinct
      val base = ((100L - dampPct) * scale) / 100L
      var rank = verts.map(_ -> scale).toMap
      (0 until iters).foreach { _ =>
        val in = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        es.foreach { case (s, d) => in(d) += rank(s) / degM(s) }
        rank = verts.map(v => v -> (base + (dampPct * in(v)) / 100L)).toMap
      }
      return rank.toSeq.toDF("node", "pr")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("node"))
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
    val withDeg = Barrier(e.join(deg, "src"))
    val verts = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().transform(Barrier(_))
    val base = ((100L - dampPct) * scale) / 100L
    var ranks = verts.withColumn("pr", lit(scale))
    var i = 0
    while (i < iters) {
      val incoming = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr DIV _deg").as("_c"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      val next = verts.join(incoming, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampPct * coalesce(_in, 0L)) DIV 100"))
            .as("pr"))
        .transform(Barrier(_))
      ranks = next
      i += 1
    }
    ranks
  }

  /** Multi-source BFS: minimum hop distance from any seed, bounded at
    * `maxHops`. Frontier-propagation — each round expands only the
    * vertices REACHED LAST round (a left-anti join against the settled
    * set), so a vertex is expanded exactly once no matter how many
    * paths reach it; with min-label BFS the first arrival IS the
    * minimum distance. Per round: one join + one anti join + a
    * [[Barrier]] (same flat-lineage discipline as
    * [[connectedComponents]]). The round count is bounded by
    * construction, so no convergence guard is needed — but an empty
    * frontier short-circuits the loop.
    *
    * At scale each round shuffles `frontier ⋈ edges` on the vertex id
    * — frontier size is the working set, never the whole graph; the
    * settled set grows monotonically and only ever anti-joins (no
    * wide rewrite per round).
    *
    * @param edges directed edge list (`src`, `dst`); symmetrize
    *              before calling for undirected semantics
    * @param seeds one column `id` — distance-0 vertices
    * @return (id, hops) for every vertex within `maxHops` of a seed
    */
  def boundedHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      localSolveMaxEdges: Long = 1L << 21): DataFrame = {
    val e = Barrier(edges.select(col("src"), col("dst")))
    // hybrid solve (same discipline as [[connectedComponents]] /
    // [[pageRankInt]]): below the bounded edge threshold, a driver
    // BFS replaces maxHops × (join + anti join + checkpoint) rounds
    // of scheduling; identical frontier semantics, identical labels
    val isLong = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLong && e.count() <= localSolveMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj = e.as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val dist = scala.collection.mutable.Map.empty[Long, Int]
      seeds.select(col("id").cast("long")).distinct()
        .as[Long].collect().foreach(dist(_) = 0)
      var frontier = dist.keys.toSeq
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        frontier = frontier
          .flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = h)
        h += 1
      }
      return dist.toSeq.toDF("id", "hops")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("id"))
    }
    var settled = seeds.select(col("id")).distinct()
      .withColumn("hops", lit(0)).transform(Barrier(_))
    var frontier = settled.select(col("id"))
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(settled.select(col("id")), Seq("id"), "left_anti")
        .withColumn("hops", lit(h)).transform(Barrier(_))
      // the union is NOT re-checkpointed: both children already are,
      // so lineage stays flat (depth grows only with the bounded hop
      // count) — re-materializing the whole settled set every round
      // would write O(V · maxHops) blocks for no plan benefit
      settled = settled.unionByName(next)
      frontier = next.select(col("id"))
      h += 1
    }
    settled
  }

  /** Budget-bounded weighted shortest paths (multi-source): minimum
    * path COST from any seed, keeping only vertices reachable within
    * `maxCost` — the weighted twin of [[boundedHops]] (supply-chain
    * cost radius, latency-bounded reachability). Distributed form is
    * iterative relaxation (Bellman-Ford steps): each round joins the
    * current labels to the edges, keeps improvements within budget,
    * and re-minimizes — with POSITIVE integer weights every round
    * either adds a vertex or lowers a finite cost, so convergence is
    * guaranteed and checked (the loop fails loudly at `maxIter`
    * rather than returning partial costs, the [[connectedComponents]]
    * discipline). Rounds are bounded by the hop count of the deepest
    * in-budget shortest path ≤ maxCost / min(w).
    *
    * Below the bounded edge threshold a driver Dijkstra answers in
    * milliseconds with identical labels (same hybrid discipline as
    * the other iterative operators — the threshold bounds driver
    * memory BY CONSTRUCTION; both paths spec-asserted identical).
    *
    * @param edges (`src`, `dst`, `w`) directed weighted edges, w ≥ 1
    *              integer (symmetrize for undirected semantics)
    * @param seeds one column `id` — cost-0 sources
    * @return (id, cost) for every vertex with min cost ≤ maxCost
    */
  def boundedCost(edges: DataFrame, seeds: DataFrame, maxCost: Long,
      maxIter: Int = 50, localSolveMaxEdges: Long = 1L << 21)
      : DataFrame = {
    val e = Barrier(edges.select(col("src"), col("dst"), col("w")))
    val isLong = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLong && e.count() <= localSolveMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj = e.as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) =>
          k -> v.map(t => (t._2, t._3))
        }
      val dist = scala.collection.mutable.Map.empty[Long, Long]
      val pq = scala.collection.mutable.PriorityQueue
        .empty[(Long, Long)](Ordering.by[(Long, Long), Long](_._1).reverse)
      seeds.select(col("id").cast("long")).distinct()
        .as[Long].collect().foreach { s => dist(s) = 0L; pq.enqueue((0L, s)) }
      while (pq.nonEmpty) {
        val (c, v) = pq.dequeue()
        if (dist(v) == c)
          adj.getOrElse(v, Array.empty[(Long, Long)]).foreach {
            case (d, w) =>
              val nc = c + w
              if (nc <= maxCost && dist.get(d).forall(nc < _)) {
                dist(d) = nc
                pq.enqueue((nc, d))
              }
          }
      }
      return dist.toSeq.toDF("id", "cost")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("id"))
    }
    var labels = seeds.select(col("id")).distinct()
      .withColumn("cost", lit(0L)).transform(Barrier(_))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val relaxed = labels.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("cost") + col("w")).as("cost"))
        .filter(col("cost") <= maxCost)
      // fold the convergence check into the SAME union-aggregate that
      // re-minimizes: prior labels carry their cost in `_old`, relaxed
      // candidates carry null — a vertex improved iff its new min beats
      // its old cost (or it had none). The check is then a near-free
      // scan of the checkpointed result instead of an extra join per
      // round (the connectedComponents _chg discipline).
      val next = labels
        .select(col("id"), col("cost"), col("cost").as("_old"))
        .unionByName(relaxed.withColumn("_old", lit(null).cast("long")))
        .groupBy(col("id"))
        .agg(min(col("cost")).as("cost"), min(col("_old")).as("_old"))
        .transform(Barrier(_))
      changed = next
        .filter(col("_old").isNull || col("cost") < col("_old"))
        .count()
      labels = next.select(col("id"), col("cost"))
      i += 1
    }
    require(changed == 0,
      s"boundedCost did not converge in $maxIter rounds ($changed " +
        "labels still improving); raise maxIter — the in-budget path " +
        "depth exceeds the round budget")
    labels
  }

  /** Connected components over a BIPARTITE membership table (doc ∈
    * bucket / doc ∋ fingerprint) without ever materializing doc–doc
    * pairs — the 100 TB fix for pair-based dedup grouping: a bucket
    * holding B documents explodes into B² pair rows in
    * [[connectedComponents]]'s input (the reason every pair pipeline
    * here carries a maxDf stop-gram cap), while the bipartite
    * formulation moves exactly the B membership rows per round.
    * Components are identical to CC over "docs sharing ≥1 key": a
    * label hops doc → key → doc each round (= one pair edge), plus a
    * pointer jump (comp ← comp[comp], labels are doc ids) to collapse
    * chains logarithmically.
    *
    * Per round: two keyed min-aggregates + one self-join, all
    * hash-partitioned; membership checkpointed once (the loop
    * invariant), labels checkpointed per round (O(1) plan depth);
    * loud non-convergence like [[boundedCost]]. Below
    * `localSolveMaxRows` membership rows a driver union-find replaces
    * the loop; that fast path runs a `count()` and a `collect()` while
    * the DataFrame is being built, not when it executes.
    *
    * @param membership rows (id, key): document `id` contains /
    *                   belongs to `key` (fingerprint, LSH bucket,
    *                   shingle, cluster)
    * @return (id, comp) for every distinct id — comp = the
    *         component's minimum id, singletons included
    */
  def bipartiteComponents(membership: DataFrame, maxIter: Int = 20,
      localSolveMaxRows: Long = 1L << 21): DataFrame = {
    val mem = membership.select(col("id"), col("key"))
      .transform(Barrier(_)) // every round joins against it
    // hybrid solve (r13 — the connectedComponents discipline applied
    // here): the iterative loop costs several jobs per round in fixed
    // overhead, which dominates when the membership table is small
    // (q284's loop stages run 1-task after AQE coalescing — pure
    // scheduling latency). Below an explicit bounded row threshold
    // (~32 MB of (id, key) longs), collect and run a driver
    // union-find over TAGGED nodes — docs and keys live in separate
    // namespaces even when their long values collide — in
    // milliseconds; past the bound, the loop is the scale path.
    // Tagged ordering (doc < key, then value) makes the union-find
    // root the component's minimum DOC id by construction (every key
    // node has ≥1 doc neighbor).
    val isLong = mem.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLong && mem.count() <= localSolveMaxRows) {
      val spark = membership.sparkSession
      import spark.implicits._
      val rows = mem.as[(Long, Long)].collect()
      // node encoding: (0, docId) / (1, keyId); ordering = tuple order
      type Node = (Int, Long)
      val parent = scala.collection.mutable.Map.empty[Node, Node]
      def find(x: Node): Node = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      implicit val nodeOrd: Ordering[Node] =
        Ordering.Tuple2(Ordering.Int, Ordering.Long)
      rows.foreach { case (id, key) =>
        val d = (0, id); val k = (1, key)
        parent.getOrElseUpdate(d, d)
        parent.getOrElseUpdate(k, k)
        val (rd, rk) = (find(d), find(k))
        if (rd != rk) {
          if (nodeOrd.lt(rd, rk)) parent(rk) = rd else parent(rd) = rk
        }
      }
      // snapshot the nodes first: find() path-compresses `parent`
      return parent.keysIterator.toArray
        .collect { case d @ (0, id) => (id, find(d)._2) }
        .toSeq.toDF("id", "comp")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("id"))
    }
    var labels = mem.select(col("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .transform(Barrier(_))
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val keyMin = mem.join(labels, Seq("id"))
        .groupBy(col("key")).agg(min(col("comp")).as("_kc"))
      val viaKey = mem.join(keyMin, Seq("key"))
        .groupBy(col("id")).agg(min(col("_kc")).as("_nc"))
      val hopped = labels.join(viaKey, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("_nc"), col("comp")))
            .as("comp"))
      // pointer jump: labels ARE doc ids, so comp[comp] is a join
      val jumped = hopped.join(
          hopped.select(col("id").as("comp"), col("comp").as("_cc")),
          Seq("comp"), "left_outer")
        .select(col("id"), coalesce(col("_cc"), col("comp")).as("comp"))
        .transform(Barrier(_))
      changed = jumped
        .join(labels.withColumnRenamed("comp", "_old"), Seq("id"))
        .filter(col("comp") =!= col("_old")).count()
      labels = jumped
      iter += 1
    }
    require(changed == 0,
      s"bipartiteComponents did not converge in $maxIter rounds " +
        "(labels still moving); raise maxIter — component diameter " +
        "exceeds the round budget")
    labels
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over a similarity graph. Where [[connectedComponents]]
    * answers "what is transitively connected" (the dedup-GROUP
    * question), LPA answers "which densely-linked cluster does each
    * node sit in": every node adopts the most frequent label among
    * its neighbors each round, so two components joined by a single
    * bridge edge stay separate communities while a clique collapses
    * to one label in one round.
    *
    * Determinism (plain LPA is notoriously order-dependent — useless
    * for a cross-engine oracle): updates are SYNCHRONOUS (round r
    * reads only round r−1 labels), every node's own label counts once
    * (a self-loop, which also keeps isolated-in-round nodes stable),
    * and frequency ties break on the SMALLEST label. A fixed round
    * count rather than convergence detection: synchronous LPA can
    * 2-cycle on bipartite-ish structures, so "run until stable" need
    * not terminate — callers pick the horizon.
    *
    * Scale shape: the symmetrized+self-looped adjacency is the loop
    * invariant — checkpointed once, every round joins against it.
    * Each round is one hash join (labels keyed by node) + one
    * (node, label) count + a node-partitioned rank window; labels are
    * checkpointed per round so the plan stays O(1) deep. Hub-node
    * skew lands on the (v, lab) aggregate, which partial-aggregates
    * map-side before the shuffle.
    *
    * @param edges undirected edge list with columns `u`, `v`
    * @param iters number of synchronous rounds (≥ 1)
    * @return (id, comm) for every vertex incident to an edge
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("u").as("v"), col("v").as("u"))
    val nodes = edges.select(col("u").as("v"))
      .unionByName(edges.select(col("v")))
      .distinct()
    // distinct AFTER symmetrizing: duplicate input rows — or the same
    // undirected edge arriving as both (u,v) and (v,u) — would
    // otherwise double that neighbor's label vote and silently change
    // community assignments vs the distinct-edge oracle
    val adj = edges.select(col("v"), col("u"))
      .unionByName(e)
      .unionByName(nodes.select(col("v"), col("v").as("u")))
      .distinct().transform(Barrier(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("_c").desc, col("lab"))
    var labels = nodes.select(col("v"), col("v").as("lab"))
      .transform(Barrier(_))
    var r = 0
    while (r < iters) {
      labels = adj
        .join(labels.select(col("v").as("u"), col("lab")), Seq("u"))
        .groupBy(col("v"), col("lab"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("v"), col("lab")).transform(Barrier(_))
      r += 1
    }
    labels.select(col("v").as("id"), col("lab").as("comm"))
  }

  /** Build an edge table between two identified endpoints. */
  def edges(df: DataFrame, subjectId: Column, subjectType: String,
      objectId: Column, objectType: String, edgeType: String,
      props: Seq[(String, Column)]): DataFrame =
    df.select(
      subjectId.cast("string").as("subject_identifier"),
      lit(subjectType).as("subject_type"),
      objectId.cast("string").as("object_identifier"),
      lit(objectType).as("object_type"),
      lit(edgeType).as("edge_type"),
      to_json(struct(props.map { case (n, c) => c.as(n) }: _*))
        .as("properties"))
}
