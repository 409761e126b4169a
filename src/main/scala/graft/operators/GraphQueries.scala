package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.{BipartiteExpand, Checkpoints, GraphAlgos}
import graft.sources.Tables

/** Graph/traversal operator surface (SURVEY.md §2.5) mapped onto the
  * synthetic star schema: the bipartite customer↔part co-purchase graph
  * (customer —bought→ part via orders ⋈ lineitem) stands in for the
  * reference's actor↔movie graph, with customer 0 as the query root.
  *
  * These queries run through the REAL engine path
  * ([[graft.query.BipartiteExpand]]) — the driver-loop BFS with its
  * driver-held visited set — not a hand-inlined SQL translation, so
  * the oracle checks the engine itself.
  */
object GraphQueries {

  /** The bipartite edge table: G1's adjacency (both ETS tables of the
    * reference are the two orientations of this one edge list).
    * Multiplicity is NOT removed here — every consumer either dedups
    * per hop (BipartiteExpand's distinct after each join) or dedups
    * itself, which avoids a full shuffle of the fact join output. */
  def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))

  private val edgesCte =
    "WITH edges AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part " +
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"

  /** G4+G6 level=2: one two-hop expansion — "customers who bought a part
    * that customer 0 bought" (co-stars of X). */
  private def graphLevel2(s: SparkSession, d: String): DataFrame =
    BipartiteExpand.expand(s, copurchaseEdges(s, d), "cust", "part", lit(0L), 2)
      .orderBy("cust")

  /** G4+G6 level=3: two expansions (co-customers of co-customers). */
  private def graphLevel3(s: SparkSession, d: String): DataFrame =
    BipartiteExpand.expand(s, copurchaseEdges(s, d), "cust", "part", lit(0L), 3)
      .orderBy("cust")

  /** G4+G6 level=4: the deepest traversal the reference GUI offers
    * (client.erl:38,91 — level ∈ 1..4; loop at master.erl:271-288). */
  private def graphLevel4(s: SparkSession, d: String): DataFrame =
    BipartiteExpand.expand(s, copurchaseEdges(s, d), "cust", "part", lit(0L), 4)
      .orderBy("cust")

  /** The SAME level-3 BFS forced through the shuffle-fallback path
    * (`FrontierMode.Shuffle`, `dedupEdges = true`) — the plan a
    * frontier too large to broadcast takes at 100 TB: both edge
    * orientations cached pre-partitioned on their hop key, so each
    * level's big joins are co-partitioned and only frontier-sized
    * aggregates shuffle (`ShufflePathPlanSpec` pins it). Same oracle
    * as `q_graph_level3`, headline so the driver bench times both
    * paths side by side every round (the default-auto rows above hold
    * their frontiers on the driver at this scale — `FrontierModeSpec`). */
  private def graphLevel3Shuffle(s: SparkSession, d: String): DataFrame =
    BipartiteExpand.expand(s, copurchaseEdges(s, d), "cust", "part", lit(0L), 3,
        dedupEdges = true, mode = BipartiteExpand.FrontierMode.Shuffle)
      .orderBy("cust")

  /** The reference's second query direction (movie-rooted, client.erl:91):
    * the SAME bipartite engine expanded from the part side — "parts
    * sharing a customer with part 1", i.e. co-starring movies. */
  private def graphMovieLevel2(s: SparkSession, d: String): DataFrame =
    BipartiteExpand.expand(s, copurchaseEdges(s, d), "part", "cust", lit(1L), 2)
      .orderBy("part")

  /** G7: the discovered co-occurrence edge list at level 2 —
    * (root, shared part, co-customer) triples. */
  private def graphEdgesLevel2(s: SparkSession, d: String): DataFrame =
    BipartiteExpand
      .expandWithEdges(s, copurchaseEdges(s, d), "cust", "part", lit(0L), 2)
      .edges
      .orderBy("cust", "part", "cust_peer")

  /** G1: the sharded point lookup (ets:lookup dispatched to all
    * shards, server.erl:299-317) — as a predicate-pushdown scan: the
    * root filter reaches the parquet scan, so only matching row groups
    * are read; no scatter/gather RPC exists to write. */
  private def pointLookup(s: SparkSession, d: String): DataFrame =
    copurchaseEdges(s, d)
      .filter(col("cust") === 0)
      .select("part").distinct()
      .orderBy("part")

  /** The reference-parity ingest itself, oracle-checked: the 3-way
    * star join over the ACTUAL IMDB sample TSVs
    * ([[graft.ingest.EdgeBuilder]] — P1-P6/J1/J2), compared against
    * DuckDB parsing the same files with read_csv. The sf directory
    * argument is unused: this row pins the TSV-ingest semantics
    * (null token, no-quote parsing, category filter, inner-join
    * dangling-key drops) that the parquet-table queries can't reach. */
  private val imdbDir = "/root/repo/src/test/resources/imdb"
  private def imdbIngestEdges(s: SparkSession, d: String): DataFrame =
    graft.ingest.EdgeBuilder.edges(s,
        s"$imdbDir/basic1000.tsv", s"$imdbDir/principals1000.tsv",
        s"$imdbDir/names1000.tsv")
      .orderBy("title", "name")

  /** GNN-minibatch neighbor sampling (GraphSAGE, Hamilton et al.
    * 2017): cap every vertex's fan-out at k=5 neighbors, selected by a
    * salted-hash rank — deterministic, rerun- and partitioning-stable,
    * the step that turns a power-law adjacency into a bounded training
    * sample. Scale shape: the bounded-heap [[graft.functions.TopK]]
    * Aggregator (map-side partial heaps; n_vertices × k tuples cross
    * the exchange, never a per-vertex window sort — on a 100 TB edge
    * list the hub vertices are exactly where a window form dies). The
    * rank hash is 48-bit, exact in both a double and a BIGINT, so both
    * engines select identical neighbor sets. */
  private def neighborSample(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val h = conv(substring(md5(concat(
      lit("nbr|"), col("cust").cast("string"),
      lit("|"), col("part").cast("string"))), 1, 12), 16, 10).cast("long")
    val scored = copurchaseEdges(s, d).distinct()
      .select(col("cust"), col("part"), (-h).cast("double").as("neg_h"))
    graft.functions.TopK.perKey(scored, "cust", "neg_h", "part", k)
      .select(col("cust"), col("part"))
      .orderBy("cust", "part")
  }

  /** The unipartite part co-order graph: parts appearing in the same
    * order, canonical `a < b` form. The projection is a self-join
    * WITHIN order groups (shuffle on the order key), so its output is
    * bounded by Σ C(parts-per-order, 2) — per-order line counts are
    * bounded, so the projection stays linear in the fact table at any
    * scale, unlike a projection through a hub-prone shared-attribute
    * key. */
  /** One row per unordered part pair per order — (a, b, ok) with
    * a < b and (a, b, ok) distinct. The pair generator behind BOTH
    * co-order graphs ([[coorderEdges]], [[strongTieEdges]]).
    *
    * Shape (optimization round 14): group lineitem by order and
    * collect the sorted distinct part list, then explode the i<j
    * pairs from the array. The previous within-order SELF-JOIN was
    * semantically identical (the per-order pair set is the same set)
    * but generated the ~1M pair rows INSIDE the lineitem scan stage —
    * a 17 MB serial shuffle write measured at 1.6 s, paid again by
    * every one of the eight graph-analytics rows built on these
    * graphs. Here only the raw (ok, pk) longs cross one exchange and
    * pair generation runs post-shuffle at full width. The per-order
    * work is O(k²) with k = distinct parts per order — bounded by the
    * same lines-per-order bound the self-join form relied on (see the
    * scale note on the original projection), so the transform lambda
    * is constant-bounded per row at any corpus scale. */
  private def orderPartPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(array_sort(array_distinct(collect_list("pk"))).as("ps"))
      .select(col("ok"), explode(expr(
        "flatten(transform(ps, (x, i) -> " +
        "transform(slice(ps, i + 2, size(ps)), y -> named_struct('a', x, 'b', y))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("ok"))

  private def coorderEdges(s: SparkSession, d: String): DataFrame =
    orderPartPairs(s, d).select("a", "b").distinct()

  private val coorderCte =
    "WITH e AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b " +
    "FROM lineitem l1 JOIN lineitem l2 " +
    "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)"

  /** Triangle count over the part co-order graph — the degree-ordered
    * node-iterator (Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW'11): orient every edge from its
    * lower-(degree, id) endpoint, enumerate wedges only at each
    * vertex's OUT-edges, close them against the undirected edge set.
    * The orientation caps every vertex's out-degree at O(√m), so the
    * wedge join materializes O(m^1.5) candidates instead of Σ deg² —
    * at 100 TB the hub vertices are exactly where the naive
    * node-iterator dies, and every step here is an equi-join or a
    * partial-aggregating groupBy (no windows, no cartesians). The
    * DuckDB oracle is the naive a<b<c 3-way join, so a green row
    * proves the orientation trick counts every triangle exactly once. */
  private def triangleCount(s: SparkSession, d: String): DataFrame =
    GraphAlgos.triangleCount(coorderEdges(s, d))

  /** DOULION sampled triangle estimate over the same co-order graph
    * ([[GraphAlgos.triangleCountDoulion]], p = 1/2): the estimator for
    * graphs where even the O(m^1.5) exact wedge bound is too expensive
    * (GRAPH_SCALE_r11 measured the exact wall growing 7 → 64 s at 16× —
    * fine, but the 100 TB tier wants the sampled path). The edge coin
    * is the deterministic portable md5 hash, so the DuckDB oracle
    * replays the identical sparsified graph (naive 3-way-join count)
    * and the approximate estimate is still hash-EXACT; at p = 1/2 the
    * scale factor is integer 8, so no float ever appears in the row.
    * `GraphOpsSpec` pins |estimate − exact| ≤ 3σ with the paper's
    * variance (shared-edge covariance included, computed exactly on
    * the fixture). */
  private def triangleDoulion(s: SparkSession, d: String): DataFrame =
    GraphAlgos.triangleCountDoulion(coorderEdges(s, d), pInv = 2)

  /** Seeded label propagation over the STRONG-TIE co-order graph
    * (part pairs co-ordered in ≥ 2 distinct orders — the full
    * projection is so dense every node labels in one round, which
    * would leave round 2 untested): 20% of parts (p_partkey ∈ 5ℤ)
    * carry their brand as a seed label; two synchronous rounds spread
    * labels to unlabeled neighbors by majority vote (ties: higher
    * count, then lexicographically smallest label), and a node is
    * FROZEN once labeled — the monotone, deterministic variant of LPA
    * (Raghavan et al. 2007; the async variant's tie coin-flips cannot
    * be oracle-checked). At sf0.01 every regime is live: 400 seeds,
    * 791 round-1, 572 round-2, 237 never reached, and 224 round-1
    * argmax decisions are genuine ties — the tie rule is actually
    * exercised, not decorative. The argmax is window-free:
    * `min(struct(-count, label))` inside a hash aggregate, so hub
    * nodes partial-aggregate map-side instead of sorting per-vertex
    * windows; each round is one equi-join of the label frontier
    * against the adjacency plus one anti-join — the BFS-shaped plan
    * that survives a power-law degree distribution. */
  /** The strong-tie co-order graph (canonical `a < b` pairs co-ordered
    * in ≥ 2 distinct orders) — ONE definition shared by [[labelProp]]
    * and [[pageRank]] (via [[orderPartPairs]], the same generator as
    * [[coorderEdges]]), so the graph the analytics run on cannot
    * drift apart. The oracle CTEs keep the equivalent self-join form;
    * equivalence is enforced by the hash gate on every consumer row,
    * not by textual identity. */
  private def strongTieEdges(s: SparkSession, d: String): DataFrame =
    // (a, b, ok) is distinct by construction in orderPartPairs, so the
    // plain count equals the self-join form's countDistinct(ok) — and
    // the count aggregate partial-aggregates map-side where a distinct
    // count cannot.
    orderPartPairs(s, d)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("no"))
      .filter(col("no") >= 2)
      .select("a", "b")

  /** The strong-tie edge CTE, verbatim twin of [[strongTieEdges]]. */
  private val strongTieCte =
    "WITH e AS (SELECT a, b FROM (SELECT l1.l_partkey AS a, " +
    "l2.l_partkey AS b, count(DISTINCT l1.l_orderkey) AS no " +
    "FROM lineitem l1 JOIN lineitem l2 " +
    "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey " +
    "GROUP BY 1, 2) t WHERE no >= 2), " +
    "ee AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)"

  private def labelProp(s: SparkSession, d: String): DataFrame = {
    val e = strongTieEdges(s, d)
    // ONE symmetrization definition (GraphAlgos.undirect) — shared
    // with pageRank/kCore/sssp and textually in sync with the oracle
    // CTE's `ee` (round-11 review finding: the copy-pasted unionAll
    // was the drift the "ONE definition" scaladoc claimed to prevent)
    val ee = graft.query.GraphAlgos.undirect(e)
    val seeds = Tables.part(s, d).filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("id"), col("p_brand").as("label"),
        lit(0).as("rnd"))
    var labels = seeds
    for (r <- 1 to 2) {
      val next = ee
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .select(col("u").as("id"), col("label"))
        .join(labels.select("id"), Seq("id"), "left_anti")
        .groupBy("id", "label").agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("label"))).as("m"))
        .select(col("id"), col("m.label").as("label"), lit(r).as("rnd"))
      labels = labels.unionAll(next)
    }
    labels.select(col("id").as("part"), col("label"), col("rnd"))
      .orderBy("part")
  }

  /** PageRank over the strong-tie co-order graph — two synchronous
    * power iterations at damping 0.85, in EXACT 64-bit fixed-point
    * arithmetic: total mass scaled to 10^12 and every division a
    * floor division (`div`). Floats are the classic cross-engine hash
    * trap (IEEE −0.0, sum-order last-bit drift — the `q_pmi_bigrams`
    * lesson), while integer addition is order-independent and integer
    * division bit-identical in every engine — the same determinism a
    * 1000-executor run needs for byte-reproducible ranks. Sizing: the
    * mass ceiling is 10^12 and the interim `85 * m` product tops out
    * below 10^14, far inside Long; floor loss is < 1 unit per
    * DIRECTED EDGE per iteration (each of a node's od outgoing
    * `pr div od` contributions floors independently) plus < 2 per
    * node per iteration for the div-100 terms — so precision scales
    * with average degree, not a constant: at |E| directed edges the
    * loss per iteration is ≤ |E| · 1e-12 of total mass (measured
    * 3,292 units over 2 iterations at sf0.001's 4,648 half-edges;
    * `GraphOpsSpec` pins the bound). Plan shape per iteration: one equi-join of the rank
    * vector against the adjacency + one hash aggregate (partial
    * map-side sums — hubs combine before the shuffle) + a left join
    * back to the node set; the node count rides along as a broadcast
    * 1-row scalar (allowlisted BNLJ). The graph has no dangling nodes
    * by construction (every node of `ee` has out-degree ≥ 1), so no
    * dangling-mass term is needed; mass conservation up to floor loss
    * is pinned by [[GraphOpsSpec]]. Iterations localCheckpoint-cut so
    * iteration N's plan doesn't re-derive the co-order self-join
    * (same lineage policy as [[graft.query.BipartiteExpand]] /
    * [[graft.query.KMeans]]). */
  private def pageRank(s: SparkSession, d: String): DataFrame =
    GraphAlgos.pageRank(strongTieEdges(s, d), iters = 2)
      .select(col("id").as("part"), col("pr_fx"))
      .orderBy(desc("pr_fx"), col("part"))

  /** k-core peeling (k = 3, 4 synchronous rounds) over the strong-tie
    * co-order graph — the distributed formulation of Matula & Beck's
    * peeling: each round drops every vertex whose CURRENT degree is
    * below k, then restricts the edge set to survivor–survivor edges.
    * Per round the plan is one partial-aggregating degree groupBy plus
    * two semi-joins (u-side, v-side) — no windows, no cartesians, and
    * the semi-join build side shrinks monotonically, so at 100 TB each
    * round costs at most one shuffle of the LIVE edge set (AQE can
    * flip the survivor side to broadcast as it collapses). Rounds are
    * localCheckpoint-cut (the BFS lineage policy). At sf0.01 every
    * round is live: 1880 nodes peel 1245 → 1078 → 1019 → 983, so the
    * green row proves the recompute-degrees-after-peel semantics, not
    * just a one-shot degree filter. */
  private def kCore(s: SparkSession, d: String): DataFrame =
    GraphAlgos.kCore(strongTieEdges(s, d), k = 3, rounds = 4)

  /** Common-neighbor link prediction over the strong-tie graph: score
    * every NON-adjacent pair by the number of shared neighbors
    * (Liben-Nowell & Kleinberg 2003's baseline predictor) and keep
    * pairs with ≥ 2 witnesses. Wedge enumeration at a center vertex is
    * Σ deg² — the hub-death shape — so centers are degree-capped at
    * τ = 16 BEFORE the wedge self-join (the standard hub-thresholding
    * of co-occurrence mining; at 100 TB hubs above τ go through a
    * sampled estimator instead of exact enumeration, and at the gate
    * scale the cap is a no-op: max degree is 13, so the oracle row
    * still checks the EXACT predictor). Everything is an equi-join or
    * a hash aggregate: wedge join on the center, anti-join against the
    * canonical edge list, partial-aggregating witness count. */
  private def linkPredict(s: SparkSession, d: String): DataFrame =
    GraphAlgos.commonNeighbors(strongTieEdges(s, d), degCap = 16, minCn = 2L)

  /** Neighborhood-Jaccard link scoring — [[linkPredict]]'s raw
    * common-neighbor count normalized by neighborhood size:
    * J = |Γa ∩ Γb| / |Γa ∪ Γb| in fixed-point ppm (integer floor
    * division — no float ranking to flip), which stops the predictor
    * from just ranking hub pairs first. Candidate GENERATION reuses
    * the `GraphAlgos.commonNeighbors` wedge pipeline (hub-capped
    * centers, the Σ deg² guard); the surviving pairs are then
    * RE-SCORED exactly via [[GraphAlgos.exactCommonNeighbors]] — the
    * capped wedge count undercounts |Γa ∩ Γb| when the cap binds
    * while the degree denominator stays exact, which would bias J
    * low on hubby graphs (round-11 advice). With the exact numerator
    * the emitted score is the TRUE Jaccard of every emitted pair;
    * the cap only bounds which pairs are discovered (candidate
    * recall, documented). At gate scale the cap is a no-op (max
    * degree 13), so the oracle row checks capped ≡ exact too. */
  private def jaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = strongTieEdges(s, d)
    val cand = GraphAlgos.commonNeighbors(e, degCap = 16, minCn = 2L)
    val cn = GraphAlgos.exactCommonNeighbors(e, cand)
    val deg = GraphAlgos.degrees(e)
    cn.join(deg.select(col("u").as("part_a"), col("dg").as("da")), "part_a")
      .join(deg.select(col("u").as("part_b"), col("dg").as("db")), "part_b")
      .select(col("part_a"), col("part_b"), col("cn"),
        expr("cn * cast(1000000 as bigint) div (da + db - cn)")
          .as("jaccard_ppm"))
      .orderBy(desc("jaccard_ppm"), col("part_a"), col("part_b"))
  }

  /** Single-source-set shortest paths: 3 synchronous Bellman-Ford
    * relaxation rounds from the seed set (parts ≡ 0 mod 97) over the
    * strong-tie graph with deterministic integer edge weights
    * w = 1 + (a+b) mod 9. Integer weights keep the distances
    * bit-reproducible under any partitioning (the fixed-point lesson
    * from [[pageRank]]); the varied weights make the relaxation REAL —
    * at sf0.01 rounds 2 and 3 improve 2 and 19 already-reached
    * vertices (a cheaper longer-hop path wins), so the green row
    * separates Bellman-Ford from plain BFS. Per round: one equi-join
    * of the distance frontier against the adjacency + one min hash
    * aggregate (partial map-side — hubs combine before the shuffle),
    * localCheckpoint-cut. This is the delta-stepping-shaped plan that
    * scales: no windows, frontier bounded by the reached set. */
  private def sssp(s: SparkSession, d: String): DataFrame =
    GraphAlgos.sssp(strongTieEdges(s, d), u => u % 97 === 0, rounds = 3)
      .select(col("u").as("part"), col("dist")).orderBy("part")

  /** Degree histogram of the bipartite graph (scale diagnostic: the
    * skew profile that decides salting/AQE at 100 TB). */
  private def degreeHistogram(s: SparkSession, d: String): DataFrame =
    copurchaseEdges(s, d)
      .groupBy("cust").agg(countDistinct("part").as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_custs"))
      .orderBy("degree")

  val all: Seq[Q] = Seq(
    Q("q_graph_level2", graphLevel2, Some(
      edgesCte +
      " SELECT DISTINCT e2.cust AS cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust = 0 ORDER BY cust"),
      headline = true),
    Q("q_graph_level3", graphLevel3, Some(
      edgesCte + ", " +
      "l2 AS (SELECT DISTINCT e2.cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part WHERE e1.cust = 0) " +
      "SELECT DISTINCT e2.cust AS cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust IN (SELECT cust FROM l2) ORDER BY cust"),
      // headline: the driver-loop BFS path (per-level localCheckpoint +
      // isEmpty jobs) needs a round-over-round timing signal, not just
      // the single-expansion q_graph_level2.
      headline = true),
    Q("q_graph_level3_shuffle", graphLevel3Shuffle, Some(
      edgesCte + ", " +
      "l2 AS (SELECT DISTINCT e2.cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part WHERE e1.cust = 0) " +
      "SELECT DISTINCT e2.cust AS cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust IN (SELECT cust FROM l2) ORDER BY cust"),
      headline = true),
    Q("q_graph_level4", graphLevel4, Some(
      edgesCte + ", " +
      "l2 AS (SELECT DISTINCT e2.cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part WHERE e1.cust = 0), " +
      "l3 AS (SELECT DISTINCT e2.cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust IN (SELECT cust FROM l2)) " +
      "SELECT DISTINCT e2.cust AS cust FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust IN (SELECT cust FROM l3) ORDER BY cust")),
    Q("q_graph_movie_level2", graphMovieLevel2, Some(
      edgesCte +
      " SELECT DISTINCT e2.part AS part FROM edges e1 JOIN edges e2 ON e1.cust = e2.cust " +
      "WHERE e1.part = 1 ORDER BY part")),
    Q("q_graph_edges_level2", graphEdgesLevel2, Some(
      edgesCte +
      " SELECT DISTINCT e1.cust AS cust, e1.part AS part, e2.cust AS cust_peer " +
      "FROM edges e1 JOIN edges e2 ON e1.part = e2.part " +
      "WHERE e1.cust = 0 AND e2.cust <> e1.cust ORDER BY cust, part, cust_peer")),
    Q("q_point_lookup", pointLookup, Some(
      "SELECT DISTINCT l_partkey AS part FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_custkey = 0 ORDER BY part")),
    Q("q_imdb_ingest_edges", imdbIngestEdges, Some(
      s"SELECT DISTINCT b.originalTitle AS title, n.column1 AS name " +
      s"FROM read_csv('$imdbDir/principals1000.tsv', delim='\t', header=true, quote='', nullstr='\\N') p " +
      s"JOIN read_csv('$imdbDir/names1000.tsv', delim='\t', header=false, quote='', nullstr='\\N') n " +
      "ON p.nconst = n.column0 " +
      s"JOIN read_csv('$imdbDir/basic1000.tsv', delim='\t', header=true, quote='', nullstr='\\N') b " +
      "ON p.tconst = b.tconst " +
      "WHERE p.category IN ('actor', 'actress') ORDER BY title, name")),
    Q("q_degree_histogram", degreeHistogram, Some(
      edgesCte + ", deg AS (SELECT cust, count(*) AS degree FROM edges GROUP BY cust) " +
      "SELECT degree, count(*) AS n_custs FROM deg GROUP BY degree ORDER BY degree")),
    Q("q_triangle_count", triangleCount, Some(
      coorderCte + ", " +
      "tri AS (SELECT count(*) AS n FROM e e1 " +
      "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) " +
      "SELECT 'edges' AS metric, count(*) AS n FROM e " +
      "UNION ALL SELECT 'triangles' AS metric, n FROM tri ORDER BY metric")),
    Q("q_triangle_doulion", triangleDoulion, Some(
      coorderCte + ", kept AS (SELECT a, b FROM e WHERE " +
      graft.functions.TextFunctions.unitHashSql(
        "'tri|' || CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)") +
      " <= 0.5), " +
      "tri AS (SELECT count(*) AS n FROM kept e1 " +
      "JOIN kept e2 ON e2.a = e1.b JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b) " +
      "SELECT 'edges_kept' AS metric, count(*) AS n FROM kept " +
      "UNION ALL SELECT 'triangles_estimate', n * 8 FROM tri " +
      "UNION ALL SELECT 'triangles_sampled', n FROM tri ORDER BY metric")),
    Q("q_label_prop", labelProp, Some(
      strongTieCte + ", " +
      "s0 AS (SELECT p_partkey AS id, p_brand AS label, 0 AS rnd " +
      "FROM part WHERE p_partkey % 5 = 0), " +
      "n1 AS (SELECT ee.u AS id, s.label, count(*) AS c FROM ee " +
      "JOIN s0 s ON ee.v = s.id WHERE ee.u NOT IN (SELECT id FROM s0) " +
      "GROUP BY 1, 2), " +
      "a1 AS (SELECT id, label, 1 AS rnd FROM (SELECT id, label, " +
      "row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn " +
      "FROM n1) t WHERE rn = 1), " +
      "l1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM a1), " +
      "n2 AS (SELECT ee.u AS id, l.label, count(*) AS c FROM ee " +
      "JOIN l1 l ON ee.v = l.id WHERE ee.u NOT IN (SELECT id FROM l1) " +
      "GROUP BY 1, 2), " +
      "a2 AS (SELECT id, label, 2 AS rnd FROM (SELECT id, label, " +
      "row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn " +
      "FROM n2) t WHERE rn = 1) " +
      "SELECT id AS part, label, rnd FROM l1 " +
      "UNION ALL SELECT id, label, rnd FROM a2 ORDER BY part")),
    Q("q_pagerank", pageRank, Some(
      // fixed-point twin of the Spark side: // is DuckDB floor
      // division, `div` the Spark one — bit-identical on positive
      // longs, and sum(BIGINT) is cast back down from HUGEINT
      strongTieCte + ", " +
      "deg AS (SELECT u, count(*) AS od FROM ee GROUP BY u), " +
      "n AS (SELECT count(*) AS nn FROM deg), " +
      "p0 AS (SELECT u AS id, (1000000000000 // nn) AS pr FROM deg, n), " +
      "c0 AS (SELECT ee.v AS id, CAST(sum(p0.pr // deg.od) AS BIGINT) AS m " +
      "FROM ee JOIN p0 ON ee.u = p0.id JOIN deg ON ee.u = deg.u GROUP BY 1), " +
      "p1 AS (SELECT p0.id, (15 * (1000000000000 // nn)) // 100 " +
      "+ (85 * coalesce(c0.m, 0)) // 100 AS pr " +
      "FROM p0 LEFT JOIN c0 USING (id), n), " +
      "c1 AS (SELECT ee.v AS id, CAST(sum(p1.pr // deg.od) AS BIGINT) AS m " +
      "FROM ee JOIN p1 ON ee.u = p1.id JOIN deg ON ee.u = deg.u GROUP BY 1), " +
      "p2 AS (SELECT p1.id, (15 * (1000000000000 // nn)) // 100 " +
      "+ (85 * coalesce(c1.m, 0)) // 100 AS pr " +
      "FROM p1 LEFT JOIN c1 USING (id), n) " +
      "SELECT id AS part, CAST(pr AS BIGINT) AS pr_fx FROM p2 " +
      "ORDER BY pr_fx DESC, part")),
    Q("q_kcore", kCore, Some(
      strongTieCte + ", " +
      "d0 AS (SELECT u, count(*) AS dg FROM ee GROUP BY 1), " +
      "s0 AS (SELECT u FROM d0 WHERE dg >= 3), " +
      "e1 AS (SELECT x.u, x.v FROM ee x JOIN s0 a ON x.u = a.u JOIN s0 b ON x.v = b.u), " +
      "d1 AS (SELECT u, count(*) AS dg FROM e1 GROUP BY 1), " +
      "s1 AS (SELECT u FROM d1 WHERE dg >= 3), " +
      "e2 AS (SELECT x.u, x.v FROM e1 x JOIN s1 a ON x.u = a.u JOIN s1 b ON x.v = b.u), " +
      "d2 AS (SELECT u, count(*) AS dg FROM e2 GROUP BY 1), " +
      "s2 AS (SELECT u FROM d2 WHERE dg >= 3), " +
      "e3 AS (SELECT x.u, x.v FROM e2 x JOIN s2 a ON x.u = a.u JOIN s2 b ON x.v = b.u), " +
      "d3 AS (SELECT u, count(*) AS dg FROM e3 GROUP BY 1), " +
      "s3 AS (SELECT u FROM d3 WHERE dg >= 3) " +
      "SELECT 1 AS rnd, (SELECT count(*) FROM s0) AS survivors " +
      "UNION ALL SELECT 2, (SELECT count(*) FROM s1) " +
      "UNION ALL SELECT 3, (SELECT count(*) FROM s2) " +
      "UNION ALL SELECT 4, (SELECT count(*) FROM s3) ORDER BY rnd")),
    Q("q_link_predict", linkPredict, Some(
      strongTieCte + ", " +
      "deg AS (SELECT u, count(*) AS dg FROM ee GROUP BY 1), " +
      "capped AS (SELECT ee.u, ee.v FROM ee JOIN deg ON ee.u = deg.u WHERE deg.dg <= 16), " +
      "cand AS (SELECT x.v AS part_a, y.v AS part_b FROM capped x " +
      "JOIN capped y ON x.u = y.u AND x.v < y.v), " +
      "cn AS (SELECT part_a, part_b, count(*) AS cn FROM cand GROUP BY 1, 2) " +
      "SELECT cn.part_a, cn.part_b, cn.cn FROM cn " +
      "LEFT JOIN e ON cn.part_a = e.a AND cn.part_b = e.b " +
      "WHERE e.a IS NULL AND cn.cn >= 2 ORDER BY cn.cn DESC, part_a, part_b")),
    Q("q_jaccard_neighbors", jaccardNeighbors, Some(
      strongTieCte + ", " +
      "deg AS (SELECT u, count(*) AS dg FROM ee GROUP BY 1), " +
      "capped AS (SELECT ee.u, ee.v FROM ee JOIN deg ON ee.u = deg.u WHERE deg.dg <= 16), " +
      "cand AS (SELECT x.v AS part_a, y.v AS part_b FROM capped x " +
      "JOIN capped y ON x.u = y.u AND x.v < y.v), " +
      "cn AS (SELECT part_a, part_b, count(*) AS cn FROM cand GROUP BY 1, 2), " +
      "pred AS (SELECT cn.part_a, cn.part_b FROM cn " +
      "LEFT JOIN e ON cn.part_a = e.a AND cn.part_b = e.b " +
      "WHERE e.a IS NULL AND cn.cn >= 2), " +
      // surviving candidates are RE-SCORED with the exact intersection
      // (mirrors GraphAlgos.exactCommonNeighbors): the capped wedge
      // count only gates candidate generation
      "cnx AS (SELECT p.part_a, p.part_b, count(*) AS cn FROM pred p " +
      "JOIN ee na ON na.u = p.part_a " +
      "JOIN ee nb ON nb.u = p.part_b AND nb.v = na.v GROUP BY 1, 2) " +
      "SELECT p.part_a, p.part_b, p.cn, " +
      "(p.cn * 1000000) // (d1.dg + d2.dg - p.cn) AS jaccard_ppm " +
      "FROM cnx p JOIN deg d1 ON p.part_a = d1.u JOIN deg d2 ON p.part_b = d2.u " +
      "ORDER BY jaccard_ppm DESC, part_a, part_b")),
    Q("q_sssp", sssp, Some(
      strongTieCte + ", " +
      "ew AS (SELECT a, b, 1 + (a + b) % 9 AS w FROM e), " +
      "eew AS (SELECT a AS u, b AS v, w FROM ew UNION ALL SELECT b, a, w FROM ew), " +
      "d0 AS (SELECT DISTINCT u, CAST(0 AS BIGINT) AS dist FROM eew WHERE u % 97 = 0), " +
      "d1 AS (SELECT u, min(dist) AS dist FROM (SELECT u, dist FROM d0 " +
      "UNION ALL SELECT eew.v, d0.dist + eew.w FROM d0 JOIN eew ON d0.u = eew.u) t GROUP BY 1), " +
      "d2 AS (SELECT u, min(dist) AS dist FROM (SELECT u, dist FROM d1 " +
      "UNION ALL SELECT eew.v, d1.dist + eew.w FROM d1 JOIN eew ON d1.u = eew.u) t GROUP BY 1), " +
      "d3 AS (SELECT u, min(dist) AS dist FROM (SELECT u, dist FROM d2 " +
      "UNION ALL SELECT eew.v, d2.dist + eew.w FROM d2 JOIN eew ON d2.u = eew.u) t GROUP BY 1) " +
      "SELECT u AS part, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY part")),
    Q("q_neighbor_sample", neighborSample, Some(
      edgesCte + ", scored AS (SELECT cust, part, " +
      "CAST('0x' || substr(md5('nbr|' || CAST(cust AS VARCHAR) || '|' || CAST(part AS VARCHAR)), 1, 12) AS BIGINT) AS h " +
      "FROM edges) " +
      "SELECT cust, part FROM (SELECT cust, part, " +
      "row_number() OVER (PARTITION BY cust ORDER BY h, part) AS rn FROM scored) t " +
      "WHERE rn <= 5 ORDER BY cust, part")),
  )
}
