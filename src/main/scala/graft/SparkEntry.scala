package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Parity
import graft.model._
import graft.operators.{BloomJoin, Dedup, EventOps, GraphOps, Layout, Multimodal, Similarity, SkewOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator of the engine is exposed as a named
  * `(SparkSession, sfDir) => DataFrame` query with an equivalent DuckDB
  * SQL oracle over the same parquet tables. Column names are aliased
  * identically on both sides (the driver's compare sorts columns by name
  * before hashing); row order is made deterministic with an explicit
  * final sort on both sides.
  *
  * Operator coverage map (SURVEY.md §2.1 → query name):
  *   S1/S3 scan+sink ......... every query (parquet in, parquet out);
  *                             reference text formats in sources.TextEdgeIO
  *   S4 iteration chaining ... localCheckpoint loop (sssp_layered/lineitem)
  *   P1/P2 parse ............. edge_parse; TextEdgeIO.readNodeState
  *   P3+A3+X1 reverse graph .. reverse_graph
  *   A1 adjacency build ...... build_adjacency
  *   F1 header filter ........ edge_parse
  *   F2+M1+A2 one relax round  sssp_one_round
  *   C1+A4+C2 full SSSP ...... sssp_layered + sssp_lineitem (both
  *                             hash-checked; lineitem's oracle is the
  *                             generated 24-round unrolled CTE)
  *   X2 parallelism config ... Verify/Bench session builders
  *   C3 config-as-parameter .. closure captures (source node literals)
  *
  * Relational breadth: q1_agg, join_revenue, topk_orders, window_rank,
  * window_running, rollup_agg, cube_agg, pivot_agg, set_ops,
  * semi_anti_join.
  * Graph extensions: connected_components, pagerank_fixed,
  * triangle_count.
  * North-star pipeline ops: dedup_{exact,minhash_lsh,simhash,
  * ngram_jaccard,embedding_cosine,embedding_lsh,clusters},
  * ann_{brute_topk,lsh_topk,ivf_topk,topk_agg},
  * text_{lang_id,quality,token_count,fingerprint,tfidf}, events_{tumbling,
  * sliding,sessionize,json_agg,quantiles,asof}, multimodal_{features,
  * decode}, {csv,json}_source_agg; the streaming engine itself is
  * driver-checked via events_stream_{tumbling,sliding,sessionize,dedup,
  * dedup_ww,join,enrich} (graft.streaming.StreamOps).
  * Round 5: kmeans_centroids + ann_ivf_trained (integer fixed-point
  * Lloyd training), sketch_kmv_shingles (deterministic KMV cardinality
  * sketch), sssp_{layered_src5,sink_source,text_roundtrip} (C3 source
  * parameter, empty first frontier, reference text formats end-to-end);
  * bloom_semi_join (sketch-prefiltered exact semi join), zorder_{box_agg,
  * curve} (Morton-clustered layout for min-max scan pruning),
  * corpus_upsert (latest-wins MERGE), doc_chunk (training-window
  * fan-out), doc_shuffle (sharded deterministic example order),
  * bpe_{pair_counts,merges} (BPE tokenizer training over the word
  * histogram; the merge-loop oracle is the identical loop unrolled),
  * source_stats (per-source volume/dup-rate/token-budget rollup).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    GraphOps.finalResult(
      GraphOps.sssp(GraphSource.layeredEdges(spark, sfDir), source = 1L),
      source = 1L)
  }

  // ---- graph surface ------------------------------------------------------

  private def reverseGraph(s: SparkSession, dir: String): DataFrame =
    GraphOps.reverseGraph(GraphSource.lineitemEdges(s, dir)).orderBy(col("node"))

  /** ReverseGraph's ACTUAL I/O surface end-to-end: the lineitem graph
    * staged through the unweighted tab-separated `from\tto` format
    * (`ReverseGraph.java:120-124`, duplicate lines preserved — Q3), read
    * back, transposed. Hash-matches the reverse_graph oracle, so a
    * lossy encode/decode (or a dropped parallel edge) breaks the hash.
    * With sssp_text_roundtrip this driver-checks all three reference
    * text record shapes (SURVEY.md §1.1).
    */
  private def reverseGraphText(s: SparkSession, dir: String): DataFrame = {
    val path = s"${sources.Staging.freshDir("textio-tsv")}/edges"
    sources.TextEdgeIO.writeUnweightedEdges(GraphSource.lineitemEdges(s, dir), path)
    GraphOps.reverseGraph(sources.TextEdgeIO.readUnweightedEdges(s, path))
      .orderBy(col("node"))
  }

  private def buildAdjacency(s: SparkSession, dir: String): DataFrame =
    GraphOps.buildAdjacency(GraphSource.lineitemEdges(s, dir), source = 1L)
      .orderBy(col("node"))

  private def ssspOneRound(s: SparkSession, dir: String): DataFrame = {
    val e = GraphSource.lineitemEdges(s, dir)
    GraphOps.membershipFilter(GraphOps.ssspRound(GraphOps.seedState(e, 1L), e))
      .select(col("id"), col("dist"))
      .orderBy(col("id"))
  }

  private def ssspLayered(s: SparkSession, dir: String): DataFrame =
    GraphOps.finalResult(GraphOps.sssp(GraphSource.layeredEdges(s, dir), 1L), 1L)
      .orderBy(col("id"))

  /** C3 at harness level: the query node is a RUNTIME parameter of the
    * same loop (`SingleSourceSP.java:402` passes it via Configuration) —
    * this row runs the identical pipeline from source 5.
    */
  private def ssspLayeredSrc5(s: SparkSession, dir: String): DataFrame =
    GraphOps.finalResult(GraphOps.sssp(GraphSource.layeredEdges(s, dir), 5L), 5L)
      .orderBy(col("id"))

  /** The empty-first-frontier edge, driver-checked: source 1655 is a
    * pure sink at BOTH sf0.01 and sf0.1 (appears only as a dst), so
    * round 1's frontier⋈edges join is empty, the loop converges
    * immediately, and the output is every node with out-edges at dist
    * 65535.0 — with the source itself ABSENT (the reference's format job
    * only materializes nodes with out-edges, `SingleSourceSP.java:101`;
    * SURVEY.md Q4). The oracle is the general unrolled CTE, so the row
    * stays correct even at scale factors where 1655 has out-edges (or
    * does not exist at all — same empty-frontier semantics).
    */
  private def ssspSinkSource(s: SparkSession, dir: String): DataFrame =
    GraphOps.finalResult(GraphOps.sssp(GraphSource.lineitemEdges(s, dir), 1655L), 1655L)
      .orderBy(col("id"))

  /** The reference's ACTUAL I/O surface, end-to-end: edges staged
    * through the `id from to w` text format (S1/S3), the format job's
    * node-state output staged through `id dist|adj|flag` text
    * (writeNodeState/readNodeState, P2), adjacency decoded back to
    * edges, and the full pipeline re-run from an edge text file
    * (ssspFromFile). Hash-matches the sssp_layered oracle — a lossy
    * encode/decode anywhere in the text formats breaks the hash.
    */
  private def ssspTextRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = sources.Staging.freshDir("textio")
    val edgesTxt = s"$base/edges"
    val stateTxt = s"$base/state"
    val edgesTxt2 = s"$base/edges2"
    sources.TextEdgeIO.writeEdges(GraphSource.layeredEdges(s, dir), edgesTxt)
    val edges = sources.TextEdgeIO.readEdges(s, edgesTxt)
    sources.TextEdgeIO.writeNodeState(GraphOps.buildAdjacency(edges, 1L), stateTxt)
    val state = sources.TextEdgeIO.readNodeState(s, stateTxt)
    sources.TextEdgeIO.writeEdges(sources.TextEdgeIO.adjacencyEdges(state), edgesTxt2)
    sources.TextEdgeIO.ssspFromFile(s, edgesTxt2, 1L).orderBy(col("id"))
  }

  private def ssspLineitem(s: SparkSession, dir: String): DataFrame =
    GraphOps.finalResult(GraphOps.sssp(GraphSource.lineitemEdges(s, dir), 1L), 1L)
      .orderBy(col("id"))

  /** Two-round-bounded SSSP on the big graph — same loop, same membership
    * semantics, but with a finite unrolled SQL oracle (the fully
    * converged run on this graph keeps its rows-only check; the bounded
    * variant proves the loop body itself against DuckDB at lineitem
    * scale).
    */
  private def ssspLineitemBounded(s: SparkSession, dir: String): DataFrame =
    GraphOps.finalResult(GraphOps.sssp(GraphSource.lineitemEdges(s, dir), 1L, maxRounds = 2), 1L)
      .orderBy(col("id"))

  private def connectedComponents(s: SparkSession, dir: String): DataFrame =
    GraphOps.connectedComponents(GraphSource.layeredEdges(s, dir)).orderBy(col("id"))

  /** 3-iteration fixed-point PageRank on the lineitem graph; integer
    * micro-unit ranks make the result bit-identical to the unrolled SQL
    * oracle (floating-point PageRank can never hash-match across
    * engines — summation order differs).
    */
  private def pagerank(s: SparkSession, dir: String): DataFrame =
    GraphOps.pagerankFixed(GraphSource.lineitemEdges(s, dir), iters = 3).orderBy(col("id"))

  /** The multimodal mapPartitions decode path (deterministic fake
    * decoder), projected to oracle-comparable scalars.
    */
  private def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(docs(s, dir).select(col("doc_id"), col("text")))
    Multimodal
      .decodeFeatures(s, media, Multimodal.BinaryDecoder.DeterministicFake, frameBytes = 64)
      .toDF()
      .select(
        col("doc_id"),
        col("n_bytes"),
        col("n_frames"),
        col("features")(1).cast("long").as("byte_sum"),
        col("features")(2).cast("long").as("first_byte"),
        round(col("features")(3), 6).as("mean_byte"))
      .orderBy(col("doc_id"))
  }

  private def edgeParse(s: SparkSession, dir: String): DataFrame = {
    // Round-trip the lineitem graph through the reference's text edge
    // format `"id from to w"` (SingleSourceSP.java:140-145), with a
    // non-digit header line prepended semantics exercised by the rlike
    // filter in parseEdgeLines.
    val li = table(s, dir, "lineitem")
    val lines = li.select(
      concat_ws(" ",
        col("l_linenumber").cast("string"),
        col("l_orderkey").cast("string"),
        col("l_partkey").cast("string"),
        col("l_quantity").cast("double").cast("string")).as("line"))
    GraphOps.parseEdgeLines(lines, col("line"))
      .orderBy(col("src"), col("dst"), col("w"))
  }

  // ---- relational surface (scan/filter/join/agg/sort/limit) ---------------

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** k-anonymity audit over the customer quasi-identifiers
    * (nation, market segment, account-balance band): group size k per
    * QI combination and the k<5 re-identification-risk flag — the
    * privacy check a curation pipeline runs BEFORE releasing
    * structured data, next to [[graft.operators.TextOps.piiRedact]].
    * One hash aggregate (map-side partial); group count is bounded by
    * the QI domain product, never by |customers|.
    */
  private def piiKAnonymity(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .groupBy(
        col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("k"))
      .withColumn("at_risk", col("k") < 5)
      .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))

  private def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    val orders = table(s, dir, "orders")
    val customer = table(s, dir, "customer")
    val nation = table(s, dir, "nation")
    val region = table(s, dir, "region")
    // Dims are small at any scale → broadcast; the orders⋈customer join is
    // the only shuffle, on the customer key.
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private def cubeAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Pivot with an explicit value list: the deterministic (and 100 TB-
    * sane) form — an implicit pivot would scan once just to discover the
    * distinct values.
    */
  private def pivotAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderpriority"))

  /** Running aggregates: partition-ordered cumulative sum and a 3-row
    * moving average — sequential in-order folds, bit-identical across
    * engines.
    */
  private def windowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = byKey.rowsBetween(-2, Window.currentRow)
    table(s, dir, "orders")
      .select(
        col("o_orderpriority"),
        col("o_orderkey"),
        round(sum(col("o_totalprice")).over(cum), 2).as("run_sum"),
        round(avg(col("o_totalprice")).over(mov), 6).as("mov_avg"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val custNations = table(s, dir, "customer").select(col("c_nationkey").cast("long").as("n"))
    val suppNations = table(s, dir, "supplier").select(col("s_nationkey").cast("long").as("n"))
    custNations.intersect(suppNations).select(lit("both").as("tag"), col("n"))
      .unionAll(custNations.except(suppNations).select(lit("cust_only").as("tag"), col("n")))
      .orderBy(col("tag"), col("n"))
  }

  private def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").select(col("c_custkey"))
    val o = table(s, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_orders"))
      .unionAll(
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit(false).as("has_orders")))
      .orderBy(col("c_custkey"))
  }

  private def topkOrders(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // ---- north-star extensions (dedup / similarity / text / events) ---------

  private def docs(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** The shared versioned corpus log behind corpus_upsert / corpus_scd2:
    * the whole corpus at version 1, every 7th doc revised at version 2,
    * every 97th doc freshly inserted at version 2 (negated ids — can
    * never collide with the non-negative corpus ids at ANY scale,
    * unlike a fixed +offset, which collides past `offset` docs).
    * Returns (base, updates).
    */
  private def corpusVersionLog(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"), col("lang"), lit(1L).as("version"))
    val revised = docs(s, d)
      .filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(
        col("doc_id"),
        concat(lit("UPDATED: "), coalesce(col("text"), lit(""))).as("text"),
        col("lang"),
        lit(2L).as("version"))
    val fresh = docs(s, d)
      .filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(
        (-col("doc_id") - 1L).as("doc_id"),
        concat(lit("NEW "), col("doc_id").cast("string")).as("text"),
        lit("en").as("lang"),
        lit(2L).as("version"))
    (base, revised.unionByName(fresh))
  }
  private def events(s: SparkSession, dir: String): DataFrame = eventsTable(s, dir)

  /** The train-once SGNS artifact for this corpus: first caller per
    * (sfDir, trainer params, version) trains and publishes the matrix;
    * every later query — in this process or a fresh JVM — serves the
    * stored table ([[operators.Training.sgnsModelDir]]). The embedding
    * family thus has the same train-once/serve-many discipline as
    * `train_gbm_stored`/`tok_unigram_stored`: evaluation and similarity
    * reads never re-run gradient rounds.
    */
  private def sgnsModel(s: SparkSession, d: String): String =
    operators.Training.sgnsModelDir(s"$d|walkSkipgrams|startMod=4|dims=4|iters=2") {
      operators.Training.sgnsEmbeddings(
        GraphOps.walkSkipgrams(GraphSource.lineitemEdges(s, d), startMod = 4L))
    }

  /** Exact connected-components oracle CTEs in the scale-safe shape:
    * `rounds` rounds of hooking (min label over neighbors) + pointer-jump
    * compression, every round MATERIALIZED — linear work per round, the
    * DuckDB analogue of the engine's star-contraction CC — then ONE
    * recursive min-label closure over the CONTRACTED remainder graph
    * (one node per nearly-final cluster; empty or tiny once the unroll
    * has converged), so the labels are exact for ANY component diameter,
    * not only diameters the unroll covers. Replaces the naive
    * `reach(id, lab)` transitive closure, whose intermediate is
    * quadratic in cluster size (the three sf0.1 600 s oracle timeouts,
    * PERF_NOTES r11; the MATERIALIZED-per-round trick is the Borůvka
    * oracle's, which without it inlined exponentially).
    *
    * Expects a symmetric `und(src, dst)` CTE in scope, must sit inside a
    * `WITH RECURSIVE` prologue; emits CTEs ending in
    * `comp(id, component)` with component = min doc_id of the cluster.
    */
  private def ccCompCtes(rounds: Int = 8): String = {
    val head = "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM und)"
    val rs = (1 to rounds).map { r =>
      s"""h$r AS MATERIALIZED (
         |  SELECT n.id, least(n.lab, coalesce(m.nl, n.lab)) AS lab
         |  FROM l${r - 1} n LEFT JOIN (
         |    SELECT u.dst AS id, min(l.lab) AS nl
         |    FROM und u JOIN l${r - 1} l ON l.id = u.src GROUP BY u.dst) m
         |  ON m.id = n.id),
         |l$r AS MATERIALIZED (
         |  SELECT a.id, b.lab FROM h$r a JOIN h$r b ON b.id = a.lab)""".stripMargin
    }
    val tail =
      s"""ce AS MATERIALIZED (
         |  SELECT DISTINCT a.lab AS s, b.lab AS d
         |  FROM und u JOIN l$rounds a ON a.id = u.src JOIN l$rounds b ON b.id = u.dst
         |  WHERE a.lab <> b.lab),
         |ceu AS MATERIALIZED (SELECT s, d FROM ce UNION SELECT d, s FROM ce),
         |reach(id, lab) AS (
         |  SELECT s AS id, s AS lab FROM ceu
         |  UNION
         |  SELECT u.d, r.lab FROM reach r JOIN ceu u ON u.s = r.id),
         |meta AS MATERIALIZED (SELECT id, min(lab) AS mlab FROM reach GROUP BY id),
         |comp AS (SELECT f.id, coalesce(m.mlab, f.lab) AS component
         |         FROM l$rounds f LEFT JOIN meta m ON m.id = f.lab)""".stripMargin
    (Seq(head) ++ rs :+ tail).mkString(",\n")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "reverse_graph" -> (reverseGraph _),
    "reverse_graph_text" -> (reverseGraphText _),
    "build_adjacency" -> (buildAdjacency _),
    "sssp_one_round" -> (ssspOneRound _),
    "sssp_layered" -> (ssspLayered _),
    "sssp_layered_src5" -> (ssspLayeredSrc5 _),
    "sssp_sink_source" -> (ssspSinkSource _),
    "sssp_text_roundtrip" -> (ssspTextRoundtrip _),
    "sssp_lineitem" -> (ssspLineitem _),
    "sssp_two_rounds" -> (ssspLineitemBounded _),
    "edge_parse" -> (edgeParse _),
    "connected_components" -> (connectedComponents _),
    // kept for the inventory: it runs the same engine as
    // connected_components (star contraction, Kiveris et al. SoCC'14)
    "cc_bigstar" -> (connectedComponents _),
    // fixed-round synchronous label-propagation community detection
    "graph_communities" -> ((s, d) =>
      GraphOps.labelPropagation(GraphSource.layeredEdges(s, d), rounds = 4).orderBy(col("id"))),
    // the community family's evaluation row: Newman Q from two
    // order-free integer sums
    "graph_modularity" -> ((s, d) =>
      GraphOps.modularity(GraphSource.layeredEdges(s, d))),
    // 48 BFS traversals batched into one bitmask loop (Then et al. VLDB'15)
    "graph_msbfs" -> ((s, d) =>
      GraphOps
        .multiSourceBfs(GraphSource.lineitemEdges(s, d), nSources = 48, rounds = 4)
        .orderBy(col("id"))),
    "triangle_count" -> ((s, d) =>
      GraphOps.triangleCount(GraphSource.lineitemEdges(s, d))),
    // Doulion-style sampled triangle estimate (Tsourakakis 2009) next
    // to the exact count: deterministic LCG-hash edge sampling at
    // p = 1/2, estimate = sampled·p⁻³ = 8·sampled, measured error in
    // exact per-mille — the sketch-family answer for graphs where even
    // the degree-ordered exact count is too hot (p is the
    // variance/cost knob; a small-triangle-count graph needs a mild p)
    "graph_triangle_sampled" -> ((s, d) => {
      val e = GraphSource.lineitemEdges(s, d).select(col("src"), col("dst"))
      // the sampling predicate is symmetric in (src, dst), so it commutes
      // with the undirected simplification — simplify ONCE, count both
      // from the shared materialized simple graph (one distinct pass and
      // one lineitem scan instead of two of each; the sampled side's
      // degrees/orientation are still computed on the SAMPLED subgraph,
      // exactly as before)
      val und = operators.Phys.materialized(GraphOps.simpleGraph(e))
      val exact = GraphOps
        .triangleCountUnd(und)
        .select(col("n_triangles").as("exact_triangles"))
      val sampled = GraphOps
        .triangleCountUnd(und.filter(
          expr("(a * 1103515245 + b * 12345) % 1000000007 % 2 = 0")))
        .select(col("n_triangles").as("n_sampled"))
      exact
        .crossJoin(sampled)
        .select(
          col("exact_triangles"),
          col("n_sampled"),
          (col("n_sampled") * 8L).as("est_triangles"),
          when(col("exact_triangles") === 0L, lit(null).cast("long"))
            .otherwise(
              expr("abs(n_sampled * 8 - exact_triangles) * 1000 div exact_triangles"))
            .as("err_pm"))
    }),
    // DeepWalk-style deterministic truncated walks: one per source
    // node, LCG-hash transitions the oracle replays exactly
    "graph_random_walks" -> ((s, d) =>
      GraphOps
        .randomWalks(GraphSource.lineitemEdges(s, d))
        .orderBy(col("walk_id"), col("step"))),
    // the trainer-facing readout of the walks: windowed (center,
    // context) co-occurrence counts
    "graph_walk_skipgrams" -> ((s, d) =>
      GraphOps
        .walkSkipgrams(GraphSource.lineitemEdges(s, d))
        .orderBy(col("center"), col("context"))),
    // the trainer row of the embedding family: walks -> skip-grams ->
    // SGNS matrix GD, trained ONCE into the stored artifact (first
    // caller per corpus pays it) and read back — per-entity vector
    // state, integer gradients, exact oracle replay
    "graph_embed_sgns" -> ((s, d) =>
      s.read.parquet(sgnsModel(s, d)).orderBy(col("id"))),
    // extrinsic eval SERVED from the stored matrix: link-prediction AUC
    // (hash-corrupted negatives, integer Mann-Whitney over the score
    // histogram — bit-exact); the plan carries zero gradient rounds
    "graph_embed_linkpred" -> ((s, d) =>
      operators.Training
        .embedLinkPredStored(s, GraphSource.lineitemEdges(s, d), sgnsModel(s, d))),
    // nearest-neighbor point lookup over the stored matrix: the
    // production serving API of an embedding table (one artifact scan,
    // broadcast query vector, integer dot-product top-k)
    "graph_embed_stored" -> ((s, d) =>
      operators.Training.sgnsSimilarStored(s, sgnsModel(s, d))),
    // node2vec second-order walks: p/q-biased transitions, exact
    // inverse-CDF pick under a deterministic LCG draw
    "graph_node2vec_walks" -> ((s, d) =>
      GraphOps
        .node2vecWalks(GraphSource.lineitemEdges(s, d))
        .orderBy(col("walk_id"), col("step"))),
    // FW-BW pivot SCC: two bitmask sweeps (forward + transpose), the
    // component is the intersection, the rest splits up/downstream
    "graph_scc_pivot" -> ((s, d) =>
      GraphOps.sccPivot(GraphSource.layeredEdges(s, d)).orderBy(col("id"))),
    // the bow-tie census over the pivot: scc/upstream/downstream node
    // counts plus the never-reached remainder as 'disconnected'
    "graph_bowtie" -> ((s, d) =>
      GraphOps.bowtieCensus(GraphSource.layeredEdges(s, d)).orderBy(col("cls"))),
    // approximate neighborhood function: K FM bitmasks OR-merged per hop,
    // next to the exact ball-size sum (Palmer et al. KDD'02)
    "graph_anf" -> ((s, d) =>
      GraphOps.anf(GraphSource.lineitemEdges(s, d), nSketches = 8, rounds = 2)),
    // sampled stress centrality: integer-exact Brandes (σ·g identity),
    // forward σ levels + backward DAG-path counts, no pair table
    "graph_stress" -> ((s, d) =>
      GraphOps
        .stressCentrality(GraphSource.lineitemEdges(s, d), nSources = 4, rounds = 3)
        .orderBy(col("id"))),
    // minimum spanning forest by distributed Borůvka: per-component
    // argmin edge + CC contraction per round, unique under (wn, a, b)
    "graph_msf" -> ((s, d) =>
      GraphOps
        .msf(GraphSource
          .layeredEdges(s, d)
          .select(
            col("src"),
            col("dst"),
            expr("(least(src, dst) * 7 + greatest(src, dst) * 13) % 101").as("wn")))
        .orderBy(col("a"), col("b"))),
    // HyperBall harmonic centrality, PRODUCTION read: per-node FM
    // in-ball deltas weighted 1/h, sketch side only — no (u,v) pair
    // table anywhere (the exact first-reach verification column is
    // spec-level, GraphOpsSpec "harmonicCentrality")
    "graph_harmonic" -> ((s, d) =>
      GraphOps.harmonicCentrality(GraphSource.lineitemEdges(s, d), nSketches = 8, rounds = 2)),
    // ANF's production per-h table: sketch-only N(h) with early exit,
    // the neighborhood-function read that runs to h = diameter at 100 TB
    "graph_anf_est" -> ((s, d) =>
      GraphOps.anfEstimate(GraphSource.lineitemEdges(s, d), nSketches = 8, maxRounds = 8)),
    // closeness (Lin's index) off the same HyperBall sketches: integer
    // (r−1)²/S readout with the S=0 guard, sketch-only, early exit
    "graph_closeness_est" -> ((s, d) =>
      GraphOps.closenessCentrality(GraphSource.lineitemEdges(s, d), nSketches = 8, rounds = 4)),
    // landmark embeddings: K batched traversals recording first-arrival
    // rounds — hop distance from every landmark, one edge join per round
    "graph_landmark_dist" -> ((s, d) =>
      GraphOps
        .landmarkDistances(GraphSource.lineitemEdges(s, d), nLandmarks = 8, rounds = 4)
        .orderBy(col("id"), col("landmark"))),
    // the landmark table SERVED: d(u,v) ≈ min_L d(L,u)+d(L,v) from K
    // precomputed columns — no per-query BFS; exact hop distance rides
    // along as the recall-style check (itself a batched second sweep)
    "graph_landmark_est" -> ((s, d) =>
      GraphOps
        .landmarkEstimate(GraphSource.lineitemEdges(s, d), nLandmarks = 8, rounds = 4)
        .orderBy(col("u"), col("v"))),
    // graph-family train-once/apply-many: the landmark table is the
    // stored index; serving is ONE artifact scan + the triangle fold —
    // no BFS loop in the plan
    "graph_landmark_stored" -> ((s, d) => {
      val model =
        GraphOps.writeLandmarkModel(GraphSource.lineitemEdges(s, d), nLandmarks = 8, rounds = 4, corpusKey = d)
      GraphOps.landmarkEstimateStored(s, model, nLandmarks = 8).orderBy(col("u"), col("v"))
    }),
    // ANF's production read: sketch-only to saturation (changed set
    // empties → early exit), no exact reach expansion anywhere
    "graph_eff_diameter" -> ((s, d) =>
      GraphOps.effectiveDiameter(GraphSource.lineitemEdges(s, d), nSketches = 8, maxRounds = 16)),
    "pagerank_fixed" -> (pagerank _),
    // topic-sensitive variant: teleport mass returns only to the seed set
    "pagerank_personalized" -> ((s, d) =>
      GraphOps
        .pagerankPersonalized(GraphSource.lineitemEdges(s, d), iters = 3)
        .orderBy(col("id"))),
    "kcore_4" -> ((s, d) =>
      GraphOps.kCore(GraphSource.lineitemEdges(s, d), k = 4).orderBy(col("id"))),
    // full core decomposition: per-node core number via the h-index
    // iteration (one loop, one rank-aggregate round); the DuckDB
    // oracle runs the independent peel unroll
    "graph_coreness" -> ((s, d) =>
      GraphOps.corenessHIndex(GraphSource.lineitemEdges(s, d)).orderBy(col("id"))),
    // densest-region mining: bulk peel at 1.5× average degree, per-round
    // density profile (run-to-empty max row = the 3-approx densest cut)
    "graph_densest" -> ((s, d) =>
      GraphOps.densestSubgraph(GraphSource.lineitemEdges(s, d)).orderBy(col("round"))),
    // Katz path-counting centrality: β + α·Aᵀx with α = 1/8 exact
    // integer division — sinks included, no degree normalization
    "graph_katz" -> ((s, d) =>
      GraphOps.katzFixed(GraphSource.lineitemEdges(s, d)).orderBy(col("id"))),
    // the A4 convergence readout for the fixed-round Katz: per-round
    // changed count + L1 residual, so the fixed point is verified, not
    // assumed
    "graph_katz_resid" -> ((s, d) =>
      GraphOps.katzResiduals(GraphSource.lineitemEdges(s, d)).orderBy(col("round"))),
    // the same A4 convergence readout for fixed-round PageRank: per-round
    // changed count + L1 residual in rank pico-units
    "pagerank_resid" -> ((s, d) =>
      GraphOps.pagerankResiduals(GraphSource.lineitemEdges(s, d)).orderBy(col("round"))),
    // and for the FM/ANF sketch loop: the maskLoop changed-count
    // observation surfaced per hop, next to the round's N(h) estimate —
    // n_changed = 0 is the saturation the production early exit keys on
    "graph_anf_resid" -> ((s, d) =>
      GraphOps.anfResiduals(GraphSource.lineitemEdges(s, d)).orderBy(col("round"))),
    // edge-level cohesion: peel edges below k−2 triangle support to a
    // fixpoint; strictly stronger than the k-core filter
    "ktruss_3" -> ((s, d) =>
      GraphOps.kTruss(GraphSource.lineitemEdges(s, d), k = 3).orderBy(col("a"), col("b"))),
    // per-node neighborhood density in exact micro-units
    "graph_clustering_coef" -> ((s, d) =>
      GraphOps.clusteringCoefficient(GraphSource.lineitemEdges(s, d)).orderBy(col("id"))),
    // hubs & authorities in exact integer micro-units (L1-normalized)
    "graph_hits" -> ((s, d) =>
      GraphOps.hits(GraphSource.lineitemEdges(s, d), iters = 3).orderBy(col("id"))),
    // the same A4 readout for HITS: per-round changed counts + L1
    // residuals of BOTH score vectors
    "graph_hits_resid" -> ((s, d) =>
      GraphOps
        .hitsResiduals(GraphSource.lineitemEdges(s, d), iters = 3)
        .orderBy(col("round"))),
    // Rocchio read of the label centroids: per-vector nearest-centroid
    // assignment folded to the label confusion matrix
    "emb_centroid_confusion" -> ((s, d) =>
      Similarity.nearestCentroidConfusion(embs(s, d)).orderBy(col("label"), col("pred"))),
    "multimodal_decode" -> (multimodalDecode _),
    "q1_agg" -> (q1Agg _),
    "join_revenue" -> (joinRevenue _),
    "pii_k_anonymity" -> (piiKAnonymity _),
    // histogram-method boosted stumps: one bounded aggregate per round,
    // driver argmin over ≤50 rows, exact integer residuals
    "train_gbm_stumps" -> ((s, d) =>
      operators.Training.gbmStumps(table(s, d, "lineitem")).orderBy(col("round"))),
    // reliability read of the stored quality classifier: score-decile
    // bins vs observed positive rate
    "train_fasttext_calibration" -> ((s, d) =>
      operators.Training.fasttextCalibration(s, docs(s, d)).orderBy(col("bin"))),
    // isotonic (PAV-optimal, minimax closed form) calibration of the
    // stored score: the monotone score→probability map served next to
    // the raw reliability diagram; bounded bins-table arithmetic only
    "train_isotonic" -> ((s, d) =>
      operators.Training.isotonicCalibration(s, docs(s, d)).orderBy(col("bin"))),
    // stored-stump serving: literal CASE chain, one scan, no training
    "train_gbm_stored" -> ((s, d) => {
      val m = operators.Training.writeGbmModel(s, table(s, d, "lineitem"))
      operators.Training.gbmApplyStored(s, table(s, d, "lineitem"), m)
    }),
    "topk_orders" -> (topkOrders _),
    "window_rank" -> (windowRank _),
    "rollup_agg" -> (rollupAgg _),
    "cube_agg" -> (cubeAgg _),
    "pivot_agg" -> (pivotAgg _),
    "window_running" -> (windowRunning _),
    "set_ops" -> (setOps _),
    "semi_anti_join" -> (semiAntiJoin _),
    // dedup family
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy(col("doc_id"))),
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashCandidates(docs(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    // banding tuning table: exact 1-(1-s^r)^b candidate probability at
    // every (b,r) factoring of the signature, next to the shipped
    // config's measured match histogram
    "dedup_lsh_scurve" -> ((s, d) =>
      Dedup.lshScurve(docs(s, d)).orderBy(col("bands"), col("k_match"))),
    // estimator quality on its own candidates: MinHash-at-0.5 vs the
    // exact token-set Jaccard, confusion counts + exact ppm P/R
    "dedup_minhash_pr" -> ((s, d) => Dedup.minhashPrecision(docs(s, d))),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashCandidates(docs(s, d), Dedup.SimhashMaxHamming)
        .orderBy(col("doc_a"), col("doc_b"))),
    // which sources re-serve each other's content: source-pair rollup of
    // the MinHash candidate clique
    "dedup_source_matrix" -> ((s, d) =>
      Dedup.sourceDupMatrix(docs(s, d)).orderBy(col("source_a"), col("source_b"))),
    // nightly-ingest shape: incoming batch (doc_id >= 400) scored against
    // the existing store, never a corpus self-join
    "dedup_incremental" -> ((s, d) =>
      Dedup.incremental(docs(s, d), firstNewId = 400L).orderBy(col("doc_id"))),
    // per-doc ensemble verdict across the whole near-dup stack — the
    // which-detector-fires audit before clustering
    "dedup_verdict" -> ((s, d) => Dedup.verdict(docs(s, d)).orderBy(col("doc_id"))),
    // chance-corrected pairwise agreement of the four text detectors —
    // the redundant-vs-complementary ensemble diagnostic
    "dedup_detector_kappa" -> ((s, d) =>
      Dedup.detectorKappa(Dedup.verdict(docs(s, d))).orderBy(col("det_a"), col("det_b"))),
    // canonical survivor per cluster by QUALITY argmax (ties to the
    // lower id) — the keep-table a curation sweep actually consumes
    "dedup_survivors" -> ((s, d) => Dedup.survivors(docs(s, d)).orderBy(col("doc_id"))),
    // CCNet-shape paragraph-level exact dedup: first global occurrence
    // of each fixed-width paragraph survives; per-doc dup audit
    "dedup_paragraph" -> ((s, d) => Dedup.paragraphDedup(docs(s, d)).orderBy(col("doc_id"))),
    // index-lifecycle close: base index ∪ arrival delta re-capped —
    // hot buckets retired, compacted artifact rewritten in-plan
    "dedup_minhash_compact" -> ((s, d) =>
      Dedup.minhashCompact(s, docs(s, d), firstNewId = 400L)
        .orderBy(col("band_idx"), col("band_val"))),
    // the SIX-detector cross-modality audit: the four text families
    // plus the pHash media detector and the SemDeDup embedding
    // detector, one keep conjunction per document
    "dedup_verdict_multimodal" -> ((s, d) =>
      Dedup.verdictMultimodal(docs(s, d), embs(s, d), corpusKey = d).orderBy(col("doc_id"))),
    // dense-retrieval (RAG) pipeline: chunk → hash-embed → cosine top-k
    // for three planted queries; swap the embed expression for model
    // vectors and the brute pass for the IVF probe at scale
    "pipeline_rag" -> ((s, d) =>
      TextOps.ragRetrieve(docs(s, d)).orderBy(col("query_id"), col("rank"))),
    // the MODERN curation recipe composed end-to-end: heuristic rules
    // (Gopher) ∧ ensemble dedup keep ∧ DSIR importance (llr > 0), per
    // lang — each stage the already-verified operator; the composition
    // adds three doc_id joins and one rollup
    "pipeline_modern" -> ((s, d) => {
      val g = TextOps.gopherRules(docs(s, d)).select(col("doc_id"), col("pass"))
      val v = Dedup.verdict(docs(s, d)).select(col("doc_id"), col("keep"))
      val w = TextOps.dsirWeights(docs(s, d))
        .select(col("doc_id"), col("n_tokens"), col("llr"))
      docs(s, d)
        .select(col("doc_id"), col("lang"))
        .join(g, Seq("doc_id"))
        .join(v, Seq("doc_id"))
        .join(w, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pass") && col("keep") && col("llr") > 0.0d, 1L).otherwise(0L))
            .as("n_kept"),
          sum(
            when(col("pass") && col("keep") && col("llr") > 0.0d, col("n_tokens"))
              .otherwise(0L)).as("kept_tokens"))
        .orderBy(col("lang"))
    }),
    // Hamming-ball index-once/probe-many: arrivals vs the STORED
    // SimHash chunk index, exact-distance verify, best match per probe
    "dedup_simhash_stored" -> ((s, d) => {
      val idx = Dedup.writeSimhashIndex(s, docs(s, d).filter(col("doc_id") < 400L))
      Dedup.simhashProbeStored(s, docs(s, d), idx, firstNewId = 400L).orderBy(col("doc_id"))
    }),
    // index-once/probe-many: arrivals vs the STORED band index, best
    // match by exact signature agreement (no re-sign of the corpus)
    "dedup_minhash_stored" -> ((s, d) => {
      val idx = Dedup.writeMinhashIndex(s, docs(s, d).filter(col("doc_id") < 400L))
      Dedup.minhashProbeStored(s, docs(s, d), idx, firstNewId = 400L).orderBy(col("doc_id"))
    }),
    // single-document point probe of the stored band index: ONE runtime
    // document (here doc 0's text standing in for an ingest request)
    // signed by one narrow map, broadcast into a bucket-keyed probe of
    // the artifact — two bucket reads, no corpus re-sign, no full scan
    "dedup_probe_stored" -> ((s, d) => {
      val qt = docs(s, d).filter(col("doc_id") === 0L).select(col("text")).first().getString(0)
      // index built ONCE per corpus (ModelCache), probed many times —
      // repeat probes in this or any later process pay only the probe
      val idx = Dedup.minhashIndexCached(s, docs(s, d), d)
      Dedup.minhashProbeOne(s, idx, qt)
    }),
    // the Hamming-family twin: one runtime document fingerprinted, its
    // chunk keys broadcast into the stored SimHash index, candidates
    // Hamming-verified, nearest-first
    "dedup_probe_simhash" -> ((s, d) => {
      val qt = docs(s, d).filter(col("doc_id") === 0L).select(col("text")).first().getString(0)
      val idx = Dedup.simhashIndexCached(s, docs(s, d), d)
      Dedup.simhashProbeOne(s, idx, qt)
    }),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    // exact J ≥ 1/2 join with prefix filtering: provably complete
    // candidate pruning (no df cap, no loss), integer acceptance
    "dedup_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixFilterPairs(docs(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    // asymmetric near-dup: directional containment over the capped
    // shingle sets — catches a short doc quoted inside a long one
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(docs(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingNearDups(embs(s, d), minCosine = 0.3).orderBy(col("vec_a"), col("vec_b"))),
    "dedup_clusters" -> ((s, d) =>
      Dedup.clusters(docs(s, d), Dedup.minhashCandidatePairs(docs(s, d))).orderBy(col("doc_id"))),
    // ONE transitive closure over the union of the text, media, and
    // embedding pair families — the canonical-survivor table across
    // re-encodes, quotes, and paraphrases
    "dedup_clusters_multimodal" -> ((s, d) =>
      Dedup.clustersMultimodal(docs(s, d), embs(s, d), corpusKey = d).orderBy(col("doc_id"))),
    // threshold tuning table: pair/flagged counts at each candidate
    // cosine cut, one pass over the materialized scored pairs
    "dedup_threshold_sweep" -> ((s, d) =>
      Dedup
        .nearDupThresholdSweep(embs(s, d), thresholds = Seq(0.3, 0.5, 0.9))
        .orderBy(col("threshold"))),
    // SemDeDup: k-means cells as the candidate blocks, within-cluster
    // lower-id cosine evidence — paraphrase dedup with no shingle overlap
    "dedup_semantic" -> ((s, d) =>
      Dedup.semanticDedup(embs(s, d), minCosine = 0.4, corpusKey = d).orderBy(col("vec_id"))),
    // similarity search
    "ann_brute_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embs(s, d), nQueries = 10, k = 5)
        .orderBy(col("q_id"), col("rank"))),
    "ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(embs(s, d), nQueries = 50, k = 3)
        .orderBy(col("q_id"), col("rank"))),
    "ann_topk_agg" -> ((s, d) =>
      Similarity.bruteForceTopKAgg(s, embs(s, d), nQueries = 10, k = 5)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy(col("q_id"), col("rank"))),
    // Matryoshka ablation: recall@k of dim-truncated exact search vs
    // the full-dim baseline, one row per truncation width
    "ann_matryoshka_recall" -> ((s, d) =>
      Similarity.matryoshkaRecall(embs(s, d), nQueries = 10, k = 5)
        .orderBy(col("dim"))),
    // k-NN classifier confusion matrix over the held-out 20% split
    "ann_knn_eval" -> ((s, d) =>
      Similarity.knnEval(embs(s, d), k = 5)
        .orderBy(col("label_true"), col("label_pred"))),
    // the same vote layer served through the train-split IVF index
    "ann_knn_eval_ivf" -> ((s, d) =>
      Similarity.knnEvalIvf(embs(s, d), k = 5, nProbe = 2)
        .orderBy(col("label_true"), col("label_pred"))),
    "ann_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(embs(s, d), nQueries = 50, k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("rank"))),
    // the TRAINED quantizer: integer fixed-point Lloyd k-means (bit-
    // identical cross-engine), exposed directly…
    "kmeans_centroids" -> ((s, d) =>
      Similarity.kmeansFixed(embs(s, d))
        .select(col("cid"), posexplode(col("c")).as(Seq("pos", "c_int")))
        .select(col("cid"), (col("pos") + 1).cast("int").as("dim"), col("c_int"))
        .orderBy(col("cid"), col("dim"))),
    // …and as the coarse cells of the full IVF path (train → assign →
    // invert → probe)
    "ann_ivf_trained" -> ((s, d) =>
      Similarity.ivfTrainedTopK(embs(s, d), nQueries = 50, k = 3, nProbe = 2)
        .orderBy(col("q_id"), col("rank"))),
    // the train-once / apply-many half: Lloyd runs while the parquet
    // MODEL ARTIFACT is staged; the returned probe plan only READS it
    // (centroid scan + corpus scan — no training stage in the plan)
    "ann_ivf_stored" -> ((s, d) => {
      val model = Similarity.writeIvfModel(s, embs(s, d), d)
      Similarity.ivfStoredTopK(s, embs(s, d), model, nQueries = 50, k = 3, nProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    }),
    // IVF index health: per-cell occupancy ppm + micro-unit assignment
    // scores off the stored quantizer — the skew/drift/dead-cell alarm
    "ann_ivf_health" -> ((s, d) => {
      val model = Similarity.writeIvfModel(s, embs(s, d), d)
      Similarity.ivfHealth(s, embs(s, d), model).orderBy(col("cid"))
    }),
    // centroid-based silhouette per cluster: quality beside occupancy,
    // against k centroids only — never the |V|² pairwise silhouette
    // per-subspace PQ distortion: exact integer codebook-quality table
    "ann_pq_distortion" -> ((s, d) =>
      Similarity.pqDistortion(embs(s, d)).orderBy(col("m"))),
    // per-dim SQ8 reconstruction error off the stored scalar quantizer
    "ann_sq_distortion" -> ((s, d) => {
      val model = Similarity.writeSqModel(s, embs(s, d), d)
      Similarity.sqDistortion(s, embs(s, d), model).orderBy(col("dim"))
    }),
    "emb_silhouette" -> ((s, d) => {
      val model = Similarity.writeIvfModel(s, embs(s, d), d)
      Similarity.silhouette(s, embs(s, d), model).orderBy(col("cid"))
    }),
    // EXTERNAL-query ANN: a runtime query vector served against the
    // stored quantizer — probe cells picked driver-side over the k-row
    // artifact, the data plan is a cell-pruned list scan + TakeOrdered
    "ann_ivf_query" -> ((s, d) => {
      val model = Similarity.writeIvfModel(s, embs(s, d), d)
      Similarity.ivfQueryStored(s, embs(s, d), model, AnnQueryVec, k = 10, nProbe = 2)
    }),
    // product quantization: per-subspace codebooks + LUT-based ADC scan
    "ann_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(embs(s, d), nQueries = 50, k = 3)
        .orderBy(col("q_id"), col("rank"))),
    // measured recall of the 8×7-bit compression against brute force
    "ann_pq_recall" -> ((s, d) =>
      Similarity.pqRecall(embs(s, d), nQueries = 50, k = 3).orderBy(col("q_id"))),
    // the composed production path: IVF candidate pruning + PQ ADC ranking
    "ann_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfpqTopK(embs(s, d), nQueries = 50, k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("rank"))),
    // PQ train-once/apply-many: the per-subspace codebooks staged as a
    // parquet artifact; the returned ADC plan only READS them (codebook
    // scan + corpus scan — no Lloyd stage in the plan)
    "ann_pq_stored" -> ((s, d) => {
      val model = Similarity.writePqModel(s, embs(s, d), d)
      Similarity.pqStoredTopK(s, embs(s, d), model, nQueries = 50, k = 3)
        .orderBy(col("q_id"), col("rank"))
    }),
    // scalar quantizer (SQ8) train-once/apply-many: per-dim [lo, hi]
    // artifact; serving decomposes the dot EXACTLY through the codes
    // (one codegen'd DotProduct per pair — no dequantized array per pair)
    "ann_sq_stored" -> ((s, d) => {
      val model = Similarity.writeSqModel(s, embs(s, d), d)
      Similarity.sqStoredTopK(s, embs(s, d), model, nQueries = 10, k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),
    // measured recall of the 4x SQ compression against the exact
    // inner-product ranking (the pq_recall discipline)
    "ann_sq_recall" -> ((s, d) =>
      Similarity.sqRecall(s, embs(s, d), nQueries = 20, k = 5, corpusKey = d).orderBy(col("q_id"))),
    // both artifacts stored — coarse quantizer + codebooks: the complete
    // production ANN serving plan, zero training stages
    "ann_ivfpq_stored" -> ((s, d) => {
      val ivf = Similarity.writeIvfModel(s, embs(s, d), d)
      val pq = Similarity.writePqModel(s, embs(s, d), d)
      Similarity.ivfpqStoredTopK(s, embs(s, d), ivf, pq, nQueries = 50, k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("rank"))
    }),
    // IVFADC+R: top-10 ADC candidates per query re-scored by exact
    // cosine over the full vectors — candidate-bounded vector reads
    "ann_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfpqRerankTopK(embs(s, d), nQueries = 50, k = 3, nProbe = 3, nCand = 10)
        .orderBy(col("q_id"), col("rank"))),
    // text analysis
    "text_lang_id" -> ((s, d) => TextOps.langId(docs(s, d)).orderBy(col("doc_id"))),
    // classifier eval: predicted vs stored language, ≤|langs|² rows
    "text_langid_confusion" -> ((s, d) =>
      TextOps.langIdConfusion(docs(s, d)).orderBy(col("actual"), col("pred_lang"))),
    // redundancy-growth audit: share of never-seen-before shingles per doc
    "text_novelty" -> ((s, d) => TextOps.noveltyCurve(docs(s, d)).orderBy(col("doc_id"))),
    // nibble-entropy screen for compressed/encrypted/corrupt payloads
    // audio shape: framed short-time energy + quiet-frame screen over
    // the PCM-stand-in payload (codec swap point marked in the kernel)
    "multimodal_audio_energy" -> ((s, d) =>
      Multimodal.audioEnergy(docs(s, d)).orderBy(col("doc_id"))),
    // gaps-and-islands over the loud frames: the utterance segments an
    // ASR pipeline actually cuts on
    "multimodal_audio_segments" -> ((s, d) =>
      Multimodal.audioSegments(docs(s, d)).orderBy(col("doc_id"), col("start_frame"))),
    "multimodal_entropy" -> ((s, d) =>
      Multimodal.payloadEntropy(docs(s, d)).orderBy(col("doc_id"))),
    // Shazam-style landmark matching: peak-constellation hashes +
    // offset-consistent vote (catches shifted clips pHash misses)
    "multimodal_audio_match" -> ((s, d) =>
      Multimodal.audioMatches(docs(s, d)).orderBy(col("doc_a"), col("doc_b"), col("off"))),
    // hub-hub vs hub-leaf attachment in one Pearson coefficient
    "graph_assortativity" -> ((s, d) =>
      GraphOps.assortativity(GraphSource.lineitemEdges(s, d))),
    // common-neighbor link prediction, hub-capped wedges, TakeOrdered
    "graph_link_pred" -> ((s, d) =>
      GraphOps.linkPrediction(GraphSource.lineitemEdges(s, d))
        .orderBy(col("common").desc, col("a"), col("b"))),
    // GraphSAGE-style 2-hop fan-out-bounded neighborhood sampling: the
    // GNN minibatch block builder, sampled adjacency computed once
    "graph_khop_sample" -> ((s, d) =>
      GraphOps.khopSample(GraphSource.lineitemEdges(s, d)).orderBy(col("root"))),
    "text_quality" -> ((s, d) => TextOps.quality(docs(s, d)).orderBy(col("doc_id"))),
    "text_token_count" -> ((s, d) => TextOps.tokenCounts(docs(s, d)).orderBy(col("doc_id"))),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprints(docs(s, d)).orderBy(col("doc_id"))),
    // events / windows
    "events_tumbling" -> ((s, d) =>
      EventOps.tumbling(events(s, d)).orderBy(col("ws"), col("event_type"))),
    // same aggregation pushed through the Structured Streaming engine
    // (watermark + state store + memory sink); shares the batch oracle
    "events_stream_tumbling" -> ((s, d) =>
      streaming.StreamOps.tumblingOverParquet(s, d).orderBy(col("ws"), col("event_type"))),
    "events_stream_sliding" -> ((s, d) =>
      streaming.StreamOps.slidingOverParquet(s, d).orderBy(col("ws"), col("event_type"))),
    // per-window heavy hitters: streaming tumbling counts + the rank
    // readout a dashboard runs against the sink
    "events_stream_topk" -> ((s, d) =>
      streaming.StreamOps.topkOverParquet(s, d).orderBy(col("ws"), col("rk"))),
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupsLsh(embs(s, d), minCosine = 0.3).orderBy(col("vec_a"), col("vec_b"))),
    // first-class CSV / JSON-lines sources: stage through the format with
    // an explicit schema, aggregate what came back; the oracle reads the
    // original parquet — a format bug anywhere breaks the hash
    "csv_source_agg" -> ((s, d) => {
      val sup = table(s, d, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"),
        col("s_nationkey").cast("long").as("s_nationkey"),
        col("s_acctbal").cast("double").as("s_acctbal"))
      sources.TabularIO.csvRoundTrip(s, sup)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    }),
    "json_source_agg" -> ((s, d) => {
      val cust = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
      sources.TabularIO.jsonRoundTrip(s, cust)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),
    // gzip JSON-lines round-trip — the crawl-shard arrival format;
    // gzip is unsplittable, so parallelism = file count (doc'd)
    "gz_source_agg" -> ((s, d) => {
      val docsSlim = docs(s, d).select(col("doc_id"), col("lang"), col("text"))
      sources.TabularIO.gzipJsonRoundTrip(s, docsSlim)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy(col("lang"))
    }),
    // schema-evolution read: old files lack the new column, mergeSchema
    // serves NULLs for them — the column-addition contract of a lake
    "evolve_source_agg" -> ((s, d) => {
      val cust = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
      sources.TabularIO
        .schemaEvolutionRead(s, cust, "c_acctbal", "c_custkey", splitAt = 1000L)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("n_legacy"),
          round(sum(coalesce(col("c_acctbal"), lit(0.0d))), 2).as("sum_bal_new"))
        .orderBy(col("c_mktsegment"))
    }),
    // ORC staging round-trip — the second big columnar container a lake
    // mixes; pruning/pushdown reach the ORC scan like the parquet one
    "orc_source_agg" -> ((s, d) => {
      val p = table(s, d, "part").select(
        col("p_partkey").cast("long").as("p_partkey"),
        col("p_brand"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      sources.TabularIO.orcRoundTrip(s, p)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 2).as("sum_price"))
        .orderBy(col("p_brand"))
    }),
    "events_sliding" -> ((s, d) =>
      EventOps.sliding(events(s, d)).orderBy(col("ws"), col("event_type"))),
    // top 3-step journeys over day-scale sessions: the path-mining read
    "events_paths" -> ((s, d) => EventOps.eventPaths(events(s, d))),
    "events_sessionize" -> ((s, d) =>
      EventOps.sessionize(events(s, d), gapMinutes = 30).orderBy(col("user_id"), col("session_id"))),
    // session-length histogram off the same sessionizer: the engagement
    // depth profile (exact ppm shares over session counts)
    "events_session_lengths" -> ((s, d) => {
      val h = EventOps.sessionize(events(s, d), gapMinutes = 30)
        .groupBy(col("n_events").as("session_len"))
        .agg(count(lit(1)).as("n_sessions"))
      h.crossJoin(broadcast(h.agg(sum(col("n_sessions")).as("t"))))
        .select(
          col("session_len"),
          col("n_sessions"),
          expr("n_sessions * 1000000 div t").as("share_ppm"))
        .orderBy(col("session_len"))
    }),
    "events_json_agg" -> ((s, d) => EventOps.jsonAgg(events(s, d)).orderBy(col("event_type"))),
    "events_quantiles" -> ((s, d) =>
      EventOps.quantiles(events(s, d)).orderBy(col("event_type"))),
    // Tukey-fence outlier report: robust per-type anomaly counting
    "events_anomaly" -> ((s, d) =>
      EventOps.anomalies(events(s, d)).orderBy(col("event_type"))),
    // the sort-free histogram-sketch form next to the exact baseline
    "events_quantiles_binned" -> ((s, d) =>
      EventOps.quantilesBinned(events(s, d)).orderBy(col("event_type"))),
    // join-key skew pre-flight: heavy hitters + global key stats
    "skew_key_report" -> ((s, d) =>
      EventOps.skewKeyReport(events(s, d), "user_id", topN = 10).orderBy(col("rank"))),
    // ordered-sequence analytics: strict view→click→purchase progression
    "events_funnel" -> ((s, d) =>
      EventOps.funnel(events(s, d), Seq("view", "click", "purchase")).orderBy(col("step"))),
    // first-order behavior model: per-user consecutive-event transition
    // counts, row-normalized in exact micro-units
    "events_markov" -> ((s, d) =>
      EventOps.markovTransitions(events(s, d)).orderBy(col("prev_type"), col("next_type"))),
    // robust-z outliers off median/MAD — the fence family's other half
    "events_mad" -> ((s, d) =>
      EventOps.madOutliers(events(s, d)).orderBy(col("event_type"))),
    // PSI drift alarm between the stream's ref/cur halves, integer
    // micro-unit bin terms so the cross-bin sum is order-free
    "events_psi" -> ((s, d) =>
      EventOps.psiDrift(events(s, d)).orderBy(col("event_type"))),
    // two-sample KS drift: integer-exact max CDF gap off the
    // distinct-value histogram
    "events_ks_drift" -> ((s, d) =>
      EventOps.ksDrift(events(s, d)).orderBy(col("event_type"))),
    // sequential CUSUM changepoint: max-reset recursion computed exactly
    // as prefix-sum minus running-min, localizes WHEN the shift happened
    "events_cusum" -> ((s, d) =>
      EventOps.cusumDrift(events(s, d)).orderBy(col("event_type"))),
    // SERVING side of the monitoring family (train-once/serve-many,
    // completing what the index/model families already have): a RUNTIME
    // window scored against the STORED per-type CUSUM reference target
    "events_cusum_query" -> ((s, d) => {
      val model = EventOps.writeCusumModel(s, events(s, d), corpusKey = d)
      EventOps.cusumQueryStored(
          s, events(s, d), model, EventOps.DriftQueryLoPct, EventOps.DriftQueryHiPct)
        .orderBy(col("event_type"))
    }),
    // RUNTIME window scored against the STORED reference histogram —
    // the drift dashboard's per-query cost: one ts-filtered scan plus
    // an artifact read; the reference corpus is never rescanned
    "events_psi_query" -> ((s, d) => {
      val model = EventOps.writePsiModel(s, events(s, d), corpusKey = d)
      EventOps.psiQueryStored(
          s, events(s, d), model, EventOps.DriftQueryLoPct, EventOps.DriftQueryHiPct)
        .orderBy(col("event_type"))
    }),
    // rank-based Mann–Whitney drift: doubled midranks keep U and the
    // window-separation AUC exact integers
    "events_mwu_drift" -> ((s, d) =>
      EventOps.mwuDrift(events(s, d)).orderBy(col("event_type"))),
    // Kaplan–Meier time-to-first-purchase with right-censoring, carried
    // in log domain as integer micro cumsums
    "events_survival_km" -> ((s, d) =>
      EventOps.survivalKm(events(s, d)).orderBy(col("t_hr"))),
    // the composed monitoring report: all four drift alarms per type
    "events_drift_report" -> ((s, d) =>
      EventOps.driftReport(events(s, d)).orderBy(col("event_type"))),
    // DAU / trailing-7d WAU per day, window on the day-grain table only
    "events_stickiness" -> ((s, d) =>
      EventOps.stickiness(events(s, d)).orderBy(col("day"))),
    // weekly cohort retention matrix off each user's first-event week
    "events_retention" -> ((s, d) =>
      EventOps.retentionCohorts(events(s, d))
        .orderBy(col("cohort_week"), col("week_offset"))),
    "events_asof" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(expr("max_by(value, event_id)").as("click_value"))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      operators.AsOfJoin
        .asOfLeftWithTs(purchases, clicks, "user_id", "ts", Seq("click_value"))
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
          col("value"),
          col("asof_click_value").as("click_value"),
          date_format(col("asof___rts"), "yyyy-MM-dd HH:mm:ss").as("cts"))
        .orderBy(col("event_id"))
    }),
    "salted_agg" -> ((s, d) =>
      SkewOps
        .saltedCountSum(
          events(s, d).withColumn(
            "k",
            regexp_extract(col("props"), "[0-9]+", 0).cast("long")),
          col("event_type"),
          col("k"),
          pmod(col("event_id"), lit(8)))
        .orderBy(col("key"))),
    "text_tfidf" -> ((s, d) =>
      TextOps.tfidf(docs(s, d)).orderBy(col("doc_id"), col("term"))),
    // keyword extraction: per-doc top-3 tf-idf terms via a bounded
    // per-doc sort — no corpus-wide window
    "text_top_terms" -> ((s, d) =>
      TextOps.topTerms(docs(s, d)).orderBy(col("doc_id"), col("rank"))),
    // BM25 top-k retrieval — tf-idf's production successor; query terms
    // self-derived (top-df) for determinism, per-doc ordered score fold
    "text_bm25_topk" -> ((s, d) => TextOps.bm25TopK(docs(s, d), nTerms = 3, k = 20)),
    // index-once/query-many BM25: vocabulary df + corpus stats stored;
    // serving filters terms to the query list BEFORE the tf aggregate —
    // one corpus crossing, no vocabulary-wide aggregate in the plan
    "text_bm25_stored" -> ((s, d) => {
      val model = TextOps.writeBm25Model(s, docs(s, d))
      TextOps.bm25ApplyStored(s, docs(s, d), model, nTerms = 3, k = 20)
    }),
    // EXTERNAL-query BM25: the user's search terms as a runtime
    // parameter against the same stored artifact (one unseen term
    // drops out via the vocabulary join) — one corpus crossing
    "text_bm25_query" -> ((s, d) => {
      val model = TextOps.writeBm25Model(s, docs(s, d))
      TextOps.bm25QueryStored(s, docs(s, d), model, Bm25QueryTerms, k = 20)
    }),
    "emb_centroids" -> ((s, d) =>
      Similarity.labelCentroids(embs(s, d)).orderBy(col("label"), col("dim"))),
    // drift dashboard: per-label centroid shift (L2 + cosine) between
    // the baseline and current snapshot slices — the retrain trigger
    "emb_drift" -> ((s, d) =>
      Similarity.labelDrift(embs(s, d)).orderBy(col("label"))),
    // contrastive hard-negative mining: per query, the most-similar
    // vectors of a DIFFERENT label (exact baseline; composes with ANN)
    "emb_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(embs(s, d), nQueries = 20, k = 3)
        .orderBy(col("q_id"), col("rank"))),
    // cell-blocked approximate kNN graph with the mutual-edge flag —
    // the graph-based-curation substrate, per-cell quadratic only
    "emb_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(embs(s, d), corpusKey = d).orderBy(col("vec_id"), col("nbr_rank"))),
    // the choose-k pre-flight: Lloyd at each candidate k, exact
    // integer micro-squared inertia per k
    "ann_kmeans_elbow" -> ((s, d) => Similarity.kmeansElbow(embs(s, d))),
    // what the fixed probe cost buys at each result-set size:
    // recall@{1,3,5} of the trained IVF at nProbe 2, exact ppm
    "ann_recall_at_k" -> ((s, d) =>
      Similarity.ivfRecallAtK(embs(s, d), nQueries = 50)),
    // rank-weighted IVF quality: nDCG@10 vs the brute ranking, graded
    // gains and literal log2 discounts, exact ppm
    "ann_ndcg" -> ((s, d) => Similarity.ivfNdcg(embs(s, d), nQueries = 50)),
    // mislabeled-data mining: per label, the k vectors least similar to
    // their own label centroid
    "emb_outliers" -> ((s, d) =>
      Similarity.labelOutliers(embs(s, d), k = 10).orderBy(col("label"), col("rank"))),
    // multimodal plumbing (column-expressible projection; mapPartitions
    // path covered in MultimodalSpec)
    "multimodal_features" -> ((s, d) =>
      Multimodal.featureSummary(docs(s, d)).orderBy(col("doc_id"))),
    "multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(docs(s, d)).orderBy(col("doc_id"), col("frame_idx"))),
    // frame-overlap video dedup: pairs sharing >= 2 sampled frame
    // hashes, hot (boilerplate) hashes capped out of candidates
    "multimodal_frame_dedup" -> ((s, d) =>
      Multimodal.frameDedup(docs(s, d)).orderBy(col("a_id"), col("b_id"))),
    // perceptual-hash near-dup over the binary media column: banded
    // 64-bit average-hash LSH + exact Hamming verification (bucket-keyed,
    // never all-pairs; oversized buckets dropped as boilerplate)
    "multimodal_phash_dedup" -> ((s, d) =>
      Multimodal.phashDedup(docs(s, d)).orderBy(col("a_id"), col("b_id"))),
    // index-once/probe-many for the media column: the banded pHash store
    // persisted as a parquet artifact; probing a batch of arrivals reads
    // the artifact and the batch — no signature/cap stage for the corpus
    "multimodal_phash_stored" -> ((s, d) => {
      val all = docs(s, d)
      val index = Multimodal.writePhashIndex(all.filter(col("doc_id") < 400L))
      Multimodal
        .phashStoredProbe(s, all.filter(col("doc_id") >= 400L), index)
        .orderBy(col("doc_id"))
    }),
    // pHash threshold-tuning histogram: within-bucket Hamming spectrum
    "multimodal_phash_hist" -> ((s, d) =>
      operators.Multimodal.phashHammingHist(docs(s, d)).orderBy(col("hamming"))),
    // pairs -> transitive near-dup clusters -> canonical keep list (the
    // dedup_clusters step for the media column; shares its star-CC)
    "multimodal_phash_clusters" -> ((s, d) =>
      Dedup
        .clusters(
          docs(s, d),
          Multimodal.phashDedup(docs(s, d))
            .select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
        .orderBy(col("doc_id"))),
    "text_vocab" -> ((s, d) => TextOps.vocab(docs(s, d), k = 50)),
    // batch-shaping + curation extensions (round 3)
    "doc_pack" -> ((s, d) =>
      TextOps.pack(docs(s, d), binTokens = 2048L).orderBy(col("lang"), col("doc_id"))),
    "doc_sample" -> ((s, d) => TextOps.stratifiedSample(docs(s, d)).orderBy(col("doc_id"))),
    // domain-mixing repeat factors: the step between curation and training
    "doc_mixture" -> ((s, d) => TextOps.mixtureWeights(docs(s, d)).orderBy(col("lang"))),
    // temperature-scaled (α=0.5) sampling shares — sqrt keeps it
    // bit-exact cross-engine with no transcendental grid
    "doc_mixture_alpha" -> ((s, d) => TextOps.mixtureAlpha(docs(s, d)).orderBy(col("lang"))),
    "pii_redact" -> ((s, d) => TextOps.piiRedact(docs(s, d)).orderBy(col("doc_id"))),
    // doc → overlapping training-window fan-out (pure narrow map)
    "doc_chunk" -> ((s, d) =>
      TextOps.chunk(docs(s, d)).orderBy(col("doc_id"), col("chunk_idx"))),
    // deterministic sharded corpus shuffle (reproducible example order)
    "doc_shuffle" -> ((s, d) =>
      TextOps.shuffleShards(docs(s, d)).orderBy(col("shard"), col("pos"))),
    // per-source curation report: volume, exact-dup rate, token budget —
    // the rollup a corpus owner reads per crawl/domain. One hash
    // aggregate (count distinct two-phases on the source key); ratios
    // are single long/long divisions, deterministic across engines
    "source_stats" -> ((s, d) =>
      docs(s, d)
        .select(
          col("source"),
          col("text"),
          size(Parity.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"),
          sum(col("n_toks")).as("sum_tokens"))
        .select(
          col("source"),
          col("n_docs"),
          col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6).as("dup_rate"),
          col("sum_tokens"),
          round(col("sum_tokens").cast("double") / col("n_docs"), 6).as("mean_tokens"))
        .orderBy(col("source"))),
    // the composed per-source CORPUS HEALTH report: volume/dup-rate +
    // lexical KL-vs-corpus + sketched distinct vocabulary, one row per
    // source — the curation-side sibling of events_drift_report
    "corpus_source_report" -> ((s, d) => {
      val dd = docs(s, d)
      val stats = dd
        .select(
          col("source"),
          col("text"),
          size(graft.functions.Parity.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"),
          sum(col("n_toks")).as("sum_tokens"))
        .select(
          col("source"),
          col("n_docs"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6).as("dup_rate"),
          col("sum_tokens"))
      stats
        .join(
          TextOps.sourceKlDrift(dd).select(col("source"), col("n_terms"), col("kl")),
          Seq("source"))
        .join(
          operators.Sketches.kmvPerSource(dd)
            .select(col("source"), col("kmv_estimate").as("distinct_tok_est")),
          Seq("source"))
        .orderBy(col("source"))
    }),
    // BPE tokenizer training over the word histogram: the iteration-1
    // pair histogram (exact), the real 8-merge training loop (batched
    // on the Spark side, sequential-equivalent — the oracle unrolls the
    // SEQUENTIAL loop in SQL and must hash-match; see Tokenization),
    // and the trained tokenizer APPLIED back to the corpus
    // (train→encode — the highest-traffic path of a real pipeline)
    // SentencePiece-style unigram tokenizer: histogram-trained piece
    // scores, exact Viterbi segmentation (fewest-pieces tie-break)
    "tok_unigram" -> ((s, d) =>
      operators.Tokenization.unigramSegments(docs(s, d)).orderBy(col("w"))),
    // per-lang fertility under the trained segmentation, char fallback
    "tok_unigram_fertility" -> ((s, d) =>
      operators.Tokenization
        .unigramFertility(docs(s, d), operators.Tokenization.unigramSegments(docs(s, d)))
        .orderBy(col("lang"))),
    // stored-artifact serving: broadcast word→pieces map, no training
    "tok_unigram_stored" -> ((s, d) => {
      val model = operators.Tokenization.writeUnigramModel(s, docs(s, d))
      operators.Tokenization.unigramFertilityStored(s, docs(s, d), model).orderBy(col("lang"))
    }),
    // context-length capacity planning: padded vs packed chunk counts
    // and exact ppm padding waste per candidate sequence length
    "tok_context_fit" -> ((s, d) =>
      operators.Tokenization.contextFit(docs(s, d)).orderBy(col("ctx_len"))),
    // vocab sizing curve: exact ppm occurrence coverage of the top-k types
    "tok_vocab_coverage" -> ((s, d) =>
      operators.Tokenization.vocabCoverage(docs(s, d)).orderBy(col("k"))),
    // BPE compression ROI: corpus fertility at each merge budget
    "tok_compression_curve" -> ((s, d) =>
      operators.Tokenization.compressionCurve(s, docs(s, d)).orderBy(col("n_merges"))),
    "bpe_pair_counts" -> ((s, d) =>
      operators.Tokenization
        .pairCounts(operators.Tokenization.initialStates(docs(s, d)))
        .orderBy(col("left"), col("right"))),
    "bpe_merges" -> ((s, d) =>
      operators.Tokenization.bpeTrain(s, docs(s, d), nMerges = 8, minFreq = 2L)),
    "bpe_encode" -> ((s, d) =>
      operators.Tokenization
        .bpeEncode(s, docs(s, d), nMerges = 8, minFreq = 2L)
        .orderBy(col("doc_id"))),
    // the train-once / apply-many half: training runs while the merge
    // table is staged as a parquet model artifact; the returned encode
    // plan reads the model (scalar-sized, folded into the expression)
    // and scans the corpus once — no histogram, no argmax rounds
    "bpe_apply_stored" -> ((s, d) => {
      val model = operators.Tokenization.writeBpeModel(s, docs(s, d), nMerges = 8, minFreq = 2L)
      operators.Tokenization.bpeApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    // tokenizer evaluation: BPE pieces per word, per language — the
    // fertility number that sizes per-lang vocab budgets
    "tokenizer_fertility" -> ((s, d) =>
      operators.Tokenization
        .tokenizerFertility(s, docs(s, d), nMerges = 8, minFreq = 2L)
        .orderBy(col("lang"))),
    // latest-wins MERGE of an update batch into the keyed corpus; the
    // partial-aggregating max_by shape, not a window (see Snapshot)
    // group-aware split: the whole source lands in one split (near-dup
    // leakage guard the per-doc content hash can't give)
    "doc_split_grouped" -> ((s, d) =>
      TextOps.splitAssignGrouped(docs(s, d)).orderBy(col("doc_id"))),
    // Zipf rank-frequency slope over the top-40 terms — corpus health
    "text_zipf" -> ((s, d) => TextOps.zipfFit(docs(s, d))),
    // PMI collocations over adjacent token pairs — the phrase detector
    // feeding tokenizer vocab review; min-count floor kills hapax noise
    "text_pmi_bigrams" -> ((s, d) =>
      TextOps.pmiBigrams(docs(s, d)).orderBy(col("w1"), col("w2"))),
    // RAKE keyword phrases: delimiter-free token runs scored by the
    // integer deg/freq word statistic, delimiters df-derived
    "text_rake_keywords" -> ((s, d) => TextOps.rakeKeywords(docs(s, d))),
    // TextRank: integer PageRank over the banded word co-occurrence
    // graph — global-centrality keyword ranking, RAKE's complement
    "text_textrank" -> ((s, d) => TextOps.textrank(docs(s, d))),
    // version-to-version change audit: added/updated/unchanged counts
    // from a null-safe full-outer compare of the two logical states
    "corpus_diff" -> ((s, d) => {
      val (base, updates) = corpusVersionLog(s, d)
      val v2 = base
        .join(updates.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(updates)
        .select(col("doc_id"), col("text"))
      val b = base.select(col("doc_id"), col("text")).alias("b")
      val v = v2.alias("v")
      b.join(v, col("b.doc_id") === col("v.doc_id"), "full_outer")
        .select(
          when(col("b.doc_id").isNull, "added")
            .when(col("v.doc_id").isNull, "removed")
            .when(!(col("b.text") <=> col("v.text")), "updated")
            .otherwise("unchanged")
            .as("change"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("change"))
    }),
    "corpus_upsert" -> ((s, d) => {
      val (base, updates) = corpusVersionLog(s, d)
      operators.Snapshot
        .upsert(base, updates, "doc_id", "version")
        .select(
          col("doc_id"),
          col("version"),
          length(col("text")).cast("long").as("n_chars"),
          col("lang"))
        .orderBy(col("doc_id"))
    }),
    // the same version log as SCD-2 validity intervals (time travel)
    "corpus_scd2" -> ((s, d) => {
      val (base, updates) = corpusVersionLog(s, d)
      operators.Snapshot
        .scd2(base.unionByName(updates), "doc_id", "version")
        .select(
          col("doc_id"),
          col("valid_from"),
          col("valid_to"),
          col("is_current"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("valid_from"))
    }),
    // time travel: interval lookup at v=1 over the SCD-2 history; the
    // oracle replays latest-wins over version <= 1
    "corpus_time_travel" -> ((s, d) => {
      val (base, updates) = corpusVersionLog(s, d)
      operators.Snapshot
        .asOf(operators.Snapshot.scd2(base.unionByName(updates), "doc_id", "version"), v = 1L)
        .select(
          col("doc_id"),
          col("valid_from"),
          length(col("text")).cast("long").as("n_chars"),
          col("lang"))
        .orderBy(col("doc_id"))
    }),
    // delta identity for an aggregated join view: stored base partials
    // + three delta-join terms == the full-join rollup (the oracle)
    "join_agg_incremental" -> ((s, d) =>
      operators.Snapshot
        .joinAggIncremental(s, table(s, d, "orders"), table(s, d, "lineitem"))
        .orderBy(col("o_custkey"))),
    "decontaminate" -> ((s, d) => TextOps.decontaminate(docs(s, d)).orderBy(col("doc_id"))),
    "text_repetition" -> ((s, d) => TextOps.repetition(docs(s, d)).orderBy(col("doc_id"))),
    // self-trained unigram-LM scoring — the perplexity-proxy quality
    // filter; ln rounded per token, position-ordered fold (see TextOps)
    "text_unigram_lm" -> ((s, d) => TextOps.unigramScore(docs(s, d)).orderBy(col("doc_id"))),
    // CCNet head/middle/tail: per-lang LM-score terciles
    "doc_ppl_buckets" -> ((s, d) => TextOps.pplBuckets(docs(s, d)).orderBy(col("doc_id"))),
    // fixed per-lang token budget spent best-LM-fit-first
    "doc_budget_select" -> ((s, d) => TextOps.budgetSelect(docs(s, d)).orderBy(col("doc_id"))),
    // conditional fluency score: add-1-smoothed bigram LM, self-trained
    "text_bigram_lm" -> ((s, d) => TextOps.bigramScore(docs(s, d)).orderBy(col("doc_id"))),
    // interpolated Kneser-Ney bigram fluency: absolute discounting with
    // continuation-count backoff — the production n-gram smoother
    "text_kn_score" -> ((s, d) => TextOps.knScore(docs(s, d)).orderBy(col("doc_id"))),
    // RHO-style learnability: bigram-vs-unigram loss gap per doc
    "doc_excess_loss" -> ((s, d) => TextOps.excessLoss(docs(s, d)).orderBy(col("doc_id"))),
    // per-source distribution drift vs the corpus (KL over observed terms)
    "source_kl_drift" -> ((s, d) => TextOps.sourceKlDrift(docs(s, d)).orderBy(col("source"))),
    // symmetric pairwise JSD between source token distributions — the
    // lexical counterpart of the KMV set-overlap matrix
    "text_jsd_sources" -> ((s, d) =>
      TextOps.jsdSourceMatrix(docs(s, d)).orderBy(col("source_a"), col("source_b"))),
    // deterministic size-weighted corpus subsample (A-Res exponential
    // keys on the shared hash grid); TakeOrdered, never a full sort
    "doc_weighted_sample" -> ((s, d) =>
      TextOps.weightedSample(docs(s, d), k = 100).orderBy(col("doc_id"))),
    // model-as-table serving: the stored vocabulary-sized LM artifact is
    // broadcast-joined, never retrained — no term histogram in the plan
    "lm_apply_stored" -> ((s, d) => {
      val model = TextOps.writeLmModel(s, docs(s, d))
      TextOps.lmApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    // stratified form: an independent bounded-heap k-sample per source
    "doc_weighted_sample_grouped" -> ((s, d) =>
      TextOps.weightedSampleGrouped(docs(s, d), kPerGroup = 10)
        .orderBy(col("source"), col("rank"))),
    // Gopher heuristic filter stack: 7 integer-exact per-doc rules + pass
    "text_gopher_rules" -> ((s, d) => TextOps.gopherRules(docs(s, d)).orderBy(col("doc_id"))),
    // DSIR importance weights: hashed-bucket target/raw llr, self-trained
    "doc_dsir_weights" -> ((s, d) => TextOps.dsirWeights(docs(s, d)).orderBy(col("doc_id"))),
    // Gumbel-top-k sampling ∝ exp(llr) — the DSIR selection itself
    "doc_dsir_select" -> ((s, d) => TextOps.dsirSelect(docs(s, d)).orderBy(col("doc_id"))),
    // serving over the stored 16-row llr artifact: one corpus scan,
    // no target-label pass (plan-pinned)
    "doc_dsir_stored" -> ((s, d) => {
      val model = TextOps.writeDsirModel(s, docs(s, d))
      TextOps.dsirApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    "ann_recall" -> ((s, d) =>
      Similarity.lshRecall(embs(s, d), nQueries = 50, k = 3).orderBy(col("q_id"))),
    // measured recall@k of the TRAINED IVF at two probe widths — the
    // table that makes nProbe a measured cost/recall trade, not a guess
    "ann_ivf_recall" -> ((s, d) =>
      Similarity.ivfRecall(embs(s, d), nQueries = 50, k = 3, nProbes = Seq(1, 3))
        .orderBy(col("n_probe"), col("q_id"))),
    // measured recall of ranking in the 16-dim random projection of the
    // 64-dim space — the dimensionality-reduction cost, quantified
    "ann_rp_recall" -> ((s, d) =>
      Similarity.rpRecall(embs(s, d), nQueries = 50, k = 3).orderBy(col("q_id"))),
    // 1-bit binary quantization: XOR+popcount Hamming scan over 16-byte
    // codes, exact rerank of 20 — measured recall of 32× compression
    "ann_bq_recall" -> ((s, d) =>
      Similarity.bqRecall(embs(s, d), nQueries = 50, k = 3).orderBy(col("q_id"))),
    // external-query serving through the 1-bit index: sign words folded
    // in as literals, 16-byte scan, exact rerank of 20
    "ann_bq_query" -> ((s, d) =>
      Similarity.bqQuery(embs(s, d), AnnQueryVec).orderBy(col("rank"))),
    // coreset apply half: per-exemplar cluster census (count + radius)
    "emb_kcenter_assign" -> ((s, d) =>
      Similarity.kcenterAssign(embs(s, d)).orderBy(col("rank"))),
    // the stateful sessionizer pushed through the streaming engine
    // (flatMapGroupsWithState + state store); shares the batch oracle
    "events_stream_sessionize" -> ((s, d) =>
      streaming.StreamOps.sessionizeOverParquet(s, d, gapMinutes = 30)
        .orderBy(col("user_id"), col("session_id"))),
    // streaming dropDuplicates state chained into a distinct count
    "events_stream_dedup" -> ((s, d) =>
      streaming.StreamOps.dedupOverParquet(s, d).orderBy(col("event_type"))),
    // the bounded-state (dropDuplicatesWithinWatermark) form — the one
    // that survives an unbounded firehose; same batch oracle
    "events_stream_dedup_ww" -> ((s, d) =>
      streaming.StreamOps.dedupWithinWatermarkOverParquet(s, d).orderBy(col("event_type"))),
    // stream-stream interval join (watermarked state-store join on both
    // sides); oracle = the same interval join over the static table
    "events_stream_join" -> ((s, d) =>
      streaming.StreamOps.intervalJoinOverParquet(s, d).orderBy(col("p_id"), col("c_id"))),
    // LEFT-OUTER stream-stream join: null-matches emitted on watermark
    // expiry (sentinel-driven on the bounded file); oracle = static
    // LEFT JOIN with the same interval condition
    "events_stream_join_outer" -> ((s, d) =>
      streaming.StreamOps.intervalJoinOuterOverParquet(s, d)
        .orderBy(col("p_id"), col("c_id"))),
    // stream-static enrichment join (broadcast dimension probed per
    // micro-batch, zero stream-side state) + windowed agg per segment
    "events_stream_enrich" -> ((s, d) =>
      streaming.StreamOps.enrichedTumblingOverParquet(s, d)
        .orderBy(col("ws"), col("c_mktsegment"))),
    // streaming anomaly gate: arriving events probed against static
    // Tukey fences (broadcast), per-type outlier counts — O(1)/event
    "events_stream_anomaly" -> ((s, d) =>
      streaming.StreamOps.anomalyIngestOverParquet(s, d, firstNewId = EventStreamFirstNew)
        .orderBy(col("event_type"))),
    // per-user running totals via transformWithState (arbitrary-state
    // v2: typed ValueState in the RocksDB store, declarative TTL)
    "events_stream_user_totals" -> ((s, d) =>
      streaming.StreamOps.userTotalsOverParquet(s, d).orderBy(col("user_id"))),
    // recency-weighted engagement: halve per elapsed day (exact powers
    // of two), fold in event-time order — custom decayed state
    "events_stream_decay" -> ((s, d) =>
      streaming.StreamOps.userDecayOverParquet(s, d).orderBy(col("user_id"))),
    // streaming CDC: per-key two-slot latest-event state, churn report
    // as the serving readout; shares the batch events_cdc_diff oracle
    "events_stream_cdc" -> ((s, d) =>
      streaming.StreamOps.cdcOverParquet(s, d).orderBy(col("op"))),
    // streaming next-fit packing: the batch fold's (fill, bins, waste)
    // as per-shard state; shares the batch docs_pack_nextfit oracle
    "docs_stream_pack" -> ((s, d) =>
      streaming.StreamOps.packOverParquet(s, d).orderBy(col("shard"))),
    // streaming quantiles: the additive bin histogram IS the bounded
    // stream state; p50/p95 extracted from the sink
    "events_stream_quantiles" -> ((s, d) =>
      streaming.StreamOps.quantilesBinnedOverParquet(s, d).orderBy(col("event_type"))),
    // streaming PSI gate: stored reference histogram vs the arrivals'
    // streaming bin counts; shares the batch events_psi oracle
    "events_stream_psi" -> ((s, d) =>
      streaming.StreamOps.psiGateOverParquet(s, d).orderBy(col("event_type"))),
    // streaming CUSUM: O(1)-state per-type changepoint fold over
    // arrivals; shares the batch events_cusum oracle
    "events_stream_cusum" -> ((s, d) =>
      streaming.StreamOps.cusumGateOverParquet(s, d).orderBy(col("event_type"))),
    // streaming seasonality: the additive (type, hour) histogram IS the
    // bounded stream state; shares the batch oracle
    "events_stream_seasonality" -> ((s, d) =>
      streaming.StreamOps.seasonalityOverParquet(s, d)
        .orderBy(col("event_type"), col("hour"))),
    // per-user strict funnel via transformWithState ListState: the event
    // log IS the state (incremental min-tuples are wrong under
    // out-of-order arrival), recomputed per batch
    "events_stream_funnel" -> ((s, d) =>
      streaming.StreamOps.funnelOverParquet(s, d).orderBy(col("user_id"))),
    // dedup-on-arrival: incoming doc stream anti-joined to the static
    // fingerprint store (stream-static LEFT ANTI through the real engine)
    "docs_stream_dedup_static" -> ((s, d) =>
      streaming.StreamOps.docDedupOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // chunk-level dedup-on-arrival: arriving docs CDC-chunked array-side
    // (no windows in a streaming plan), chunks anti-probed against the
    // static chunk store — the per-batch "bytes of new content" meter
    "docs_stream_cdc_static" -> ((s, d) =>
      streaming.StreamOps.docCdcGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // per-source admission quota at ingest: stateful counter admits the
    // first K per source, O(|sources|) state
    "docs_stream_domain_cap" -> ((s, d) =>
      streaming.StreamOps.domainCapGateOverParquet(s, d).orderBy(col("source"))),
    // quality-gate-on-arrival: the stored hashed-feature classifier
    // scores each arriving doc as one stateless array fold
    "docs_stream_quality_static" -> ((s, d) =>
      streaming.StreamOps.docQualityGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // the same gate terminated in a DURABLE parquet table: foreachBatch
    // writes per-batch partitions under dynamic overwrite (replay-
    // idempotent = exactly-once), the gate readout rolls the table up
    "docs_stream_quality_sink" -> ((s, d) =>
      streaming.StreamOps.docQualityGateSinkOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // importance sampling at ingest: static DSIR model, stateless fold,
    // per-source selected-count rollup
    "docs_stream_dsir_static" -> ((s, d) =>
      streaming.StreamOps.docDsirGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // rule-battery ingest gate: stateless integer predicates, the
    // first stage of the gate stack (no model at all)
    "docs_stream_gopher_static" -> ((s, d) =>
      streaming.StreamOps.docGopherGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // decontamination-on-arrival: arriving docs' shingles semi-joined
    // (stateless stream-static) to the static benchmark-shingle store;
    // output = contaminated arrivals with benchmark-overlap counts
    "docs_stream_decontam_static" -> ((s, d) =>
      streaming.StreamOps.docDecontamGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"))),
    // near-dup-on-arrival for the binary media column: arriving payloads'
    // pHash bands probe the static band store (stream-static, bucket-
    // keyed); exact Hamming verify, best static match per flagged arrival
    "docs_stream_phash_static" -> ((s, d) =>
      streaming.StreamOps.docPhashGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"))),
    // landmark-match-on-arrival: stateless constellation hashes probe
    // the capped static fingerprint store; offset-consistent vote
    "docs_stream_audio_static" -> ((s, d) =>
      streaming.StreamOps.docAudioMatchGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"), col("s_id"), col("off"))),
    // frame-overlap-on-arrival: arriving payloads' sampled-frame hashes
    // probe the static frame store; k-of-n voting per (arrival, static)
    "docs_stream_frame_static" -> ((s, d) =>
      streaming.StreamOps.docFrameGateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"), col("s_id"))),
    // index-maintenance-on-arrival: arrivals extend the stored MinHash
    // band index — stateless signature + band map per arrival, store
    // bucket-occupancy annotated via one broadcast probe; output = the
    // delta a maintainer unions into the served index
    "docs_stream_minhash_upsert" -> ((s, d) =>
      streaming.StreamOps.minhashUpsertOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"), col("band_idx"))),
    // the Hamming-family twin: arrivals extend the stored SimHash
    // chunk index, same stateless map + broadcast occupancy probe
    "docs_stream_simhash_upsert" -> ((s, d) =>
      streaming.StreamOps.simhashUpsertOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // the media-column member: arrivals extend the stored banded
    // pHash index; occupancy probed against the capped store
    "docs_stream_phash_upsert" -> ((s, d) =>
      streaming.StreamOps.phashUpsertOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("doc_id"), col("band_idx"))),
    // relevance-on-arrival: the stored BM25 index scores arriving docs
    // as one stateless projection (model folded in as literals)
    "docs_stream_bm25_static" -> ((s, d) =>
      streaming.StreamOps.docBm25GateOverParquet(s, d, firstNewId = 400L)
        .orderBy(col("source"))),
    // online ANN ingest: arriving embeddings streamed against the static
    // trained IVF index (stateless cell assignment + stream-static
    // cid-keyed probe of the inverted lists, argmax per arrival)
    "emb_stream_ivf_static" -> ((s, d) =>
      streaming.StreamOps
        .embIvfIngestOverParquet(s, d, firstNewId = EmbStreamFirstNew, nProbe = 2)
        .orderBy(col("q_id"))),
    // the vector-side index upsert: arrivals extend the stored
    // inverted lists, quantizer never re-trained stream-side
    "emb_stream_ivf_upsert" -> ((s, d) =>
      streaming.StreamOps
        .embIvfUpsertOverParquet(s, d, firstNewId = EmbStreamFirstNew)
        .orderBy(col("vec_id"))),
    // streaming landmark maintenance: arriving edges extend the static
    // landmark table one hop (new node u gets min over its arriving
    // edges of d(L, v) + 1) — stream-static anti probe + table probe
    "graph_stream_landmark" -> ((s, d) =>
      streaming.StreamOps
        .landmarkExtendOverParquet(s, d, nLandmarks = 8, rounds = 4)
        .orderBy(col("id"), col("landmark"))),
    // one-pass second moments (typed aggregator, d²-long buffer) →
    // upper-triangular covariance of the embedding components
    "emb_covariance" -> ((s, d) =>
      operators.LinAlg.covariance(model.table(s, d, "embeddings"))
        .orderBy(col("i"), col("j"))),
    // per-dim μ/σ standardization table: one scan, 129 integer sums,
    // no explode
    "emb_dim_stats" -> ((s, d) =>
      operators.LinAlg.dimStats(model.table(s, d, "embeddings")).orderBy(col("dim"))),
    // top principal component by power iteration on the same one-pass
    // statistics; the 64×64 eigensolve is driver-side by design
    "emb_pca_power" -> ((s, d) =>
      operators.LinAlg.pcaPower(model.table(s, d, "embeddings"))),
    // the apply half: every embedding's score along the top component —
    // one narrow codegen'd dot-product map, centering folded into a scalar
    "emb_pca_project" -> ((s, d) =>
      operators.LinAlg.pcaProject(model.table(s, d, "embeddings"))
        .orderBy(col("vec_id"))),
    // closed-form OLS: one pass of integer sufficient statistics,
    // Cramer solve on the aggregated row
    "train_linreg" -> ((s, d) =>
      operators.Training.linregNormal(model.table(s, d, "lineitem"))),
    // split conformal prediction: calibrated 90% interval half-width
    // (exact integer order statistic via distributed rank) + measured
    // held-out coverage — the distribution-free uncertainty eval
    "train_conformal" -> ((s, d) =>
      operators.Training.conformalInterval(model.table(s, d, "lineitem"))),
    // Cook's distance: closed-form OLS influence — the exact
    // data-attribution readout (top-20 points whose removal moves the
    // model most)
    "train_cooks_distance" -> ((s, d) =>
      operators.Training.cooksDistance(model.table(s, d, "lineitem"))),
    // pass@k in the unbiased product form (Chen et al. 2021): tasks =
    // event types, deterministic first-50 sample, value > 80 passes
    "eval_pass_at_k" -> ((s, d) =>
      operators.Training.passAtK(events(s, d)).orderBy(col("event_type"))),
    // Bradley–Terry strengths by Hunter's MM over adjacent-event
    // preferences — the arena-leaderboard fit, k²-bounded iteration
    "train_bradley_terry" -> ((s, d) =>
      operators.Training.bradleyTerry(events(s, d)).orderBy(col("rnk"))),
    // linear CKA between two embedding blocks: the representation-
    // similarity statistic, one moments pass + O(d²) driver arithmetic
    "emb_cka" -> ((s, d) => operators.LinAlg.cka(embs(s, d))),
    // full-batch logistic regression, 3 synchronous GD rounds, integer
    // micro-unit weights and gradients (no libm anywhere)
    "train_logreg" -> ((s, d) =>
      operators.Training.logregGd(docs(s, d), iters = 3)),
    // train-once/apply-many for the quality model: score every doc with
    // the STORED weights+means artifact — pure integer serving, no
    // training stage in the plan
    "train_logreg_stored" -> ((s, d) => {
      val model = operators.Training.writeLogregModel(s, docs(s, d), iters = 3)
      operators.Training.logregApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    // fastText-style classifier: hashed bag-of-tokens buckets as the
    // fixed-width feature space, same integer-GD discipline
    "train_fasttext" -> ((s, d) =>
      operators.Training.fasttextGd(docs(s, d))),
    "train_fasttext_stored" -> ((s, d) => {
      val model = operators.Training.writeFasttextModel(s, docs(s, d))
      operators.Training.fasttextApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    // multinomial naive Bayes (lang from tokens): the one-pass closed-form
    // trainer — the model IS an aggregation; argmax serving per class
    "train_nb" -> ((s, d) =>
      operators.Training.naiveBayes(docs(s, d)).orderBy(col("doc_id"))),
    "train_nb_stored" -> ((s, d) => {
      val model = operators.Training.writeNbModel(s, docs(s, d))
      operators.Training.naiveBayesApplyStored(s, docs(s, d), model).orderBy(col("doc_id"))
    }),
    // deterministic KMV cardinality sketch next to its exact answer
    "sketch_kmv_shingles" -> ((s, d) =>
      operators.Sketches.kmvDistinctShingles(docs(s, d))),
    // one-scan Poisson-bootstrap CI for mean tokens/doc (B=32 resamples)
    "metric_bootstrap_ci" -> ((s, d) =>
      operators.Sketches.bootstrapTokensCi(docs(s, d))),
    // grouped KMV: per-source distinct-token estimate next to exact
    "sketch_kmv_per_source" -> ((s, d) =>
      operators.Sketches.kmvPerSource(docs(s, d)).orderBy(col("source"))),
    // cross-source Jaccard from mergeable KMV sketches (pairwise from
    // k-row sketches only; exact column rides along for eval)
    "sketch_kmv_jaccard" -> ((s, d) =>
      operators.Sketches.kmvJaccardMatrix(docs(s, d))
        .orderBy(col("source_a"), col("source_b"))),
    // HLL registers: m-cell max-merge distinct estimate, no pre-distinct
    "sketch_hll_per_source" -> ((s, d) =>
      operators.Sketches.hllPerSource(docs(s, d)).orderBy(col("source"))),
    // one-pass per-column profile: unpivot + nulls/exact-distinct/HLL
    "profile_table" -> ((s, d) =>
      operators.Sketches.profileLineitem(model.table(s, d, "lineitem"))
        .orderBy(col("column"))),
    // count-min sketch point estimates next to the exact heavy hitters
    "sketch_cms_tokens" -> ((s, d) =>
      operators.Sketches.cmsHeavyHitters(docs(s, d)).orderBy(col("token"))),
    // measured Bloom false-positive rate vs the textbook prediction —
    // calibrating the filter bloom_semi_join builds
    "sketch_bloom_fpp" -> ((s, d) =>
      operators.Sketches.bloomFpp(model.table(s, d, "orders"))),
    // CMS join-cardinality estimate vs the exact join count — the
    // optimizer's join-sizing read; the two relations never meet except
    // in the measured-exact column
    "join_size_cms" -> ((s, d) =>
      operators.Sketches.joinSizeCms(
        model.table(s, d, "orders"),
        model.table(s, d, "lineitem"))),
    // equi-width-histogram range selectivity vs the exact count — the
    // optimizer's filter-sizing read, integer milli-row interpolation
    "opt_selectivity_hist" -> ((s, d) =>
      operators.Sketches.selectivityHist(model.table(s, d, "orders"))),
    // KMV group-count estimate vs exact count-distinct — the
    // optimizer's aggregate-sizing read, exact below k by construction
    "opt_groupby_card" -> ((s, d) =>
      operators.Sketches.groupByCardKmv(model.table(s, d, "orders"))),
    // the decision the statistics exist for: System-R first-join choice
    // over the 3-table chain, estimate vs exact (counted, never
    // materialized) candidate sizes, minimum marked
    "opt_join_order" -> ((s, d) =>
      operators.Sketches.joinOrderChoice(
        model.table(s, d, "customer"),
        model.table(s, d, "orders"),
        model.table(s, d, "lineitem")).orderBy(col("first_join"))),
    // sequence packing, concat-then-chunk: boundary cuts vs zero pad
    "docs_seq_pack" -> ((s, d) =>
      operators.Packing.seqPack(docs(s, d)).orderBy(col("shard"))),
    // sequence packing, no-split next-fit: pad waste vs zero cuts
    "docs_pack_nextfit" -> ((s, d) =>
      operators.Packing.packNextFit(docs(s, d)).orderBy(col("shard"))),
    // best-fit-decreasing: the offline 11/9-OPT packing — the waste
    // delta vs next-fit decides whether the sort is worth it
    "docs_pack_bestfit" -> ((s, d) =>
      operators.Packing.packBestFit(docs(s, d)).orderBy(col("shard"))),
    // cross-document attention mass of the two no-split packings — the
    // fraction that decides whether packed pretraining needs masking
    "docs_pack_xdoc" -> ((s, d) => operators.Packing.packXdoc(docs(s, d))),
    // CDC snapshot diff off the append log: insert/update/unchanged
    // churn classification between two as-of states
    "events_cdc_diff" -> ((s, d) =>
      EventOps.cdcDiff(events(s, d)).orderBy(col("op"))),
    // span-level exact-substring dedup (duplicated 3-gram runs)
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.dupSpans(docs(s, d)).orderBy(col("doc_id"), col("span_start"))),
    // per-doc duplicated-token fraction (the curation threshold scalar)
    "dedup_dup_ratio" -> ((s, d) =>
      Dedup.dupTokenRatio(docs(s, d)).orderBy(col("doc_id"))),
    // content-defined chunking dedup: rolling-hash cut points, global
    // chunk-level dup accounting — "how many tokens of this corpus are new"
    "dedup_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunks(docs(s, d)).orderBy(col("doc_id"))),
    // entity-resolution candidates: blocking key + levenshtein verify,
    // per-block work capped — never the |R|² cross product
    "er_blocked_pairs" -> ((s, d) =>
      Dedup.erBlockedPairs(model.table(s, d, "customer"))
        .orderBy(col("cust_a"), col("cust_b"))),
    // ER completed into entities: transitive closure of the verified
    // pairs, singleton-aware, canonical = component minimum
    "er_clusters" -> ((s, d) =>
      Dedup.erClusters(model.table(s, d, "customer")).orderBy(col("id"))),
    // Fellegi-Sunter agreement-pattern lift: observed vs chance-model
    // pattern counts over capped blocks, all-integer ppm
    "er_agreement_lift" -> ((s, d) =>
      Dedup.erAgreementLift(model.table(s, d, "customer"))
        .orderBy(col("seg_eq").desc, col("band_eq").desc)),
    // chi-squared independence of segment × nation, micro-unit cell terms
    "stats_chi2" -> ((s, d) =>
      operators.Stats.chi2Independence(model.table(s, d, "customer"))),
    // mutual information / variation of information of type × hour,
    // nano-nat cell terms — the information-theoretic association read
    "stats_mutual_info" -> ((s, d) => operators.Stats.mutualInfo(events(s, d))),
    // one-way ANOVA of value across types: F + eta² — the
    // numeric-across-groups cell of the association battery
    "stats_anova" -> ((s, d) => operators.Stats.anovaOneWay(events(s, d))),
    // Pearson matrix in exact decimal/HUGEINT sums — no float accumulation
    "stats_corr_matrix" -> ((s, d) =>
      operators.Stats.corrMatrix(model.table(s, d, "lineitem")).orderBy(col("pair"))),
    // Benford first-digit conformance in exact ppm
    "audit_benford" -> ((s, d) =>
      operators.Stats.benfordAudit(model.table(s, d, "orders")).orderBy(col("digit"))),
    // RFM quintile segmentation rolled to the segment cube
    "orders_rfm_segments" -> ((s, d) =>
      operators.Stats.rfmSegments(model.table(s, d, "orders"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))),
    // ABC/Pareto revenue classes off the deterministic running share
    "lineitem_abc" -> ((s, d) =>
      operators.Stats.abcAnalysis(model.table(s, d, "lineitem")).orderBy(col("cls"))),
    // market-basket pair rules: support/confidence/lift in exact ppm,
    // pair join keyed on the order — never all-pairs over parts
    "orders_basket_rules" -> ((s, d) =>
      operators.Stats.basketRules(model.table(s, d, "lineitem"))
        .orderBy(col("part_a"), col("part_b"))),
    // Gini concentration of part revenue — the exact-integer rank formula
    "lineitem_gini" -> ((s, d) =>
      operators.Stats.giniRevenue(model.table(s, d, "lineitem"))),
    // basket-size histogram: the |items|^2 cost table behind BasketCap
    "orders_basket_sizes" -> ((s, d) =>
      operators.Stats.basketSizeDist(model.table(s, d, "lineitem"))
        .orderBy(col("basket_size"))),
    // cohort LTV triangle: first-order-month cohorts x month offsets
    "orders_cohort_ltv" -> ((s, d) =>
      operators.Stats.cohortLtv(model.table(s, d, "orders"))
        .orderBy(col("cohort_month"), col("month_offset"))),
    // hour-of-day traffic fingerprint per type, exact ppm shares
    "events_seasonality" -> ((s, d) =>
      EventOps.seasonality(events(s, d)).orderBy(col("event_type"), col("hour"))),
    // inter-arrival burstiness B = (sigma-mu)/(sigma+mu) per type
    "events_burstiness" -> ((s, d) =>
      EventOps.burstiness(events(s, d)).orderBy(col("event_type"))),
    // event-time lateness vs arrival order: the watermark-delay design
    // histogram (what would withWatermark(d) drop?), two-level prefix max
    "events_lateness_audit" -> ((s, d) =>
      EventOps.latenessAudit(events(s, d)).orderBy(col("channel"))),
    // Hill tail-index plot at k=50/100/200: the heavy-tail diagnostic
    // for a value column, bounded top-k order statistics only
    "events_hill_tail" -> ((s, d) =>
      EventOps.hillTail(events(s, d)).orderBy(col("k"))),
    // categorical mix drift: exact-ppm TV distance + chi2 homogeneity
    "events_type_mix_drift" -> ((s, d) => EventOps.typeMixDrift(events(s, d))),
    // behavioral diversity: per-user type-entropy, quarter-nat buckets
    "events_user_entropy" -> ((s, d) =>
      EventOps.userEntropyProfile(events(s, d)).orderBy(col("ent_bucket"))),
    // Heaps vocabulary-growth curve over doc_id-ordered deciles
    "text_heaps_curve" -> ((s, d) =>
      TextOps.heapsCurve(docs(s, d)).orderBy(col("bucket"))),
    // co-located join: both sides staged through bucketed managed tables
    // on the join key — the executed plan has no shuffle exchange before
    // the sort-merge join (asserted in BucketingSpec); the oracle reads
    // the original parquet, so bucketing must not change the answer
    "bucketed_join" -> ((s, d) => {
      val o = sources.TabularIO.bucketed(
        s,
        table(s, d, "orders").select(
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice")),
        "o_custkey",
        nBuckets = 8)
      val c = sources.TabularIO.bucketed(
        s,
        table(s, d, "customer").select(
          col("c_custkey").cast("long").as("c_custkey"),
          col("c_mktsegment")),
        "c_custkey",
        nBuckets = 8)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    // Bloom-prefiltered exact semi-join: the fact side filters through a
    // broadcast Bloom sketch of the selective dim keys BEFORE its
    // exchange (might_contain pinned in PlanAuditSpec); the exact semi
    // join removes the sketch's false positives, so the oracle is the
    // plain semi join — the sketch changes shuffle volume, not answers
    "bloom_semi_join" -> ((s, d) => {
      val highValue = table(s, d, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").cast("long").as("o_orderkey"))
      BloomJoin
        .semiJoin(
          table(s, d, "lineitem")
            .select(col("l_orderkey").cast("long").as("l_orderkey"), col("l_returnflag"), col("l_quantity")),
          highValue,
          "l_orderkey",
          "o_orderkey",
          expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),
    // Yannakakis semi-join reduction (Yannakakis 1981) on the acyclic
    // customer->orders->lineitem chain: leaf-to-root then root-to-leaf
    // semi passes shrink every relation to exactly the rows that
    // survive the full join BEFORE any join runs — the audit reports
    // per-relation before/after rows plus the (invariant) join count.
    // At 100 TB this is the difference between shuffling 20M lineitem
    // rows and shuffling the 558 that matter.
    "join_yannakakis" -> ((s, d) => {
      val c0 = operators.Phys.materialized(
        table(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
      val o0 = operators.Phys.materialized(
        table(s, d, "orders")
          .filter(
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")))
      val l0 = operators.Phys.materialized(
        table(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")))
      val o1 = o0.join(c0, col("o_custkey") === col("c_custkey"), "left_semi")
      val o2 = operators.Phys.materialized(
        o1.join(l0, col("o_orderkey") === col("l_orderkey"), "left_semi"))
      val l1 = l0.join(o2, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val c1 = c0.join(o2, col("c_custkey") === col("o_custkey"), "left_semi")
      val jr = c0
        .join(o0, col("o_custkey") === col("c_custkey"))
        .join(l0, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      def cnt(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))
      def row(rel: String, before: DataFrame, after: DataFrame): DataFrame =
        before
          .select(col("n").as("n_before"))
          .crossJoin(broadcast(after.select(col("n").as("n_after"))))
          .select(lit(rel).as("rel"), col("n_before"), col("n_after"))
      row("customer", cnt(c0), cnt(c1))
        .unionByName(row("orders", cnt(o0), cnt(o2)))
        .unionByName(row("lineitem", cnt(l0), cnt(l1)))
        .unionByName(row("join_result", jr, jr))
        .orderBy(col("rel"))
    }),
    // Z-order layout: lineitem staged in a Morton-curve-clustered layout
    // (per-file bounding boxes pinned in LayoutSpec), box-aggregated on
    // read-back; the oracle runs the same box over the original table —
    // layout must change scan cost, never answers
    "zorder_box_agg" -> ((s, d) => Layout.zorderBoxAgg(s, d)),
    // the Z-curve itself as data: bit-interleave expression vs the
    // oracle's term-for-term arithmetic mirror
    "zorder_curve" -> ((s, d) => Layout.zcurveHistogram(s, d).orderBy(col("z_bucket"))),
    // the jump-free space-filling curve next to Z: codegen'd rotation
    // loop vs the oracle's chained-CTE re-derivation
    "hilbert_curve" -> ((s, d) => Layout.hilbertHistogram(s, d).orderBy(col("h_bucket"))),
    // explicit GROUPING SETS beyond rollup/cube: both single-dimension
    // groupings computed in one pass over the fact table
    "grouping_sets_agg" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"),
          col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),
    // hive-partitioned staging: the lang filter prunes whole directories
    // (PartitionFilters, asserted in PlanAuditSpec); oracle reads the
    // original parquet so the round-trip must be lossless.
    // Bench note: the staged WRITE is deliberately inside the timed
    // region — the round-trip IS the operator under test (r4's ~0.9 s
    // uptick vs r3 is the per-query staging cleanup forcing a cold
    // re-stage each run, accepted as honest cost, not a plan regression)
    "partitioned_source_agg" -> ((s, d) => {
      val staged = sources.TabularIO.partitionedRoundTrip(
        s,
        docs(s, d).select(col("doc_id"), length(col("text")).cast("long").as("n_chars"), col("lang")),
        "lang")
      staged
        .filter(col("lang").isin("en", "es"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),
    // Spark's NATIVE session-window operator (session_window merges
    // events closer than the gap; a gap-equal event starts a new session
    // — note the >= vs the manual sessionize's > rule, mirrored in the
    // oracle)
    "events_session_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("session_start"))
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"),
          col("sum_value"))
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("session_start"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),
    // range join against a tiny literal band dimension (broadcast): the
    // non-equi-join shape for histogram/banding at any fact-table scale
    "range_band_join" -> ((s, d) => {
      val bands = s.range(0, 6).select(
        col("id").as("band"),
        (col("id") * 100000).cast("double").as("lo"),
        ((col("id") + 1) * 100000).cast("double").as("hi"))
      table(s, d, "orders")
        .select(col("o_totalprice").cast("double").as("p"))
        .join(broadcast(bands), col("p") >= col("lo") && col("p") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("p")), 2).as("sum_price"))
        .orderBy(col("band"))
    }),
    "doc_split" -> ((s, d) => TextOps.splitAssign(docs(s, d)).orderBy(col("doc_id"))),
    // train->eval shingle-leakage report over the content-hash split
    "split_leakage" -> ((s, d) => TextOps.splitLeakage(docs(s, d)).orderBy(col("doc_id"))),
    // keep each source's top half by quality score (median gate)
    "doc_quality_filter" -> ((s, d) =>
      TextOps.qualityFilter(docs(s, d)).orderBy(col("source"), col("rn"))),
    "doc_split_stats" -> ((s, d) =>
      TextOps.splitStats(docs(s, d)).orderBy(col("split"), col("lang"))),
    "text_length_hist" -> ((s, d) =>
      TextOps.lengthHistogram(docs(s, d)).orderBy(col("bucket"))),
    "events_dedup" -> ((s, d) =>
      EventOps.dedupStats(events(s, d)).orderBy(col("event_type"))),
    "degree_hist" -> ((s, d) =>
      GraphOps.degreeHistogram(GraphSource.lineitemEdges(s, d))
        .orderBy(col("side"), col("deg"))),
    // power-law MLE over the undirected degree histogram: the one-number
    // scale-free-tail diagnostic (salting territory vs thin tails)
    "graph_powerlaw_fit" -> ((s, d) =>
      GraphOps.powerlawFit(GraphSource.lineitemEdges(s, d))),
    // directed reciprocity in exact ppm: symmetrize-or-not diagnostic
    "graph_reciprocity" -> ((s, d) =>
      GraphOps.reciprocity(GraphSource.lineitemEdges(s, d))),
    // the end-to-end curation decision: exact-dedup canonical ∧ quality
    // floor ∧ predicted language — the keep/drop table a training-data
    // pipeline materializes, composed purely from the operators above
    "pipeline_curate" -> ((s, d) => {
      // min-agg + join, NOT a window over partitionBy(text): the
      // aggregate partial-combines map-side, so a duplicate-heavy key
      // (millions of copies of one boilerplate doc at 100 TB) reaches
      // the exchange as one row per partition — a window would sort
      // every duplicate on a single reducer
      val minPerText = docs(s, d)
        .groupBy(col("text").as("t"))
        .agg(min(col("doc_id")).as("min_id"))
      // null-safe join key: groupBy keeps a null-text group, and a plain
      // equi-join would silently drop those rows (the oracle keeps them)
      val canon = docs(s, d)
        .join(minPerText, col("text") <=> col("t"))
        .select(col("doc_id"), (col("doc_id") === col("min_id")).as("is_canonical"))
      val q = TextOps.quality(docs(s, d)).select(col("doc_id"), col("quality"))
      val l = TextOps.langId(docs(s, d)).select(col("doc_id"), col("pred_lang"))
      canon
        .join(q, Seq("doc_id"))
        .join(l, Seq("doc_id"))
        .select(
          col("doc_id"),
          col("is_canonical"),
          col("quality"),
          col("pred_lang"),
          (col("is_canonical") && col("quality") >= 0.5 && col("pred_lang") === "en").as("kept"))
        .orderBy(col("doc_id"))
    }),
    // The whole pipeline, composed: curate (canonical-dedup + quality +
    // language gate) → chunk into training windows → pack into
    // fixed-capacity bins → deterministic sharded shuffle. Each stage is
    // the already-verified operator; this row is the artifact a 100 TB
    // pipeline actually ships — the final training-example table. The
    // chunked example set is materialized ONCE and fans into pack and
    // shuffle (both keyed), so the composition adds no exchange beyond
    // the component stages' own (pinned in PlanAuditSpec).
    "pipeline_e2e" -> ((s, d) => {
      val all = docs(s, d)
      // canonical = min doc_id per text; min-agg + null-safe join, same
      // scale rationale as pipeline_curate above
      val minPerText = all
        .groupBy(col("text").as("t"))
        .agg(min(col("doc_id")).as("min_id"))
      val canon = all
        .join(minPerText, col("text") <=> col("t"))
        .filter(col("doc_id") === col("min_id"))
        .select(col("doc_id"), col("text"), col("lang"))
      val q = TextOps.quality(all).select(col("doc_id"), col("quality"))
      val l = TextOps.langId(all).select(col("doc_id"), col("pred_lang"))
      val kept = canon
        .join(q, Seq("doc_id"))
        .join(l, Seq("doc_id"))
        .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
        .select(col("doc_id"), col("text"), col("lang"))
      // chunk → one example per training window; example_id packs
      // (doc, chunk) into one key (chunk_idx < 10000 ⇔ docs < 1.5 MB —
      // comfortably above any web-corpus page; a longer doc would need
      // a wider multiplier, not a different design)
      val ex = operators.Phys.materialized(
        TextOps.chunk(kept)
          .join(kept.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(
            (col("doc_id") * lit(10000L) + col("chunk_idx")).as("doc_id"),
            col("chunk").as("text"),
            col("lang")))
      val packed = TextOps.pack(ex, binTokens = 512L)
      val shuffled = TextOps.shuffleShards(ex)
      packed
        .join(shuffled, Seq("doc_id"))
        .select(
          col("doc_id").as("example_id"),
          col("lang"),
          col("n_tokens"),
          col("bin"),
          col("offset"),
          col("shard"),
          col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),
    // referential-integrity audit over every FK edge of the star schema
    "dq_referential" -> ((s, d) =>
      operators.Quality.referentialAudit(
        Map(
          "lineitem" -> table(s, d, "lineitem"),
          "orders" -> table(s, d, "orders"),
          "part" -> table(s, d, "part"),
          "supplier" -> table(s, d, "supplier"),
          "customer" -> table(s, d, "customer"),
          "nation" -> table(s, d, "nation"),
          "region" -> table(s, d, "region"))).orderBy(col("rel"))),
    // declarative expectation suite: null/domain/range/uniqueness per ppm
    "dq_expectations" -> ((s, d) =>
      operators.Quality.expectationsAudit(table(s, d, "orders"), table(s, d, "lineitem"))
        .orderBy(col("expectation"))),
    // l-diversity over the k-anonymity QI groups (homogeneity-attack flag)
    "pii_l_diversity" -> ((s, d) =>
      operators.Quality.lDiversity(table(s, d, "customer"))
        .orderBy(col("c_nationkey"), col("bal_band"))),
    // ε-DP geometric-mechanism release of per-nation counts: literal
    // inverse-CDF noise table shared verbatim by both engines
    "pii_dp_counts" -> ((s, d) =>
      operators.Quality.dpCounts(table(s, d, "customer")).orderBy(col("c_nationkey"))),
    // incremental-maintenance identity: stored base partials + delta merge
    // ≡ full rollup (the oracle computes the full side)
    "corpus_agg_incremental" -> ((s, d) =>
      operators.Quality.aggIncremental(s, docs(s, d)).orderBy(col("source"))),
    // DP sensitivity pre-flight: max single-user contribution per stat
    "pii_sensitivity" -> ((s, d) =>
      operators.Quality.sensitivityReport(events(s, d)).orderBy(col("event_type"))),
    // greedy longest-match subword encoding over the BPE vocabulary —
    // the WordPiece-style third tokenizer family, distinct-words-only
    "tok_wordpiece" -> ((s, d) =>
      operators.Tokenization.wordpieceEncode(s, docs(s, d)).orderBy(col("word"))),
    // two-proportion A/B readout: pooled z² from five exact counts
    "events_ab_test" -> ((s, d) => EventOps.abTest(events(s, d))),
    // TPC-H Q3 shape: segment + date straddle, top-10 open orders by
    // exact-cents revenue (the classic 3-way join report)
    "q3_shipping" -> ((s, d) =>
      table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .join(
          table(s, d, "orders")
            .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("c_custkey") === col("o_custkey"))
        .join(
          table(s, d, "lineitem")
            .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
            .select(
              col("l_orderkey"),
              expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
                .as("cents")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(col("cents")).as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("l_orderkey"))
        .limit(10)),
    // TPC-H Q10 shape: returned-item revenue per customer over one
    // order-date year, top 20
    "q10_returns" -> ((s, d) =>
      table(s, d, "orders")
        .filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
        .join(
          table(s, d, "lineitem")
            .filter(col("l_returnflag") === "R")
            .select(
              col("l_orderkey"),
              expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
                .as("cents")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey")),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").cast("long").as("c_custkey"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("c_custkey"))
        .limit(20)),
    // TPC-H Q6 shape: single-scan predicate revenue — the pure
    // pushdown/codegen benchmark (discount band compared on exact
    // integer percent, never raw doubles)
    "q6_forecast" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            expr("CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 6") &&
            col("l_quantity") < 24)
        .agg(
          sum(expr("CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)"))
            .as("revenue_cents"),
          count(lit(1)).as("n_rows"))),
    // TPC-H Q5 shape: regional local-supplier volume — the 6-table
    // star join keyed so customer and supplier share a nation; fact
    // joins shuffle on their own keys, dims broadcast under AQE
    "q5_local_supplier" -> ((s, d) => {
      val asiaNations = table(s, d, "nation")
        .join(
          table(s, d, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      table(s, d, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("cents"))
        .join(
          table(s, d, "orders")
            .filter(
              col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(
          table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("cents")).as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("n_name"))
    }),
    // TPC-H Q4 shape: order priority with a late-shipment EXISTS —
    // the semi-join never widens the orders row, one bit per order
    "q4_priority" -> ((s, d) =>
      table(s, d, "orders")
        .filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(
          table(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))),
    // TPC-H Q14 shape: promo revenue share in exact ppm (the
    // cents*1e6 product stays in BIGINT range below ~9e12 total
    // cents per window — per-month windows keep it there at scale)
    "q14_promo" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(
          col("l_partkey"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("cents"))
        .join(
          table(s, d, "part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("cents")).otherwise(lit(0L)))
            .as("promo_cents"),
          sum(col("cents")).as("total_cents"))
        .select(
          col("promo_cents"),
          col("total_cents"),
          expr("promo_cents * 1000000 div total_cents").as("promo_ppm"))),
    // TPC-H Q18 shape: large-volume orders — the having-filter runs
    // on the lineitem aggregate BEFORE any dimension join, so only
    // qualifying orders ever reach orders/customer
    "q18_big_orders" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 300)
        .join(
          table(s, d, "orders").select(
            col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "customer").select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"))
        .select(
          col("c_custkey").cast("long").as("c_custkey"),
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("odate"),
          expr("CAST(round(qty) AS BIGINT)").as("total_qty"))
        .orderBy(col("total_qty").desc, col("l_orderkey"))
        .limit(20)),
    // 7-day moving-average revenue over the gap-filled day spine —
    // the dashboard smoothing window (partial head windows divide by
    // their true width); the window runs over the bounded daily
    // aggregate, never event-grain rows
    "orders_moving_avg" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .select(
          to_date(col("o_orderdate")).as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("day"))
        .agg(sum(col("cents")).as("rev_cents"))
      val spine = table(s, d, "orders")
        .agg(
          min(to_date(col("o_orderdate"))).as("lo"),
          max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day")).rowsBetween(-6, 0)
      spine
        .join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("rev_cents"), lit(0L)).as("rev_cents"))
        .withColumn("ma_sum", sum(col("rev_cents")).over(w))
        .withColumn("ma_n", count(lit(1)).over(w))
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("rev_cents"),
          expr("ma_sum div ma_n").as("ma7_cents"))
        .orderBy(col("day"))
    }),
    // TPC-H Q7 shape: bi-directional trade volume between two nations
    // by ship year — the dims join twice (supplier's and customer's
    // nation), the pair filter keeps both directions
    "q7_nation_volume" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          date_format(col("l_shipdate"), "yyyy").as("l_year"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("cents"))
        .join(
          table(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(
          table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(
          table(s, d, "nation")
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .join(
          table(s, d, "nation")
            .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")),
          col("c_nationkey") === col("cn_key"))
        .filter(
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_8") ||
            (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_7"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("cents")).as("rev_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))),
    // TPC-H Q8 shape: one supplier nation's market share (exact ppm)
    // of a region's customer revenue, by order year
    "q8_market_share" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("cents"))
        .join(
          table(s, d, "orders")
            .filter(
              col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .select(
              col("o_orderkey"),
              col("o_custkey"),
              date_format(col("o_orderdate"), "yyyy").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(
          table(s, d, "nation")
            .join(
              table(s, d, "region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("cn_key")),
          col("c_nationkey") === col("cn_key"))
        .join(
          table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(
          table(s, d, "nation")
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_2", col("cents")).otherwise(0L))
            .as("nation_cents"),
          sum(col("cents")).as("total_cents"))
        .select(
          col("o_year"),
          col("nation_cents"),
          col("total_cents"),
          expr("nation_cents * 1000000 div total_cents").as("share_ppm"))
        .orderBy(col("o_year"))),
    // TPC-H Q9 shape: profit by supplier nation × order year —
    // revenue minus cost over the fact ⋈ part ⋈ supplier ⋈ nation
    // star (p_retailprice·qty stands in for ps_supplycost·qty: the
    // harness schema has no partsupp — same join/agg shape)
    "q9_profit" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_partkey"),
          col("l_suppkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("rev_cents"))
        .join(
          table(s, d, "part").select(
            col("p_partkey"),
            expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cost_cents")),
          col("l_partkey") === col("p_partkey"))
        .join(
          table(s, d, "orders").select(
            col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(
          table(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(
          table(s, d, "nation").select(col("n_nationkey"), col("n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("rev_cents") - col("cost_cents") * col("qty")).as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)),
    // TPC-H Q13 shape: customer order-count distribution — the
    // left-outer count (zero-order customers kept) folded to a
    // histogram of customers per order count
    "q13_order_counts" -> ((s, d) =>
      table(s, d, "customer")
        .select(col("c_custkey"))
        .join(
          table(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_cust").desc, col("n_orders").desc)),
    // TPC-H Q12 shape: shipping-latency mix by bucket — the CASE-count
    // pivot (critical- vs other-priority orders per latency class;
    // latency buckets stand in for the schema's absent l_shipmode)
    "q12_latency_mix" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(
          table(s, d, "orders").select(
            col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(
          when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAY"), "fast")
            .when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY"), "normal")
            .otherwise("late")
            .as("latency"),
          col("o_orderpriority"))
        .groupBy(col("latency"))
        .agg(
          sum(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("n_critical"),
          sum(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("n_other"))
        .orderBy(col("latency"))),
    // TPC-H Q15 shape: top supplier by quarter revenue — the scalar
    // max broadcast back against the per-supplier rollup (ties kept)
    "q15_top_supplier" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("s_key"))
        .agg(
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("total_cents"))
      rev
        .crossJoin(broadcast(rev.agg(max(col("total_cents")).as("mx"))))
        .filter(col("total_cents") === col("mx"))
        .join(
          table(s, d, "supplier").select(col("s_suppkey"), col("s_name")),
          col("s_key") === col("s_suppkey"))
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"), col("total_cents"))
        .orderBy(col("s_suppkey"))
    }),
    // TPC-H Q17 shape: small-quantity outlier revenue against each
    // part's own average — the correlated scalar aggregate, planned as
    // aggregate-then-join-back; the compare is exact integer
    // cross-multiplication (5·qty·n < Σqty ⟺ qty < 0.2·avg)
    "q17_small_qty" -> ((s, d) => {
      val li = table(s, d, "lineitem").select(
        col("l_partkey"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
      val avgQ = li
        .groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_li"))
      li.join(
          table(s, d, "part")
            .filter(col("p_brand") === "Brand#12")
            .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(avgQ, Seq("l_partkey"))
        .filter(col("qty") * 5L * col("n_li") < col("sum_qty"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("rev_cents"),
          expr("CAST(sum(price_cents) div 7 AS BIGINT)").as("avg_yearly_cents"))
    }),
    // TPC-H Q2 shape: minimum-cost supplier per part — the synthetic
    // schema has no partsupp, so (part, supplier) unit cost derives
    // from lineitem history (sum-price / sum-qty in exact micro-units);
    // region-scoped suppliers broadcast, per-part argmin via window
    "q2_min_cost_supplier" -> ((s, d) => {
      val ps = table(s, d, "lineitem")
        .select(
          col("l_partkey"),
          col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("pc")).as("price_cents"), sum(col("q")).as("qty"))
      val eu = table(s, d, "supplier")
        .join(broadcast(table(s, d, "nation")), col("n_nationkey") === col("s_nationkey"))
        .join(
          broadcast(table(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("r_regionkey") === col("n_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
        .orderBy(col("cost_micro"), col("l_suppkey"))
      ps.join(broadcast(eu), col("s_suppkey") === col("l_suppkey"))
        .withColumn("cost_micro", expr("price_cents * 10000 div qty"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(
          table(s, d, "part")
            .filter(col("p_type") === "LARGE")
            .select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"), col("cost_micro"))
        .orderBy(col("p_partkey"))
        .limit(100)
    }),
    // TPC-H Q11 shape: important stock — per-part value held by one
    // nation's suppliers vs a broadcast global-total threshold
    "q11_important_stock" -> ((s, d) => {
      val natSupp = table(s, d, "supplier")
        .join(
          broadcast(table(s, d, "nation").filter(col("n_name") === "NATION_7")),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"))
      val v = table(s, d, "lineitem")
        .select(
          col("l_partkey"),
          col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
        .join(broadcast(natSupp), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("pc")).as("value_cents"))
      val t = v.agg(sum(col("value_cents")).as("total"))
      v.crossJoin(broadcast(t))
        .filter(col("value_cents") * 1000L > col("total"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    }),
    // TPC-H Q16 shape: supplier diversity per part class — distinct
    // (part, supplier) pairs minus flagged suppliers (negative balance
    // as the complaints stand-in), counted per brand/type/size
    "q16_supplier_cnt" -> ((s, d) => {
      val pairs = table(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      val bad = table(s, d, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      pairs
        .join(broadcast(bad), col("s_suppkey") === col("l_suppkey"), "left_anti")
        .join(
          table(s, d, "part").filter(col("p_brand") =!= "Brand#45"),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
    // TPC-H Q20 shape: dominant-share suppliers — shipped more than
    // half a PROMO part's 1995 volume; the nested EXISTS chain becomes
    // one aggregate + share filter + distinct semi
    "q20_excess_suppliers" -> ((s, d) => {
      val sq = operators.Phys.materialized(
        table(s, d, "lineitem")
          .filter(
            col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
          .select(
            col("l_partkey"),
            col("l_suppkey"),
            expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("q")).as("qty")))
      val tot = sq.groupBy(col("l_partkey")).agg(sum(col("qty")).as("total_qty"))
      val hot = sq
        .join(tot, Seq("l_partkey"))
        .join(
          table(s, d, "part").filter(col("p_type") === "PROMO").select(col("p_partkey")),
          col("p_partkey") === col("l_partkey"))
        .filter(col("qty") * 2L > col("total_qty"))
        .select(col("l_suppkey"))
        .distinct()
      hot
        .join(table(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, d, "nation")), col("n_nationkey") === col("s_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    }),
    // TPC-H Q22 shape: lapsed rich customers — above-average (among
    // positive balances) account balance and no orders since 2000:
    // one scalar aggregate broadcast + one anti join (the date scope
    // keeps the class non-empty on a corpus where everyone has SOME
    // order history)
    "q22_idle_customers" -> ((s, d) => {
      val cust = table(s, d, "customer").select(
        col("c_custkey"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val thresh = cust
        .filter(col("bal_cents") > 0L)
        .agg(
          sum(col("bal_cents")).as("s"),
          count(lit(1)).as("n"))
        .select(expr("s div n").as("avg_bal_cents"))
      cust
        .crossJoin(broadcast(thresh))
        .filter(col("bal_cents") > col("avg_bal_cents"))
        .join(
          table(s, d, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("total_bal_cents"))
        .orderBy(col("c_nationkey"))
    }),
    // TPC-H Q21 shape: suppliers who kept orders waiting — sole late
    // supplier on a multi-supplier finished order. The EXISTS / NOT
    // EXISTS pair over two lineitem self-joins is rewritten as ONE
    // per-order aggregate (distinct suppliers, distinct late
    // suppliers) joined back — one lineitem pass instead of three.
    // "Late" is the Q12 stand-in (shipped > 90 days after order date;
    // the schema has no commit/receipt dates); all nations reported.
    "q21_waiting_supplier" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(
          table(s, d, "orders")
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY")).as("late"))
      val perOrder = li
        .groupBy(col("l_orderkey").as("ok"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
      li.filter(col("late"))
        .join(perOrder, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") > 1L && col("n_late_supp") === 1L)
        .join(
          broadcast(
            table(s, d, "supplier").select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(
          broadcast(table(s, d, "nation").select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("n_name"), col("s_name"))
        .limit(100)
    }),
    // TPC-H Q19 shape: disjunctive bracket predicates — three
    // (brand, size, quantity) OR-arms over one join; the disjunction
    // must still prune at the scans, not explode into a cross
    "q19_brackets" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_partkey"),
          col("l_quantity"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("cents"))
        .join(
          table(s, d, "part").select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 40)))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("rev_cents"))),
    // single-linkage clustering at a FIXED cut: by the Kruskal/minimax
    // invariant, MSF(G) restricted to wn <= t spans exactly the
    // components of G restricted to wn <= t (same node set too — the
    // minimax path property keeps every under-threshold endpoint
    // incident to an under-threshold forest edge), so the scalable plan
    // is ONE connected-components pass over the thresholded edge set —
    // no forest build, no second contraction loop. The DuckDB oracle
    // keeps the forest-based definition, re-proving the equivalence on
    // real data every gate; full-dendrogram use (where the forest IS
    // the product) is what graph_msf benchmarks.
    "graph_msf_clusters" -> ((s, d) => {
      val cut = GraphSource
        .layeredEdges(s, d)
        .select(
          col("src"),
          col("dst"),
          expr("(least(src, dst) * 7 + greatest(src, dst) * 13) % 101").as("wn"))
        .filter(col("src") =!= col("dst") && col("wn") <= 50L)
      GraphOps
        .connectedComponents(cut.select(col("src"), col("dst")))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),
    // experiment design: sample size per arm to detect the observed
    // rate gap at alpha 0.05 / power 0.8 (normal approximation)
    "events_ab_power" -> ((s, d) => EventOps.abPower(events(s, d))),
    // Mann–Kendall trend + Theil–Sen slope over the daily counts: the
    // nonparametric is-it-trending battery, C(days,2)-bounded
    "events_mann_kendall" -> ((s, d) => EventOps.mannKendall(events(s, d))),
    // CUPED variance reduction: per-user pre/post masses, theta* and
    // the rho^2 go/no-go row — exact moments, one scan
    "events_cuped" -> ((s, d) => EventOps.cuped(events(s, d))),
    // mixture SPRT: always-valid sequential mean-shift test per type
    // (log-space Λ, reject decided on the rounded milli column)
    "events_msprt" -> ((s, d) => EventOps.msprt(events(s, d)).orderBy(col("event_type"))),
    // difference-in-differences: treated-vs-control change-of-changes
    // on the four (treat, post) cells — the quasi-experimental effect
    // with unpooled SE, one scan, 4-row aggregate
    "events_did" -> ((s, d) => EventOps.did(events(s, d))),
    // Page–Hinkley sequential mean-shift detector on the daily means:
    // running-mean-adaptive integer recursion, bit-exact trace
    "events_page_hinkley" -> ((s, d) => EventOps.pageHinkley(events(s, d)).orderBy(col("d"))),
    // quantile treatment effects from the binned per-arm CDFs: the
    // distributional effect readout (p25/p50/p75), exact integer ranks
    "events_qte_binned" -> ((s, d) => EventOps.qteBinned(events(s, d)).orderBy(col("q_pct"))),
    // James–Stein / random-effects shrinkage of per-type means toward
    // the grand mean (DL tau^2), the small-group ranking stabilizer
    "stats_james_stein" -> ((s, d) =>
      operators.Stats.jamesStein(events(s, d)).orderBy(col("event_type"))),
    // SoftDeDup: duplicates reweighted 1/cluster_size instead of
    // dropped; per-source effective-token mass for the mixture designer
    "dedup_soft_weights" -> ((s, d) =>
      Dedup.softWeights(docs(s, d)).orderBy(col("source"))),
    // seasonal-naive baseline scored on the last day (MAE + sMAPE ppm)
    "events_snaive_eval" -> ((s, d) => EventOps.snaiveEval(events(s, d))),
    // Holt linear-trend baseline: exact-halving smoothing fold, last
    // day scored against level + j*trend
    "events_holt_eval" -> ((s, d) => EventOps.holtEval(events(s, d))),
    // choose-the-gap pre-flight: the sessionizer at each candidate
    // inactivity gap, singleton collapse as the knee signal
    "events_gap_sweep" -> ((s, d) => EventOps.sessionGapSweep(events(s, d))),
    // DP contribution capping: clamp per-user mass at K, report the bias
    "pii_contribution_cap" -> ((s, d) =>
      operators.Quality.contributionCap(events(s, d)).orderBy(col("event_type"))),
    // column-profile drift between corpus versions (null/distinct/len)
    "dq_profile_drift" -> ((s, d) => {
      val (base, updates) = corpusVersionLog(s, d)
      val v2 = operators.Snapshot.upsert(base, updates, "doc_id", "version")
      operators.Quality
        .profileDrift(base, v2, Seq("text", "lang"))
        .orderBy(col("column"))
    }),
    // first-touch vs last-touch conversion attribution in exact counts
    "events_attribution" -> ((s, d) =>
      EventOps.attribution(events(s, d)).orderBy(col("model"), col("event_type"))),
    // MMR diversified re-rank of the exact top-10, integer deci-micro
    "ann_mmr_rerank" -> ((s, d) =>
      Similarity.mmrDiversify(embs(s, d), nQueries = 8, k = 5)
        .orderBy(col("q_id"), col("rank"))),
    // greedy k-center coreset (Gonzalez farthest-point): k diverse
    // exemplars + achieved covering radius, exact integer distances
    "emb_kcenter_coreset" -> ((s, d) =>
      Similarity.kcenterCoreset(embs(s, d)).orderBy(col("rank"))),
    // metadata-filtered vector search: candidate predicate pruned inside
    // the probed IVF cells (never post-truncating the top-k)
    "ann_filtered_topk" -> ((s, d) =>
      Similarity.ivfFilteredTopK(embs(s, d), nQueries = 20, k = 5)
        .orderBy(col("q_id"), col("rank"))),
    // session-concurrency profile: time spent at each live-session level
    "events_concurrency" -> ((s, d) =>
      EventOps.concurrency(events(s, d)).orderBy(col("concurrency"))),
    // winsorized robust mean per type: exact order-statistic fences
    "events_winsorized" -> ((s, d) =>
      EventOps.winsorized(events(s, d)).orderBy(col("event_type"))),
    // Markov next-event predictor trained on ref half, scored on cur half
    "events_markov_eval" -> ((s, d) =>
      EventOps.markovEval(events(s, d)).orderBy(col("prev_type"))),
    // functional-dependency audit: violating-group counts per candidate
    "dq_functional_deps" -> ((s, d) =>
      operators.Quality.functionalDeps(Map(
        "orders" -> table(s, d, "orders"),
        "nation" -> table(s, d, "nation"),
        "customer" -> table(s, d, "customer"),
        "lineitem" -> table(s, d, "lineitem"))).orderBy(col("fd"))),
    // t-closeness: per-QI-group TV distance to the global sensitive
    // distribution, exact integer ppm (completes the privacy triple)
    "pii_t_closeness" -> ((s, d) =>
      operators.Quality.tCloseness(table(s, d, "customer"))
        .orderBy(col("c_nationkey"), col("bal_band"))),
    // exact AUC of the trained logreg scorer: Mann-Whitney over the
    // integer-score histogram, tie-corrected, no pair enumeration
    "train_logreg_auc" -> ((s, d) => operators.Training.logregAuc(docs(s, d))),
    // the AUC scalar unrolled into its 10 ranking-decile operating
    // points: precision/recall at tie-group-boundary threshold cuts
    "train_logreg_pr" -> ((s, d) => operators.Training.logregPrCurve(docs(s, d))),
    // 3-fold CV accuracy: per-fold training (fold-local centering, no
    // leakage), exact integer z > 0 scoring on the held-out rows
    "train_logreg_cv" -> ((s, d) => operators.Training.logregCv(docs(s, d))),
    // sample ACF of the gap-filled hourly count series, lags 1..6
    "events_acf" -> ((s, d) => EventOps.acf(events(s, d)).orderBy(col("lag"))),
    // retrospective single changepoint: max scaled CUSUM deviation
    "events_changepoint" -> ((s, d) => EventOps.changepoint(events(s, d))),
    // small-file compaction planner: next-fit bin-pack over the file
    // listing, per-source bins (metadata-only at any scale)
    "layout_compaction_plan" -> ((s, d) =>
      operators.Layout.compactionPlan(docs(s, d)).orderBy(col("source"), col("bin"))),
    // HRU greedy cube-view selection: one cube pass for lattice sizes,
    // then the bounded 8-row greedy benefit walk
    "cube_view_select" -> ((s, d) =>
      operators.Layout.cubeViewSelect(events(s, d)).orderBy(col("round"))),
    // zone-map prune report: 1-D clustered vs Z-order layouts scored
    // by zones/rows scanned per probe predicate
    "layout_prune_report" -> ((s, d) =>
      operators.Layout.zoneMapPruneReport(table(s, d, "lineitem"))
        .orderBy(col("layout"), col("probe"))),
    // per-column RLE/dictionary/delta encoding advisor in write order
    "layout_encoding_stats" -> ((s, d) =>
      operators.Layout.encodingStats(table(s, d, "lineitem")).orderBy(col("col"))),
    // per-domain frequency cap: best-K-by-quality-proxy per source
    "docs_domain_cap" -> ((s, d) =>
      TextOps.domainCap(docs(s, d)).orderBy(col("source"))),
    // Neyman vs proportional allocation of a fixed sample budget
    "sample_neyman_alloc" -> ((s, d) =>
      TextOps.neymanAllocation(docs(s, d)).orderBy(col("source")))
  )

  /** Fully-unrolled Bellman-Ford oracle for the CONVERGED lineitem-graph
    * SSSP (`SingleSourceSP.java:439-519`): `rounds` relaxation rounds of
    * the exact per-round semantics of [[graft.operators.GraphOps.sssp]]
    * (frontier gate, min-combine, least-merge, reached tracking), each as
    * a MATERIALIZED CTE pair (b_k, s_k). The loop converges in 16 rounds
    * at sf0.01 (measured; extra rounds are no-ops because the frontier is
    * empty), so 24 rounds is convergence plus safety margin. MATERIALIZED
    * is load-bearing: s_k is referenced twice (b_{k+1} and s_{k+1}), and
    * inlining would grow the plan 2^rounds.
    */
  private def ssspUnrolledSql(rounds: Int, source: Long = 1L): String = {
    val head = Seq(
      s"edges AS MATERIALIZED (${GraphSource.lineitemEdgesSql})",
      """v AS MATERIALIZED (SELECT id, CAST(max(is_src) AS BOOLEAN) AS is_src FROM (
        |        SELECT src AS id, TRUE AS is_src FROM edges
        |        UNION ALL SELECT dst, FALSE FROM edges) GROUP BY id)""".stripMargin,
      s"""s0 AS MATERIALIZED (SELECT id, is_src,
        |              CASE WHEN id = $source THEN CAST(0.0 AS DOUBLE) ELSE 65535.0 END AS dist,
        |              TRUE AS updated, FALSE AS reached
        |       FROM v)""".stripMargin)
    val iters = (1 to rounds).flatMap { k =>
      Seq(
        s"""b$k AS MATERIALIZED (SELECT e.dst AS id, min(s.dist + e.w) AS best
           |       FROM s${k - 1} s JOIN edges e ON e.src = s.id
           |       WHERE s.updated AND s.dist <> 65535.0 GROUP BY e.dst)""".stripMargin,
        s"""s$k AS MATERIALIZED (SELECT s.id, s.is_src,
           |              least(s.dist, coalesce(b.best, 65535.0)) AS dist,
           |              coalesce(b.best, 65535.0) < s.dist AS updated,
           |              (s.reached OR b.best IS NOT NULL) AS reached
           |       FROM s${k - 1} s LEFT JOIN b$k b ON b.id = s.id)""".stripMargin)
    }
    (head ++ iters).mkString("WITH ", ",\n", "\n") +
      s"SELECT CAST($source AS BIGINT) AS source, id, dist FROM s$rounds WHERE is_src OR reached ORDER BY id"
  }

  /** Recursive-CTE SSSP oracle over the layered graph, source as a
    * parameter (C3 — `SingleSourceSP.java:402`). Shared by sssp_layered,
    * sssp_layered_src5, and sssp_text_roundtrip.
    */
  private def layeredSsspSql(source: Long): String =
    s"""WITH RECURSIVE edges AS (${GraphSource.layeredEdgesSql}),
       |reach(id, dist) AS (
       |  SELECT CAST($source AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS dist
       |  UNION
       |  SELECT e.dst, r.dist + e.w FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.dist < 32.0
       |),
       |best AS (SELECT id, min(dist) AS dist FROM reach GROUP BY id),
       |nodes AS (SELECT DISTINCT src AS id FROM edges)
       |SELECT CAST($source AS BIGINT) AS source, coalesce(n.id, b.id) AS id,
       |       coalesce(b.dist, 65535.0) AS dist
       |FROM nodes n FULL OUTER JOIN best b ON n.id = b.id
       |ORDER BY id""".stripMargin

  /** Unrolled peeling oracle for [[graft.operators.GraphOps.kCore]]:
    * `rounds` rounds of "keep nodes with ≥ k surviving neighbors" over
    * the undirected simple graph. The lineitem graph reaches its
    * fixpoint in 2 peels at sf0.01 (measured; extra rounds are no-ops),
    * so 6 rounds is fixpoint plus wide margin.
    */
  private def kcoreUnrolledSql(k: Int, rounds: Int): String = {
    val head = Seq(
      s"e AS MATERIALIZED (${GraphSource.lineitemEdgesSql})",
      """s AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM e WHERE src <> dst)""".stripMargin,
      "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM s UNION ALL SELECT b, a FROM s)",
      "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM und)")
    val iters = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT u.src AS id FROM und u
         |       JOIN a${r - 1} x ON x.id = u.src JOIN a${r - 1} y ON y.id = u.dst
         |       GROUP BY u.src HAVING count(*) >= $k)""".stripMargin
    }
    (head ++ iters).mkString("WITH ", ",\n", "\n") +
      s"""SELECT n.id, c.id IS NOT NULL AS in_core
         |FROM a0 n LEFT JOIN a$rounds c ON c.id = n.id ORDER BY n.id""".stripMargin
  }

  /** Core-number cap of [[corenessOracleSql]]: one past the harness
    * graph's max coreness (7 at every tested sf). */
  private val CorenessMaxK = 8

  /** Coreness oracle: per k ∈ [2, CorenessMaxK], `rounds` unrolled
    * peels (12 — the measured deepest cascade is 8, at k = max+1);
    * coreness = 1 + Σ survive-flags via left joins, by the nesting
    * property of the cores. The engine has no cap: on data whose
    * degeneracy outgrows it the oracle saturates at CorenessMaxK, and
    * the parity gate fails instead of passing a truncated column.
    */
  private def corenessOracleSql(rounds: Int = 12): String = {
    val maxK = CorenessMaxK
    val head = Seq(
      s"e AS MATERIALIZED (${GraphSource.lineitemEdgesSql})",
      """s AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM e WHERE src <> dst)""".stripMargin,
      "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM s UNION ALL SELECT b, a FROM s)",
      "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM und)")
    val perK = (2 to maxK).flatMap { k =>
      (1 to rounds).map { r =>
        val prev = if (r == 1) "a0" else s"k${k}_a${r - 1}"
        s"""k${k}_a$r AS MATERIALIZED (SELECT u.src AS id FROM und u
           |       JOIN $prev x ON x.id = u.src JOIN $prev y ON y.id = u.dst
           |       GROUP BY u.src HAVING count(*) >= $k)""".stripMargin
      }
    }
    val flags = (2 to maxK)
      .map(k => s"CASE WHEN k${k}_a$rounds.id IS NOT NULL THEN 1 ELSE 0 END")
      .mkString(" + ")
    val joins = (2 to maxK)
      .map(k => s"LEFT JOIN k${k}_a$rounds ON k${k}_a$rounds.id = a0.id")
      .mkString("\n")
    (head ++ perK).mkString("WITH ", ",\n", "\n") +
      s"""SELECT a0.id, CAST(1 + $flags AS BIGINT) AS coreness
         |FROM a0
         |$joins
         |ORDER BY a0.id""".stripMargin
  }

  /** Transposition oracle — shared by reverse_graph and its tab-format
    * round-trip (they must agree exactly).
    */
  private def reverseGraphOracleSql: String =
    s"""WITH edges AS (${GraphSource.lineitemEdgesSql})
       |SELECT dst AS node, string_agg(src, ',' ORDER BY src) AS adj
       |FROM edges GROUP BY dst ORDER BY node""".stripMargin

  /** Min-label closure oracle over the layered graph — shared by both
    * connected-components implementations (they must agree exactly).
    */
  private def ccOracleSql: String =
    s"""WITH RECURSIVE edges AS (${GraphSource.layeredEdgesSql}),
       |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |reach(id, lab) AS (
       |  SELECT DISTINCT src AS id, src AS lab FROM und
       |  UNION
       |  SELECT u.dst, r.lab FROM reach r JOIN und u ON u.src = r.id
       |)
       |SELECT id, min(lab) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Unrolled label-propagation rounds `l0..l4` over a `ud` CTE —
    * shared by the communities oracle and the modularity oracle (one
    * source of truth for the partition both score).
    */
  private lazy val lpRoundsSql: String = {
    def round(prev: String, k: Int): String =
      s"""l$k AS (
         |  SELECT id, lbl FROM (
         |    SELECT u.dst AS id, l.lbl,
         |           row_number() OVER (PARTITION BY u.dst
         |                              ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM ud u JOIN $prev l ON l.id = u.src
         |    GROUP BY u.dst, l.lbl) WHERE rn = 1)""".stripMargin
    "l0 AS (SELECT id, id AS lbl FROM (SELECT DISTINCT src AS id FROM ud)),\n" +
      (1 to 4).map(k => round(s"l${k - 1}", k)).mkString(",\n")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "kcore_4" -> kcoreUnrolledSql(k = 4, rounds = 6),
    "graph_coreness" -> corenessOracleSql(),
    "graph_densest" ->
      s"SELECT * FROM (${GraphOps.densestSubgraphSql(GraphSource.lineitemEdgesSql)}) ORDER BY round",
    "graph_katz" ->
      s"SELECT * FROM (${GraphOps.katzFixedSql(GraphSource.lineitemEdgesSql)}) ORDER BY id",
    "graph_katz_resid" -> GraphOps.katzResidualsSql(GraphSource.lineitemEdgesSql),
    "pagerank_resid" -> GraphOps.pagerankResidualsSql(GraphSource.lineitemEdgesSql),
    "graph_anf_resid" -> GraphOps.anfResidualsSql(GraphSource.lineitemEdgesSql),
    "ktruss_3" -> GraphOps.kTrussSql(GraphSource.lineitemEdgesSql, k = 3),
    "graph_clustering_coef" ->
      GraphOps.clusteringCoefficientSql(GraphSource.lineitemEdgesSql),
    "graph_hits" -> GraphOps.hitsSql(GraphSource.lineitemEdgesSql, iters = 3),
    "graph_hits_resid" ->
      GraphOps.hitsResidualsSql(GraphSource.lineitemEdgesSql, iters = 3),
    "graph_random_walks" ->
      (GraphOps.randomWalksSql(GraphSource.lineitemEdgesSql) +
        "\nORDER BY walk_id, step"),
    "graph_node2vec_walks" ->
      (GraphOps.node2vecWalksSql(GraphSource.lineitemEdgesSql) +
        "\nORDER BY walk_id, step"),
    "graph_walk_skipgrams" ->
      (GraphOps.walkSkipgramsSql(GraphSource.lineitemEdgesSql) +
        "\nORDER BY center, context"),
    "graph_embed_sgns" ->
      (operators.Training
        .sgnsEmbeddingsSql(
          GraphOps.walkSkipgramsSql(GraphSource.lineitemEdgesSql, startMod = 4L)) +
        "\nORDER BY id"),
    "graph_embed_linkpred" ->
      operators.Training.embedLinkPredAucSql(
        operators.Training.sgnsEmbeddingsSql(
          GraphOps.walkSkipgramsSql(GraphSource.lineitemEdgesSql, startMod = 4L)),
        GraphSource.lineitemEdgesSql),
    "graph_embed_stored" ->
      operators.Training.sgnsSimilarStoredSql(
        operators.Training.sgnsEmbeddingsSql(
          GraphOps.walkSkipgramsSql(GraphSource.lineitemEdgesSql, startMod = 4L))),
    "emb_centroid_confusion" ->
      (Similarity.nearestCentroidConfusionSql() + "\nORDER BY label, pred"),
    "reverse_graph" -> reverseGraphOracleSql,
    // the tab-format round-trip must reproduce the transposition exactly
    "reverse_graph_text" -> reverseGraphOracleSql,
    "build_adjacency" ->
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql})
         |SELECT src AS node,
         |       string_agg(dst || ':' || w, ',' ORDER BY dst, w) AS adj,
         |       CASE WHEN src = 1 THEN 0.0 ELSE 65535.0 END AS dist,
         |       TRUE AS updated
         |FROM edges GROUP BY src ORDER BY node""".stripMargin,
    "sssp_one_round" ->
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |best AS (SELECT dst AS id, min(0.0 + w) AS best FROM edges WHERE src = 1 GROUP BY dst)
         |SELECT coalesce(n.id, b.id) AS id,
         |       least(CASE WHEN coalesce(n.id, b.id) = 1 THEN 0.0 ELSE 65535.0 END,
         |             coalesce(b.best, 65535.0)) AS dist
         |FROM nodes n FULL OUTER JOIN best b ON n.id = b.id
         |ORDER BY id""".stripMargin,
    "sssp_layered" -> layeredSsspSql(source = 1L),
    "sssp_layered_src5" -> layeredSsspSql(source = 5L),
    // the text round-trip must reproduce the layered answer exactly
    "sssp_text_roundtrip" -> layeredSsspSql(source = 1L),
    // source 1655 is a sink at sf0.01 AND sf0.1 → converges in round 1;
    // unrolled to the same 24-round margin as sssp_lineitem so the
    // oracle stays correct at scale factors where 1655 has out-edges
    // (empty-frontier rounds cost nothing in the CTE)
    "sssp_sink_source" -> ssspUnrolledSql(rounds = 24, source = 1655L),
    "sssp_lineitem" -> ssspUnrolledSql(rounds = 24),
    "sssp_two_rounds" ->
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |v AS (SELECT id, CAST(max(is_src) AS BOOLEAN) AS is_src FROM (
         |        SELECT src AS id, TRUE AS is_src FROM edges
         |        UNION ALL SELECT dst, FALSE FROM edges) GROUP BY id),
         |s0 AS (SELECT id, is_src,
         |              CASE WHEN id = 1 THEN CAST(0.0 AS DOUBLE) ELSE 65535.0 END AS dist
         |       FROM v),
         |b1 AS (SELECT e.dst AS id, min(s.dist + e.w) AS best
         |       FROM s0 s JOIN edges e ON e.src = s.id WHERE s.dist <> 65535.0
         |       GROUP BY e.dst),
         |s1 AS (SELECT s.id, s.is_src,
         |              least(s.dist, coalesce(b.best, 65535.0)) AS dist,
         |              coalesce(b.best, 65535.0) < s.dist AS updated,
         |              b.best IS NOT NULL AS reached
         |       FROM s0 s LEFT JOIN b1 b ON b.id = s.id),
         |b2 AS (SELECT e.dst AS id, min(s.dist + e.w) AS best
         |       FROM s1 s JOIN edges e ON e.src = s.id
         |       WHERE s.updated AND s.dist <> 65535.0 GROUP BY e.dst),
         |s2 AS (SELECT s.id, s.is_src,
         |              least(s.dist, coalesce(b.best, 65535.0)) AS dist,
         |              (s.reached OR b.best IS NOT NULL) AS reached
         |       FROM s1 s LEFT JOIN b2 b ON b.id = s.id)
         |SELECT CAST(1 AS BIGINT) AS source, id, dist FROM s2
         |WHERE is_src OR reached ORDER BY id""".stripMargin,
    "edge_parse" ->
      """WITH lines AS (
        |  SELECT l_linenumber::VARCHAR || ' ' || l_orderkey::VARCHAR || ' ' ||
        |         l_partkey::VARCHAR || ' ' || CAST(l_quantity AS DOUBLE)::VARCHAR AS line
        |  FROM lineitem)
        |SELECT CAST(string_split(trim(line), ' ')[2] AS BIGINT) AS src,
        |       CAST(string_split(trim(line), ' ')[3] AS BIGINT) AS dst,
        |       CAST(string_split(trim(line), ' ')[4] AS DOUBLE) AS w
        |FROM lines WHERE regexp_matches(line, '^[0-9]')
        |ORDER BY src, dst, w""".stripMargin,
    "connected_components" -> ccOracleSql,
    // identical answer demanded from the star-contraction variant
    "cc_bigstar" -> ccOracleSql,
    // synchronous LPA, rounds unrolled; argmax via (count desc, label)
    "graph_communities" ->
      s"""WITH edges AS (${GraphSource.layeredEdgesSql}),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         |ud AS (SELECT a AS src, b AS dst FROM und
         |       UNION ALL SELECT b, a FROM und),
         |$lpRoundsSql
         |SELECT id, lbl AS community FROM l4 ORDER BY id""".stripMargin,
    "graph_modularity" ->
      GraphOps.modularitySql(GraphSource.layeredEdgesSql, lpRoundsSql),
    // bitmask OR-propagation, rounds unrolled on the same distinct edges
    "graph_msbfs" ->
      GraphOps.multiSourceBfsSql(GraphSource.lineitemEdgesSql, nSources = 48, rounds = 4),
    "graph_scc_pivot" ->
      s"SELECT * FROM (\n${GraphOps.sccPivotSql(GraphSource.layeredEdgesSql)}\n) ORDER BY id",
    "graph_bowtie" ->
      s"""SELECT coalesce(c.cls, 'disconnected') AS cls, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM (SELECT src AS id FROM (${GraphSource.layeredEdgesSql})
         |      UNION SELECT dst FROM (${GraphSource.layeredEdgesSql})) n
         |LEFT JOIN (
         |${GraphOps.sccPivotSql(GraphSource.layeredEdgesSql)}
         |) c ON c.id = n.id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // FM-bitmask neighborhood function, rounds unrolled on the same edges
    "graph_anf" ->
      GraphOps.anfSql(GraphSource.lineitemEdgesSql, nSketches = 8, rounds = 2),
    "graph_msf" ->
      (GraphOps.msfSql(GraphSource.layeredEdgesSql, "(a * 7 + b * 13) % 101") +
        "\nORDER BY a, b"),
    "graph_stress" ->
      (GraphOps.stressCentralitySql(GraphSource.lineitemEdgesSql, nSources = 4, rounds = 3) +
        "\nORDER BY id"),
    "graph_harmonic" ->
      GraphOps.harmonicCentralitySql(GraphSource.lineitemEdgesSql, nSketches = 8, rounds = 2),
    // sketch-only per-h rows; the engine's early exit mirrored as a
    // changed-count row condition
    "graph_anf_est" ->
      GraphOps.anfEstimateSql(GraphSource.lineitemEdgesSql, nSketches = 8, maxRounds = 8),
    "graph_closeness_est" ->
      GraphOps.closenessCentralitySql(GraphSource.lineitemEdgesSql, nSketches = 8, rounds = 4),
    // first-arrival rounds of the batched landmark wave, unrolled
    "graph_landmark_dist" ->
      GraphOps.landmarkDistancesSql(GraphSource.lineitemEdgesSql, nLandmarks = 8, rounds = 4),
    "graph_landmark_est" ->
      GraphOps.landmarkEstimateSql(GraphSource.lineitemEdgesSql, nLandmarks = 8, rounds = 4),
    "graph_landmark_stored" ->
      GraphOps
        .landmarkEstimateStoredSql(GraphSource.lineitemEdgesSql, nLandmarks = 8, rounds = 4),
    // static landmark sweep + one-hop extension of the arriving slice,
    // same 90%-of-max-orderkey split computed in integer math
    "graph_stream_landmark" -> {
      val split = "(SELECT max(CAST(l_orderkey AS BIGINT)) * 9 // 10 FROM lineitem)"
      def slice(op: String) =
        "SELECT CAST(l_orderkey AS BIGINT) AS src, CAST(l_partkey AS BIGINT) AS dst " +
          s"FROM lineitem WHERE CAST(l_orderkey AS BIGINT) $op $split"
      GraphOps.landmarkExtendSql(slice("<"), slice(">="), nLandmarks = 8, rounds = 4)
    },
    "graph_eff_diameter" ->
      GraphOps.effectiveDiameterSql(GraphSource.lineitemEdgesSql, nSketches = 8, maxRounds = 16),
    // degree-ordered orientation mirrored from GraphOps.orientByDegree
    "triangle_count" ->
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS d FROM (
         |          SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
         |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |                  THEN u.a ELSE u.b END AS lo,
         |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |                  THEN u.b ELSE u.a END AS hi,
         |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |                  THEN db.d ELSE da.d END AS hdeg
         |      FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b)
         |SELECT (SELECT count(*) FROM und) AS n_und_edges,
         |       (SELECT count(*) FROM o e1
         |        JOIN o e2 ON e2.lo = e1.lo
         |          AND (e1.hdeg < e2.hdeg OR (e1.hdeg = e2.hdeg AND e1.hi < e2.hi))
         |        JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi) AS n_triangles""".stripMargin,
    "graph_triangle_sampled" -> {
      def chain(sfx: String, extraWhere: String): String =
        s"""und$sfx AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |        FROM edges WHERE src <> dst$extraWhere),
           |deg$sfx AS (SELECT id, count(*) AS d FROM (
           |          SELECT a AS id FROM und$sfx UNION ALL SELECT b FROM und$sfx) GROUP BY id),
           |o$sfx AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
           |                  THEN u.a ELSE u.b END AS lo,
           |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
           |                  THEN u.b ELSE u.a END AS hi,
           |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
           |                  THEN db.d ELSE da.d END AS hdeg
           |      FROM und$sfx u JOIN deg$sfx da ON da.id = u.a JOIN deg$sfx db ON db.id = u.b),
           |tri$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o$sfx e1
           |        JOIN o$sfx e2 ON e2.lo = e1.lo
           |          AND (e1.hdeg < e2.hdeg OR (e1.hdeg = e2.hdeg AND e1.hi < e2.hi))
           |        JOIN o$sfx e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)""".stripMargin
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |${chain("_x", "")},
         |${chain(
             "_s",
             " AND (least(src, dst) * 1103515245 + greatest(src, dst) * 12345)" +
               " % 1000000007 % 2 = 0")}
         |SELECT x.n AS exact_triangles, s.n AS n_sampled,
         |       s.n * 8 AS est_triangles,
         |       CASE WHEN x.n = 0 THEN NULL
         |            ELSE abs(s.n * 8 - x.n) * 1000 // x.n END AS err_pm
         |FROM tri_x x CROSS JOIN tri_s s""".stripMargin
    },
    "pagerank_fixed" -> {
      def iter(prev: String, k: Int): String =
        s"""r$k AS (
           |  SELECT r.id, r.deg,
           |         CAST((15 * (1000000000000 // nn.n) // 100) +
           |              (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM $prev r
           |  LEFT JOIN (SELECT e.dst AS id, CAST(sum(r.pr // r.deg) AS BIGINT) AS s
           |             FROM $prev r JOIN e ON e.src = r.id GROUP BY e.dst) s ON s.id = r.id
           |  CROSS JOIN nn)""".stripMargin
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |e AS (SELECT src, dst FROM edges),
         |outdeg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM outdeg),
         |r0 AS (SELECT id, deg, CAST(1000000000000 // nn.n AS BIGINT) AS pr FROM outdeg CROSS JOIN nn),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT id, pr FROM r3 ORDER BY id""".stripMargin
    },
    "pagerank_personalized" -> {
      val seed = "(id % 100 = 0)"
      def iter(prev: String, k: Int): String =
        s"""r$k AS (
           |  SELECT r.id, r.deg,
           |         CAST(CASE WHEN r.id % 100 = 0 THEN 15 * (1000000000000 // nn.ns) // 100 ELSE 0 END +
           |              (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM $prev r
           |  LEFT JOIN (SELECT e.dst AS id, CAST(sum(r.pr // r.deg) AS BIGINT) AS s
           |             FROM $prev r JOIN e ON e.src = r.id GROUP BY e.dst) s ON s.id = r.id
           |  CROSS JOIN nn)""".stripMargin
      s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
         |e AS (SELECT src, dst FROM edges),
         |outdeg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS ns FROM outdeg WHERE $seed),
         |r0 AS (SELECT id, deg,
         |              CAST(CASE WHEN $seed THEN 1000000000000 // nn.ns ELSE 0 END AS BIGINT) AS pr
         |       FROM outdeg CROSS JOIN nn),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT id, pr FROM r3 ORDER BY id""".stripMargin
    },
    "multimodal_decode" -> {
      // FIXTURE ASSUMPTION: the harness documents are ASCII-only, so the
      // oracle's code-point fold and ascii(text) equal the engine's sums
      // over real UTF-8 payload bytes. A multi-byte corpus would need a
      // DuckDB byte-level fold over encode(text) instead.
      val byteSum = Parity.charFoldSql("text", 1L, 1099511627776L)
      s"""SELECT doc_id,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |       CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n_frames,
         |       $byteSum AS byte_sum,
         |       CAST(ascii(text) AS BIGINT) AS first_byte,
         |       round(CAST($byteSum AS DOUBLE) /
         |             CAST(octet_length(encode(text)) AS DOUBLE), 6) AS mean_byte
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_revenue" ->
      """SELECT r_name, n_name,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "pivot_agg" ->
      """SELECT o_orderpriority,
        |       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
        |       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
        |       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "window_running" ->
      """SELECT o_orderpriority, o_orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |             ROWS UNBOUNDED PRECEDING), 2) AS run_sum,
        |       round(avg(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "set_ops" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS n FROM customer),
        |s AS (SELECT CAST(s_nationkey AS BIGINT) AS n FROM supplier)
        |SELECT 'both' AS tag, n FROM (SELECT n FROM c INTERSECT SELECT n FROM s)
        |UNION ALL
        |SELECT 'cust_only', n FROM (SELECT n FROM c EXCEPT SELECT n FROM s)
        |ORDER BY tag, n""".stripMargin,
    "semi_anti_join" ->
      """SELECT c_custkey, TRUE AS has_orders FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, FALSE FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin
  ) ++ extensionOracles

  /** Unrolled Lloyd-iteration CTEs mirroring
    * [[graft.operators.Similarity.kmeansFixed]] — integer micro-unit
    * embeddings, exact-double dot scores, truncating integer-mean
    * updates (Spark `div` ≡ DuckDB `//`, both toward zero). Returns the
    * CTE list (caller prepends WITH); the final centroid table is
    * `c${KmeansIters}`.
    */
  private def kmeansScoreSql(ei: String, c: String): String =
    s"(${Parity.dotSql(s"CAST($ei AS DOUBLE[])", s"CAST($c AS DOUBLE[])")} / " +
      s"sqrt(${Parity.dotSql(s"CAST($c AS DOUBLE[])", s"CAST($c AS DOUBLE[])")}))"

  private def kmeansCtes: String = kmeansCtesSliced("", 0, Similarity.Dim)

  /** External-query ANN oracle: retrain the deterministic quantizer
    * inline, pick the literal query's probe cells by the same
    * (score DESC, cid) rank, scan only those cells' lists.
    */
  private def ivfQueryOracleSql(query: Seq[Double], k: Int, nProbe: Int): String = {
    val qe = query.mkString("[", ", ", "]")
    val qi = query.map(v => math.round(v * Similarity.KmeansScale)).mkString("[", ", ", "]")
    val last = s"c${Similarity.KmeansIters}"
    s"""WITH ${kmeansCtesSliced("", 0, Similarity.Dim)},
       |cs AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d v CROSS JOIN $last c),
       |rc AS (SELECT vec_id, cid,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |       FROM cs),
       |asg AS (SELECT vec_id, cid FROM rc WHERE rn = 1),
       |qp AS (SELECT cid FROM (
       |         SELECT c.cid, ${kmeansScoreSql(qi, "c.c")} AS s FROM $last c)
       |       ORDER BY s DESC, cid LIMIT $nProbe)
       |SELECT g.vec_id AS n_id, round(${Parity.cosineSql(qe, "v.e")}, 6) AS cos
       |FROM asg g JOIN d v USING (vec_id)
       |WHERE g.cid IN (SELECT cid FROM qp)
       |ORDER BY cos DESC, n_id LIMIT $k""".stripMargin
  }

  /** Trained-IVF probe oracle (nQueries=50, k=3, nProbe=2) — shared by
    * `ann_ivf_trained` and `ann_ivf_stored`: the stored model is the same
    * deterministic k-means, persisted and read back, so both queries must
    * land on this exact result.
    */
  private def ivfTrainedOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}"
    val score = kmeansScoreSql("v.ei", "c.c")
    s"""WITH $kmeansCtes,
       |cs AS (SELECT v.vec_id, c.cid, $score AS ccos FROM d v CROSS JOIN $last c),
       |ranked_cells AS (
       |  SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM cs),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_cells WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, cid FROM ranked_cells WHERE vec_id < 50 AND rn <= 2),
       |scored AS (
       |  SELECT p.q_id, a.n_id, round(${Parity.cosineSql("q.e", "n.e")}, 6) AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
       |  JOIN d q ON q.vec_id = p.q_id
       |  JOIN d n ON n.vec_id = a.n_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** IVF-served kNN-eval oracle: Lloyd trained on the train split only
    * (srcWhere), train-member inverted lists, held-out probes, exact
    * cosine top-k within the probed lists, majority vote with the
    * brute evaluator's tie-breaks.
    */
  private def knnEvalIvfOracleSql(k: Int, nProbe: Int): String = {
    val last = s"c${Similarity.KmeansIters}"
    val intE =
      s"list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * ${Similarity.KmeansScale}) AS BIGINT))"
    s"""WITH ${kmeansCtesSliced("", 0, Similarity.Dim, srcWhere = " WHERE vec_id % 5 <> 0")},
       |lists AS (
       |  SELECT vec_id AS n_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${kmeansScoreSql("v.ei", "c.c")} DESC, c.cid) AS rn
       |    FROM d v CROSS JOIN $last c) WHERE rn = 1),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |dt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, $intE AS ei
       |       FROM embeddings WHERE vec_id % 5 = 0),
       |probes AS (
       |  SELECT q_id, cid FROM (
       |    SELECT t.vec_id AS q_id, c.cid,
       |           row_number() OVER (PARTITION BY t.vec_id
       |                              ORDER BY ${kmeansScoreSql("t.ei", "c.c")} DESC, c.cid) AS rn
       |    FROM dt t CROSS JOIN $last c) WHERE rn <= $nProbe),
       |topk AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT s.q_id, s.n_id,
       |           row_number() OVER (PARTITION BY s.q_id ORDER BY s.cos DESC, s.n_id) AS rank
       |    FROM (SELECT p.q_id, l.n_id,
       |                 round(${Parity.cosineSql("q.e", "n.e")}, 6) AS cos
       |          FROM probes p
       |          JOIN lists l ON l.cid = p.cid
       |          JOIN dt q ON q.vec_id = p.q_id
       |          JOIN d n ON n.vec_id = l.n_id) s) WHERE rank <= $k),
       |votes AS (
       |  SELECT t.q_id, lq.label AS label_true, ln.label AS cand_label,
       |         CAST(count(*) AS BIGINT) AS n_votes
       |  FROM topk t JOIN lab lq ON lq.vec_id = t.q_id
       |  JOIN lab ln ON ln.vec_id = t.n_id
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT label_true, cand_label AS label_pred FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY n_votes DESC, cand_label) AS vr
       |    FROM votes) WHERE vr = 1)
       |SELECT label_true, label_pred, CAST(count(*) AS BIGINT) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin
  }

  /** IVF health oracle: retrain the deterministic quantizer inline,
    * assign by the same (score DESC, cid) argmax, aggregate per cell
    * with the per-vector micro-rounding applied BEFORE the sum.
    */
  private def ivfHealthOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}"
    s"""WITH $kmeansCtes,
       |cs AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d v CROSS JOIN $last c),
       |rc AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |       FROM cs),
       |asg AS (SELECT vec_id, cid, CAST(round(ccos * 1000000) AS BIGINT) AS sm
       |        FROM rc WHERE rn = 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg),
       |pc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |              CAST(sum(sm) AS BIGINT) AS ssum,
       |              CAST(min(sm) AS BIGINT) AS min_score_micro
       |       FROM asg GROUP BY cid)
       |SELECT c.cid, coalesce(pc.n_vecs, 0) AS n_vecs,
       |       coalesce(pc.n_vecs, 0) * 1000000 // t.n_total AS occ_ppm,
       |       CASE WHEN pc.n_vecs IS NULL THEN NULL
       |            ELSE pc.ssum // pc.n_vecs END AS mean_score_micro,
       |       pc.min_score_micro
       |FROM $last c LEFT JOIN pc USING (cid) CROSS JOIN tot t
       |ORDER BY c.cid""".stripMargin
  }

  /** Silhouette oracle: retrain the quantizer inline, rank cells per
    * vector by FULL cosine (same order as cellScore — |v| is constant
    * within a vector), rn=1 = own cell, rn=2 = nearest other.
    */
  private def silhouetteOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}"
    val cos = s"(${Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} / " +
      s"(sqrt(${Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(v.ei AS DOUBLE[])")}) * " +
      s"sqrt(${Parity.dotSql("CAST(c.c AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")})))"
    s"""WITH $kmeansCtes,
       |cs AS (SELECT v.vec_id, c.cid, $cos AS cos FROM d v CROSS JOIN $last c),
       |rc AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |       FROM cs),
       |own AS (SELECT vec_id, cid AS own_cid, cos AS cos1 FROM rc WHERE rn = 1),
       |oth AS (SELECT vec_id, cos AS cos2 FROM rc WHERE rn = 2),
       |sv AS (
       |  SELECT o.own_cid AS cid,
       |         CASE WHEN 1.0 - t.cos2 = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(round((o.cos1 - t.cos2) / (1.0 - t.cos2) * 1000000.0)
       |                   AS BIGINT) END AS sil_micro
       |  FROM own o JOIN oth t USING (vec_id))
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(sum(sil_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sil_micro
       |FROM sv GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** The shared IVF-PQ CTE chain up to `ivfpq_ranked` (nQueries=50,
    * nProbe=3, ranks unfiltered) — the common prefix of the plain,
    * stored, and re-ranked IVF-PQ oracles.
    */
  private def ivfpqRankedCtes: String = {
    val last = s"c${Similarity.KmeansIters}"
    s"""$kmeansCtes,
       |$pqCtes,
       |sc_ivf AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |           FROM d v CROSS JOIN $last c),
       |rc_ivf AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |           FROM sc_ivf),
       |pairs_ivf AS (
       |  SELECT p.q_id, a.n_id
       |  FROM (SELECT vec_id AS q_id, cid FROM rc_ivf WHERE vec_id < 50 AND rn <= 3) p
       |  JOIN (SELECT vec_id AS n_id, cid FROM rc_ivf WHERE rn = 1) a USING (cid)
       |  WHERE p.q_id <> a.n_id),
       |ivfpq_scored AS (
       |  SELECT r.q_id, r.n_id,
       |         round(sum(q.qdot) / sqrt(sum(q.cnorm) + CAST(1 AS DOUBLE)), 6) AS adc
       |  FROM pairs_ivf r
       |  JOIN pq_codes c ON c.n_id = r.n_id
       |  JOIN pq_qtab q ON q.q_id = r.q_id AND q.m = c.m AND q.code = c.code
       |  GROUP BY r.q_id, r.n_id),
       |ivfpq_ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS INT) AS rank
       |  FROM ivfpq_scored)""".stripMargin
  }

  /** IVF-PQ oracle (nQueries=50, k=3, nProbe=3) — shared by
    * `ann_ivfpq_topk` and `ann_ivfpq_stored` (same rationale as
    * [[ivfTrainedOracleSql]]).
    */
  private def ivfpqOracleSql: String =
    s"""WITH $ivfpqRankedCtes
       |SELECT q_id, n_id, adc, rank FROM ivfpq_ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** IVF-PQ + exact re-rank oracle (nCand=10 ADC candidates, final
    * k=3) — mirrors [[graft.operators.Similarity.ivfpqRerankTopK]]:
    * the top-10 ADC rows per query re-scored by exact cosine over the
    * full vectors, re-ranked.
    */
  private def ivfpqRerankOracleSql: String =
    s"""WITH $ivfpqRankedCtes,
       |rr_cand AS (SELECT q_id, n_id FROM ivfpq_ranked WHERE rank <= 10),
       |rr_exact AS (
       |  SELECT c.q_id, c.n_id, round(${Parity.cosineSql("dq.e", "dn.e")}, 6) AS cos
       |  FROM rr_cand c
       |  JOIN d dq ON dq.vec_id = c.q_id
       |  JOIN d dn ON dn.vec_id = c.n_id),
       |rr_ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
       |  FROM rr_exact)
       |SELECT q_id, n_id, cos, rank FROM rr_ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Semantic-dedup oracle — mirrors
    * [[graft.operators.Dedup.semanticDedup]]: the same fixed-point
    * Lloyd quantizer at [[graft.operators.Dedup.SemanticCells]] cells,
    * argmax assignment, within-cluster lower-id cosine evidence at
    * threshold 0.4.
    */
  private def semanticDedupOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}"
    s"""WITH ${kmeansCtesSliced("", 0, Similarity.Dim, graft.operators.Dedup.SemanticCells)},
       |cs AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d v CROSS JOIN $last c),
       |rc AS (SELECT vec_id, cid,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |       FROM cs),
       |asg AS (SELECT vec_id, cid FROM rc WHERE rn = 1),
       |dup AS (
       |  SELECT vec_id, max(cos) AS max_cos FROM (
       |    SELECT b.vec_id AS vec_id, round(${Parity.cosineSql("da.e", "db.e")}, 6) AS cos
       |    FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    JOIN d da ON da.vec_id = a.vec_id
       |    JOIN d db ON db.vec_id = b.vec_id)
       |  WHERE cos >= 0.4 GROUP BY vec_id)
       |SELECT g.vec_id, CAST(g.cid AS INT) AS cluster,
       |       (p.max_cos IS NOT NULL) AS is_dup,
       |       coalesce(p.max_cos, CAST(-2 AS DOUBLE)) AS max_cos
       |FROM asg g LEFT JOIN dup p ON p.vec_id = g.vec_id
       |ORDER BY g.vec_id""".stripMargin
  }

  /** Oracle for `ann_recall_at_k`: the shared exact/probe scorings cut
    * at each k, aggregate ppm readout per k (nProbe fixed at 2).
    */
  private def ivfRecallAtKOracleSql(ks: Seq[Int] = Seq(1, 3, 5), nProbe: Int = 2): String = {
    val last = s"c${Similarity.KmeansIters}"
    val score =
      s"(${graft.functions.Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} / " +
        s"sqrt(${graft.functions.Parity.dotSql("CAST(c.c AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")}))"
    def perK(k: Int): String =
      s"""exact_$k AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |    FROM scored_e) WHERE rank <= $k),
         |approx_$k AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |    FROM scored_p) WHERE rank <= $k),
         |rec_$k AS (
         |  SELECT CAST($k AS BIGINT) AS k,
         |         CAST(count(DISTINCT e.q_id) AS BIGINT) AS n_queries,
         |         CAST(count(a.n_id) AS BIGINT) AS n_hits
         |  FROM exact_$k e LEFT JOIN approx_$k a ON a.q_id = e.q_id AND a.n_id = e.n_id)""".stripMargin
    s"""WITH $kmeansCtes,
       |scored_e AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         round(${graft.functions.Parity.cosineSql("q.e", "c.e")}, 6) AS cos
       |  FROM d q JOIN d c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
       |cs AS (SELECT v.vec_id, c.cid, $score AS ccos FROM d v CROSS JOIN $last c),
       |ranked_cells AS (
       |  SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM cs),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_cells WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, cid FROM ranked_cells
       |           WHERE vec_id < 50 AND rn <= $nProbe),
       |scored_p AS (
       |  SELECT p.q_id, a.n_id, round(${graft.functions.Parity.cosineSql("q.e", "n.e")}, 6) AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
       |  JOIN d q ON q.vec_id = p.q_id
       |  JOIN d n ON n.vec_id = a.n_id),
       |${ks.map(perK).mkString(",\n")}
       |SELECT k, n_queries, n_hits,
       |       n_hits * 1000000 // (n_queries * k) AS recall_ppm
       |FROM (${ks.map(k => s"SELECT * FROM rec_$k").mkString(" UNION ALL ")})
       |ORDER BY k""".stripMargin
  }

  /** Oracle for `ann_ndcg`: the recall oracle's exact/probe ranking
    * chain, graded gains from the exact rank, the SAME literal discount
    * table the engine folds, integer ppm readout.
    */
  private def ivfNdcgOracleSql(k: Int = 10, nProbe: Int = 2): String = {
    val last = s"c${Similarity.KmeansIters}"
    val score =
      s"(${graft.functions.Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} / " +
        s"sqrt(${graft.functions.Parity.dotSql("CAST(c.c AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")}))"
    val idcg = Similarity.ndcgIdeal(k)
    val wCase = "CASE " +
      Similarity
        .ndcgWeights(k)
        .map { case (i, w) => s"WHEN a.rank_a = $i THEN $w" }
        .mkString(" ") + " ELSE 0 END"
    s"""WITH $kmeansCtes,
       |scored_e AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         round(${graft.functions.Parity.cosineSql("q.e", "c.e")}, 6) AS cos
       |  FROM d q JOIN d c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
       |cs AS (SELECT v.vec_id, c.cid, $score AS ccos FROM d v CROSS JOIN $last c),
       |ranked_cells AS (
       |  SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |  FROM cs),
       |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_cells WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, cid FROM ranked_cells
       |           WHERE vec_id < 50 AND rn <= $nProbe),
       |scored_p AS (
       |  SELECT p.q_id, a.n_id, round(${graft.functions.Parity.cosineSql("q.e", "n.e")}, 6) AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
       |  JOIN d q ON q.vec_id = p.q_id
       |  JOIN d n ON n.vec_id = a.n_id),
       |exact_r AS (
       |  SELECT q_id, n_id, rank AS rank_e FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |    FROM scored_e) WHERE rank <= $k),
       |approx_r AS (
       |  SELECT q_id, n_id, rank AS rank_a FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |    FROM scored_p) WHERE rank <= $k),
       |terms AS (
       |  SELECT coalesce($k + 1 - e.rank_e, 0) * ($wCase) AS term
       |  FROM approx_r a LEFT JOIN exact_r e ON e.q_id = a.q_id AND e.n_id = a.n_id),
       |nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries FROM exact_r)
       |SELECT CAST($k AS BIGINT) AS k, CAST($nProbe AS BIGINT) AS n_probe, nq.n_queries,
       |       1000000 * CAST(coalesce(sum(term), 0) AS BIGINT) // (nq.n_queries * $idcg) AS ndcg_ppm
       |FROM terms CROSS JOIN nq GROUP BY nq.n_queries""".stripMargin
  }

  /** Oracle for `ann_kmeans_elbow`: one suffixed Lloyd chain per
    * candidate k, the within-cluster micro² fold per vector, a
    * UNION ALL readout row per k.
    */
  private def kmeansElbowOracleSql(ks: Seq[Int] = Seq(2, 4, 8)): String = {
    val ctes = ks.map(k => kmeansCtesSliced(s"_k$k", 0, Similarity.Dim, k)).mkString(",\n")
    val per = ks
      .map { k =>
        val last = s"c${Similarity.KmeansIters}_k$k"
        s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_vecs,
           |       CAST(sum(sq) AS BIGINT) AS sse,
           |       CAST(sum(sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sqerr
           |FROM (
           |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(list_zip(v.ei, c.c),
           |             s -> (s[1] - s[2]) * (s[1] - s[2]))), (a, x) -> a + x) AS sq
           |  FROM (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
           |          FROM (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
           |                FROM d_k$k v CROSS JOIN $last c)) WHERE rn = 1) a
           |  JOIN d_k$k v ON v.vec_id = a.vec_id
           |  JOIN $last c ON c.cid = a.cid)""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"WITH $ctes\nSELECT * FROM (\n$per\n) ORDER BY k"
  }

  /** Oracle for `emb_knn_graph`: the same Lloyd assignment as the
    * semantic-dedup oracle, then per-vector top-k by (cos desc, nbr)
    * within the cell and the flipped-key self-join for `mutual`.
    */
  private def knnGraphOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}"
    s"""WITH ${kmeansCtesSliced("", 0, Similarity.Dim, graft.operators.Dedup.SemanticCells)},
       |cs AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d v CROSS JOIN $last c),
       |asg AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |          FROM cs) WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
       |         round(${graft.functions.Parity.cosineSql("da.e", "db.e")}, 6) AS cos
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  JOIN d da ON da.vec_id = a.vec_id
       |  JOIN d db ON db.vec_id = b.vec_id),
       |top AS (
       |  SELECT vec_id, nbr_id, CAST(rn AS BIGINT) AS nbr_rank, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rn
       |    FROM cand) WHERE rn <= 3)
       |SELECT t.vec_id, t.nbr_id, t.nbr_rank, t.cos,
       |       (r.vec_id IS NOT NULL) AS mutual
       |FROM top t LEFT JOIN top r ON r.vec_id = t.nbr_id AND r.nbr_id = t.vec_id
       |ORDER BY t.vec_id, t.nbr_rank""".stripMargin
  }

  /** The unrolled Lloyd CTE chain over a contiguous embedding slice
    * (`[lo0+1 .. lo0+dim]`, full vector when sfx is empty) with every CTE
    * name suffixed — lets the PQ oracle train one codebook per subspace
    * from the same generator the full-vector oracles use.
    */
  private def kmeansCtesSliced(
      sfx: String,
      lo0: Int,
      dim: Int,
      cells: Int = Similarity.KmeansCells,
      srcWhere: String = ""): String = {
    val sliced =
      if (sfx.isEmpty) "CAST(embedding AS DOUBLE[])"
      else s"CAST(embedding AS DOUBLE[])[${lo0 + 1}:${lo0 + dim}]"
    val intEmbSql =
      s"list_transform($sliced, x -> CAST(round(x * ${Similarity.KmeansScale}) AS BIGINT))"
    val head = Seq(
      s"d$sfx AS (SELECT vec_id, $sliced AS e, $intEmbSql AS ei FROM embeddings$srcWhere)",
      s"c0$sfx AS (SELECT vec_id AS cid, ei AS c FROM d$sfx WHERE vec_id < $cells)")
    val iters = (1 to Similarity.KmeansIters).flatMap { i =>
      Seq(
        s"""s$i$sfx AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS score
           |        FROM d$sfx v CROSS JOIN c${i - 1}$sfx c)""".stripMargin,
        s"""a$i$sfx AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
           |          FROM s$i$sfx) WHERE rn = 1)""".stripMargin,
        s"""c$i$sfx AS (SELECT cid, list(cv ORDER BY pos) AS c FROM (
           |          SELECT a.cid, CAST(t.i AS INT) AS pos,
           |                 CAST(sum(v.ei[t.i]) // count(*) AS BIGINT) AS cv
           |          FROM a$i$sfx a JOIN d$sfx v ON v.vec_id = a.vec_id
           |          CROSS JOIN range(1, ${dim + 1}) t(i)
           |          GROUP BY 1, 2) GROUP BY cid)""".stripMargin)
    }
    (head ++ iters).mkString(",\n")
  }

  /** First streaming-ingest vector id: embeddings below are the STATIC
    * corpus (the index is trained/built over them), at-or-above are the
    * arriving stream. 400 of 500 harness vectors are static at every SF.
    */
  private val EmbStreamFirstNew = 400L

  /** The external BM25 search: two in-vocabulary terms plus one the
    * index has never seen (drops out via the vocabulary join — the
    * OOV path exercised on every run).
    */
  private val Bm25QueryTerms = Seq("hash", "scan", "zzznosuchterm")

  /** The external ANN search vector: a deterministic 64-dim literal
    * that is NOT a corpus row (the runtime-parameter serving path).
    */
  private val AnnQueryVec: Seq[Double] =
    (0 until Similarity.Dim).map(i => ((i * 37 + 11) % 200 - 100) / 100.0)

  /** First streaming-ingest event id for the anomaly gate: events below
    * are the historical slice the Tukey fences are computed over; at-or-
    * above are the arriving stream (800 historical at every SF — the
    * event_id space starts at 0 in all generations).
    */
  private val EventStreamFirstNew = 800L

  /** Oracle for the streaming-ingest-vs-static-IVF-index query: Lloyd
    * trained on the static subset only, static inverted lists, arriving
    * vectors probe `nProbe` cells, argmax match (k = 1, ties to the
    * lower n_id) — the batch replay of what the stream computes
    * incrementally.
    */
  private def embStreamIvfOracleSql(nProbe: Int): String = {
    val last = s"c${Similarity.KmeansIters}_s"
    val intE =
      s"list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * ${Similarity.KmeansScale}) AS BIGINT))"
    s"""WITH ${kmeansCtesSliced("_s", 0, Similarity.Dim, srcWhere = s" WHERE vec_id < $EmbStreamFirstNew")},
       |dn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, $intE AS ei
       |       FROM embeddings WHERE vec_id >= $EmbStreamFirstNew),
       |sl AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d_s v CROSS JOIN $last c),
       |lists AS (SELECT vec_id AS n_id, cid FROM (
       |            SELECT vec_id, cid,
       |                   row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |            FROM sl) WHERE rn = 1),
       |sq AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM dn v CROSS JOIN $last c),
       |probes AS (SELECT vec_id AS q_id, cid FROM (
       |             SELECT vec_id, cid,
       |                    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |             FROM sq) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, l.n_id, round(${Parity.cosineSql("q.e", "n.e")}, 6) AS cos
       |  FROM probes p
       |  JOIN lists l USING (cid)
       |  JOIN dn q ON q.vec_id = p.q_id
       |  JOIN d_s n ON n.vec_id = l.n_id),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
       |  FROM scored)
       |SELECT q_id, n_id, cos FROM best WHERE rn = 1 ORDER BY q_id""".stripMargin
  }

  /** Oracle for the streaming IVF list upsert: static-slice Lloyd
    * chain, static assignments (the lists), arrival assignments with
    * the SAME centroids, occupancy via a left join on the cell id. */
  private def embStreamIvfUpsertOracleSql: String = {
    val last = s"c${Similarity.KmeansIters}_s"
    val intE =
      s"list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * ${Similarity.KmeansScale}) AS BIGINT))"
    s"""WITH ${kmeansCtesSliced("_s", 0, Similarity.Dim, srcWhere = s" WHERE vec_id < $EmbStreamFirstNew")},
       |dn AS (SELECT vec_id, $intE AS ei
       |       FROM embeddings WHERE vec_id >= $EmbStreamFirstNew),
       |sl AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM d_s v CROSS JOIN $last c),
       |lists AS (SELECT vec_id, cid FROM (
       |            SELECT vec_id, cid,
       |                   row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |            FROM sl) WHERE rn = 1),
       |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_list FROM lists GROUP BY cid),
       |sq AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
       |       FROM dn v CROSS JOIN $last c),
       |asn AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |          FROM sq) WHERE rn = 1)
       |SELECT a.vec_id, a.cid, coalesce(c.n_list, 0) AS n_list
       |FROM asn a LEFT JOIN cnt c ON c.cid = a.cid
       |ORDER BY a.vec_id""".stripMargin
  }

  /** The PQ oracle's CTE bundle: one sliced Lloyd chain per subspace,
    * final-codebook encoding, the query LUT, and the ADC scan, through
    * `pq_ranked` — shared by the top-k and recall oracles.
    */
  private def pqCtes: String = {
    val last = s"c${Similarity.KmeansIters}"
    val sub = (0 until Similarity.PqM).map { m =>
      val sfx = s"_p$m"
      val chain =
        kmeansCtesSliced(sfx, m * Similarity.PqSubDim, Similarity.PqSubDim, Similarity.PqCells)
      val encode =
        s"""se$sfx AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS score
           |        FROM d$sfx v CROSS JOIN $last$sfx c),
           |enc$sfx AS (SELECT vec_id, cid AS code FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
           |          FROM se$sfx) WHERE rn = 1),
           |qt$sfx AS (SELECT v.vec_id AS q_id, c.cid AS code,
           |                  ${Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} AS qdot,
           |                  ${Parity.dotSql("CAST(c.c AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} AS cnorm
           |           FROM d$sfx v CROSS JOIN $last$sfx c WHERE v.vec_id < 50)""".stripMargin
      s"$chain,\n$encode"
    }
    val codesUnion = (0 until Similarity.PqM)
      .map(m => s"SELECT vec_id AS n_id, $m AS m, code FROM enc_p$m")
      .mkString("\n  UNION ALL ")
    val qtabUnion = (0 until Similarity.PqM)
      .map(m => s"SELECT q_id, $m AS m, code, qdot, cnorm FROM qt_p$m")
      .mkString("\n  UNION ALL ")
    s"""${sub.mkString(",\n")},
       |pq_codes AS (
       |  $codesUnion),
       |pq_qtab AS (
       |  $qtabUnion),
       |pq_scored AS (
       |  SELECT q.q_id, c.n_id,
       |         round(sum(q.qdot) / sqrt(sum(q.cnorm) + CAST(1 AS DOUBLE)), 6) AS adc
       |  FROM pq_codes c JOIN pq_qtab q ON q.m = c.m AND q.code = c.code AND q.q_id <> c.n_id
       |  GROUP BY q.q_id, c.n_id),
       |pq_ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS INT) AS rank
       |  FROM pq_scored)""".stripMargin
  }

  /** PQ distortion oracle: the same per-subspace kmeans + encode CTEs,
    * exact integer Σ(x−c)² per vector, 8-row rollup. */
  private def pqDistortionOracleSql: String = {
    val per = (0 until Similarity.PqM)
      .map { m =>
        val sfx = s"_p$m"
        val last = s"c${Similarity.KmeansIters}$sfx"
        s"""SELECT CAST($m AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_vecs,
           |       CAST(sum(sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_sqerr
           |FROM (
           |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(list_zip(v.ei, c.c),
           |             s -> (s[1] - s[2]) * (s[1] - s[2]))), (a, x) -> a + x) AS sq
           |  FROM enc$sfx e JOIN d$sfx v ON v.vec_id = e.vec_id
           |  JOIN $last c ON c.cid = e.code)""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"WITH $pqCtes\nSELECT * FROM (\n$per\n) ORDER BY m"
  }

  /** Oracles for the north-star extension queries; hash/vector fragments
    * are generated by the same [[Parity]] constants the Spark side uses.
    */
  private def extensionOracles: Map[String, String] = {
    val codes = Parity.tokenCodesSql("text")
    val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
    val toks = Parity.tokensSql("text")
    val h40s =
      s"list_transform(${Parity.shinglesSql(Parity.tokensSql("text"))}, tok -> ${Parity.tokenH40Sql("tok")})"
    val bandedUnion = (0 until Dedup.MinhashBands)
      .map(i =>
        s"SELECT doc_id, sig, $i AS band_idx, " +
          s"${Parity.bandValSql("sig", i, Dedup.MinhashR)} AS band_val FROM sigs")
      .mkString("\n  UNION ALL ")
    val chunkedUnion = (0 until Dedup.SimhashChunks)
      .map(i =>
        s"SELECT doc_id, simhash, $i AS chunk_idx, " +
          s"((simhash >> ${i * Dedup.SimhashChunkBits}) & ${(1L << Dedup.SimhashChunkBits) - 1}) AS chunk_val FROM sims")
      .mkString("\n  UNION ALL ")
    val sigMatch =
      "round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_zip(a.sig, b.sig), " +
        "s -> CASE WHEN s[1] = s[2] THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
        s"(acc, x) -> acc + x) AS DOUBLE) / ${Dedup.MinhashK}.0, 6)"
    val shingleSql = Parity.shinglesSql("t")
    // per-doc keep verdict CTE body (shared by dedup_verdict and the
    // pipeline_modern composition — one source of truth for the stack)
    val verdictDupCtes =
      s"""mt AS (SELECT text AS t, min(doc_id) AS min_id FROM documents GROUP BY text),
         |ex AS (SELECT d.doc_id FROM documents d
         |       JOIN mt ON d.text IS NOT DISTINCT FROM mt.t
         |       WHERE d.doc_id <> mt.min_id),
         |sigs AS (
         |  SELECT doc_id, ${Parity.minhashSigSql(Parity.tokenCodesSql("text"), Dedup.MinhashK)} AS sig FROM documents),
         |banded AS (
         |  $bandedUnion),
         |mh AS (SELECT DISTINCT b.doc_id
         |       FROM banded a JOIN banded b
         |         ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |        AND a.doc_id < b.doc_id
         |       WHERE $sigMatch >= 0.5),
         |sims AS (
         |  SELECT doc_id, ${Parity.simhashSql(h40s)} AS simhash FROM documents),
         |chunked AS (
         |  $chunkedUnion),
         |sh AS (SELECT DISTINCT b.doc_id
         |       FROM chunked a JOIN chunked b
         |         ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         |        AND a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimhashMaxHamming}),
         |ngsh AS (SELECT doc_id, lang, ${Parity.shinglesSql("t")} AS s
         |         FROM (SELECT doc_id, lang, ${Parity.tokensSql("text")} AS t FROM documents)),
         |nginv AS (SELECT doc_id, lang, unnest(s) AS g FROM ngsh),
         |ngkeep AS (SELECT lang, g FROM nginv GROUP BY lang, g
         |           HAVING count(*) <= ${Dedup.MaxShingleDf}),
         |ngcap AS (SELECT i.doc_id, i.lang, i.g FROM nginv i JOIN ngkeep k USING (lang, g)),
         |ngsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
         |            FROM ngcap GROUP BY doc_id),
         |nginter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                   CAST(count(*) AS BIGINT) AS inter
         |            FROM ngcap a JOIN ngcap b
         |              ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
         |            GROUP BY 1, 2),
         |ng AS (SELECT doc_b AS doc_id FROM (
         |         SELECT i.doc_a, i.doc_b,
         |                round(CAST(i.inter AS DOUBLE) /
         |                      (sa.n_sh + sb.n_sh - i.inter), 6) AS jac
         |         FROM nginter i JOIN ngsizes sa ON sa.doc_id = i.doc_a
         |                        JOIN ngsizes sb ON sb.doc_id = i.doc_b)
         |       WHERE jac >= 0.5)""".stripMargin
    val fmt = "'%Y-%m-%d %H:%M:%S'"
    val tumblingSql =
      s"""SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), $fmt) AS ws,
         |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin
    val slidingSql =
      s"""WITH w AS (
         |  SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), $fmt) AS ws, event_type, value FROM events
         |  UNION ALL
         |  SELECT strftime(time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', $fmt), event_type, value FROM events)
         |SELECT ws, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         |FROM w GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin
    val langIdSql =
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter($toks, t -> t IN $stopList)) AS BIGINT) AS n_stop,
         |         CAST(len(list_filter($toks, t -> regexp_matches(t, '[aeiou]$$'))) AS DOUBLE) /
         |           greatest(CAST(len($toks) AS DOUBLE), 1.0) AS vr
         |  FROM documents)
         |SELECT doc_id,
         |       CASE WHEN n_stop >= 2 THEN 'en' WHEN vr > 0.5 THEN 'es' ELSE 'other' END AS pred_lang,
         |       round(vr + 1e-9, 6) AS vowel_ratio, n_stop
         |FROM f""".stripMargin
    val qualitySql =
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |         CAST(len($toks) AS BIGINT) AS n_tokens,
         |         CAST(greatest(len($toks), 1) AS DOUBLE) AS nts,
         |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform($toks, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS DOUBLE) AS tot_len,
         |         CAST(len(list_filter($toks, t -> t IN $stopList)) AS DOUBLE) AS n_stop,
         |         CAST(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS DOUBLE) /
         |           greatest(CAST(length(text) AS DOUBLE), 1.0) AS alnum_ratio
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |       round(tot_len / nts + 1e-9, 6) AS mean_tok_len,
         |       round(n_stop / nts + 1e-9, 6) AS stop_ratio,
         |       round(alnum_ratio + 1e-9, 6) AS alnum_ratio,
         |       round(least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4 +
         |             (n_stop / nts) * 0.3 + alnum_ratio * 0.3 + 1e-9, 6) AS quality
         |FROM f""".stripMargin
    val lshTableUnion = (0 until Similarity.NTables)
      .map(t =>
        s"SELECT vec_id, e, $t AS tbl, " +
          s"${Parity.rpBucketSql("e", Similarity.PlanesPerTable, Similarity.Dim, t * Similarity.PlanesPerTable)} AS bucket FROM d")
      .mkString("\n  UNION ALL ")
    val sessionizeSql =
      s"""WITH m AS (
         |  SELECT user_id, event_id, ts, value,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |s AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0
         |                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_new
         |  FROM m),
         |n AS (
         |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM s)
         |SELECT user_id, session_id, count(*) AS n_events,
         |       strftime(min(ts), $fmt) AS session_start,
         |       round(sum(value), 2) AS sum_value
         |FROM n GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin
    val allShingles = Parity.shinglesAllSql("t")
    val fromToks = s"(SELECT doc_id, $toks AS t FROM documents)"
    val quantilesBinnedOracleSql =
      """WITH hist AS (
        |  SELECT event_type, CAST(floor(value * 4) AS BIGINT) AS bin, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM hist),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |p50 AS (SELECT c.event_type, min(bin) AS b50
        |        FROM cum c JOIN t ON t.event_type = c.event_type
        |        WHERE c.cum >= (t.n + 1) // 2 GROUP BY 1),
        |p95 AS (SELECT c.event_type, min(bin) AS b95
        |        FROM cum c JOIN t ON t.event_type = c.event_type
        |        WHERE c.cum >= (19 * t.n + 19) // 20 GROUP BY 1)
        |SELECT t.event_type, t.n,
        |       round((b50 + 0.5) / 4.0, 6) AS p50_est,
        |       round((b95 + 0.5) / 4.0, 6) AS p95_est
        |FROM t JOIN p50 USING (event_type) JOIN p95 USING (event_type)
        |ORDER BY event_type""".stripMargin

    Map(
      "dedup_exact" ->
        """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
          |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
      "dedup_minhash_lsh" ->
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $sigMatch AS est_jaccard
           |FROM banded a JOIN banded b
           |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_lsh_scurve" -> {
        // independent re-derivation of the exact rational S-curve via
        // HUGEINT multiplication chains (the engine folds a BigInt
        // literal table — the gate cross-checks the two arithmetics)
        def hmul(term: String, n: Int): String = Seq.fill(n)(term).mkString(" * ")
        val arms = Dedup.LshGrid
          .map { case (b, r) =>
            val den = BigInt(Dedup.MinhashK).pow(r * b)
            val kr = hmul("CAST(k_match AS HUGEINT)", r)
            val inner = s"(CAST('${BigInt(Dedup.MinhashK).pow(r)}' AS HUGEINT) - $kr)"
            s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
               |       k_match, n_pairs,
               |       CAST((1000000 * (CAST('$den' AS HUGEINT) - ${hmul(inner, b)}))
               |            // CAST('$den' AS HUGEINT) AS BIGINT) AS collide_micro
               |FROM byk""".stripMargin
          }
          .mkString("\nUNION ALL\n")
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $sigMatch AS est_jaccard
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |byk AS (
           |  SELECT CAST(round(est_jaccard * ${Dedup.MinhashK}) AS BIGINT) AS k_match,
           |         CAST(count(*) AS BIGINT) AS n_pairs
           |  FROM cands GROUP BY 1)
           |$arms
           |ORDER BY bands, k_match""".stripMargin
      },
      "dedup_minhash_pr" ->
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $sigMatch AS est_jaccard
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |tc AS (SELECT doc_id, list_distinct($codes) AS cs FROM documents),
           |tok AS (SELECT doc_id, unnest(cs) AS c FROM tc),
           |sizes AS (SELECT doc_id, CAST(len(cs) AS BIGINT) AS n FROM tc),
           |inter AS (
           |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
           |  FROM cands p
           |  JOIN tok a ON a.doc_id = p.doc_a
           |  JOIN tok b ON b.doc_id = p.doc_b AND b.c = a.c
           |  GROUP BY 1, 2),
           |scored AS (
           |  SELECT (c.est_jaccard >= 0.5) AS pred,
           |         CASE WHEN sa.n + sb.n - coalesce(i.i, 0) = 0 THEN TRUE
           |              ELSE round(CAST(coalesce(i.i, 0) AS DOUBLE)
           |                         / (sa.n + sb.n - coalesce(i.i, 0)), 6) >= 0.5 END AS truth
           |  FROM cands c
           |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
           |  JOIN sizes sa ON sa.doc_id = c.doc_a
           |  JOIN sizes sb ON sb.doc_id = c.doc_b),
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
           |         CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |         CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |         CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |         CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |  FROM scored)
           |SELECT n_cand, tp, fp, fn, tn,
           |       CASE WHEN tp + fp = 0 THEN NULL
           |            ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
           |       CASE WHEN tp + fn = 0 THEN NULL
           |            ELSE tp * 1000000 // (tp + fn) END AS recall_ppm
           |FROM agg""".stripMargin,
      "dedup_simhash" ->
        s"""WITH sims AS (
           |  SELECT doc_id, ${Parity.simhashSql(h40s)} AS simhash FROM documents),
           |chunked AS (
           |  $chunkedUnion)
           |SELECT * FROM (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |  FROM chunked a JOIN chunked b
           |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
           |WHERE hamming <= ${Dedup.SimhashMaxHamming} ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_probe_simhash" -> {
        val qcUnion = (0 until Dedup.SimhashChunks)
          .map(i =>
            s"SELECT $i AS chunk_idx, " +
              s"((simhash >> ${i * Dedup.SimhashChunkBits}) & ${(1L << Dedup.SimhashChunkBits) - 1}) AS chunk_val FROM q")
          .mkString("\n  UNION ALL ")
        s"""WITH sims AS (
           |  SELECT doc_id, ${Parity.simhashSql(h40s)} AS simhash FROM documents),
           |chunked AS (
           |  $chunkedUnion),
           |q AS (SELECT simhash FROM sims WHERE doc_id = 0),
           |qc AS (
           |  $qcUnion),
           |cand AS (
           |  SELECT o.doc_id,
           |         min(CAST(bit_count(xor(o.simhash, q.simhash)) AS BIGINT)) AS hamming
           |  FROM chunked o JOIN qc USING (chunk_idx, chunk_val) CROSS JOIN q
           |  GROUP BY o.doc_id)
           |SELECT doc_id, hamming FROM cand
           |WHERE hamming <= ${Dedup.SimhashMaxHamming}
           |ORDER BY hamming, doc_id LIMIT 10""".stripMargin
      },
      "pipeline_rag" ->
        s"SELECT * FROM (${TextOps.ragRetrieveSql()}) ORDER BY query_id, rank",
      "pipeline_modern" ->
        s"""WITH gop AS (${TextOps.gopherRulesSql().replace("\n", "\n  ")}),
           |vd AS (WITH ${verdictDupCtes.replace("\n", "\n  ")}
           |  SELECT d.doc_id,
           |         NOT (d.doc_id IN (SELECT doc_id FROM ex) OR
           |              d.doc_id IN (SELECT doc_id FROM mh) OR
           |              d.doc_id IN (SELECT doc_id FROM sh) OR
           |              d.doc_id IN (SELECT doc_id FROM ng)) AS keep
           |  FROM documents d),
           |wt AS (${TextOps.dsirWeightsSql().replace("\n", "\n  ")})
           |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN gop.pass AND vd.keep AND wt.llr > 0.0
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       CAST(sum(CASE WHEN gop.pass AND vd.keep AND wt.llr > 0.0
           |                     THEN wt.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
           |FROM documents d JOIN gop USING (doc_id) JOIN vd USING (doc_id)
           |JOIN wt USING (doc_id)
           |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
      "dedup_verdict_multimodal" ->
        s"""WITH vd AS (WITH ${verdictDupCtes.replace("\n", "\n  ")}
           |  SELECT d.doc_id,
           |         d.doc_id IN (SELECT doc_id FROM ex) AS exact_dup,
           |         d.doc_id IN (SELECT doc_id FROM mh) AS minhash_dup,
           |         d.doc_id IN (SELECT doc_id FROM sh) AS simhash_dup,
           |         d.doc_id IN (SELECT doc_id FROM ng) AS ngram_dup
           |  FROM documents d),
           |ph AS (${Multimodal.phashDupDocIdsSql.replace("\n", "\n  ")}),
           |sem AS (${semanticDedupOracleSql.replace("\n", "\n  ")})
           |SELECT v.doc_id, v.exact_dup, v.minhash_dup, v.simhash_dup, v.ngram_dup,
           |       v.doc_id IN (SELECT doc_id FROM ph) AS phash_dup,
           |       coalesce(s.is_dup, false) AS semantic_dup,
           |       NOT (v.exact_dup OR v.minhash_dup OR v.simhash_dup OR v.ngram_dup OR
           |            v.doc_id IN (SELECT doc_id FROM ph) OR
           |            coalesce(s.is_dup, false)) AS keep
           |FROM vd v LEFT JOIN sem s ON s.vec_id = v.doc_id
           |ORDER BY v.doc_id""".stripMargin,
      "dedup_verdict" ->
        s"""WITH $verdictDupCtes
           |SELECT d.doc_id,
           |       d.doc_id IN (SELECT doc_id FROM ex) AS exact_dup,
           |       d.doc_id IN (SELECT doc_id FROM mh) AS minhash_dup,
           |       d.doc_id IN (SELECT doc_id FROM sh) AS simhash_dup,
           |       d.doc_id IN (SELECT doc_id FROM ng) AS ngram_dup,
           |       NOT (d.doc_id IN (SELECT doc_id FROM ex) OR
           |            d.doc_id IN (SELECT doc_id FROM mh) OR
           |            d.doc_id IN (SELECT doc_id FROM sh) OR
           |            d.doc_id IN (SELECT doc_id FROM ng)) AS keep
           |FROM documents d ORDER BY d.doc_id""".stripMargin,
      "dedup_detector_kappa" ->
        s"""WITH $verdictDupCtes,
           |vt AS (
           |  SELECT d.doc_id,
           |         CAST(d.doc_id IN (SELECT doc_id FROM ex) AS BIGINT) AS ex_f,
           |         CAST(d.doc_id IN (SELECT doc_id FROM mh) AS BIGINT) AS mh_f,
           |         CAST(d.doc_id IN (SELECT doc_id FROM sh) AS BIGINT) AS sh_f,
           |         CAST(d.doc_id IN (SELECT doc_id FROM ng) AS BIGINT) AS ng_f
           |  FROM documents d),
           |lf AS (
           |  SELECT unnest([
           |    {'det_a': 'exact', 'det_b': 'minhash', 'a': ex_f, 'b': mh_f},
           |    {'det_a': 'exact', 'det_b': 'ngram', 'a': ex_f, 'b': ng_f},
           |    {'det_a': 'exact', 'det_b': 'simhash', 'a': ex_f, 'b': sh_f},
           |    {'det_a': 'minhash', 'det_b': 'ngram', 'a': mh_f, 'b': ng_f},
           |    {'det_a': 'minhash', 'det_b': 'simhash', 'a': mh_f, 'b': sh_f},
           |    {'det_a': 'ngram', 'det_b': 'simhash', 'a': ng_f, 'b': sh_f}],
           |    recursive := true)
           |  FROM vt),
           |agg AS (
           |  SELECT det_a, det_b, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |         CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
           |  FROM lf GROUP BY 1, 2)
           |SELECT det_a, det_b, n, n_agree,
           |       CASE WHEN n * n - (na * nb + (n - na) * (n - nb)) = 0 THEN NULL
           |            ELSE CAST(round(
           |              CAST(n * n_agree - (na * nb + (n - na) * (n - nb)) AS DOUBLE)
           |              / CAST(n * n - (na * nb + (n - na) * (n - nb)) AS DOUBLE)
           |              * 1000000) AS BIGINT) END AS kappa_micro
           |FROM agg ORDER BY det_a, det_b""".stripMargin,
      "dedup_simhash_stored" ->
        s"""WITH sims AS (
           |  SELECT doc_id, ${Parity.simhashSql(h40s)} AS simhash FROM documents),
           |chunked AS (
           |  $chunkedUnion),
           |cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id,
           |         CAST(bit_count(xor(n.simhash, o.simhash)) AS BIGINT) AS hamming
           |  FROM chunked n JOIN chunked o
           |    ON n.chunk_idx = o.chunk_idx AND n.chunk_val = o.chunk_val
           |   AND n.doc_id >= 400 AND o.doc_id < 400),
           |best AS (
           |  SELECT new_id, old_id, hamming FROM (
           |    SELECT new_id, old_id, hamming,
           |           row_number() OVER (PARTITION BY new_id
           |                              ORDER BY hamming, old_id) AS rn
           |    FROM cand WHERE hamming <= ${Dedup.SimhashMaxHamming}) WHERE rn = 1)
           |SELECT d.doc_id, b.old_id AS best_old, coalesce(b.hamming, -1) AS hamming
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
           |LEFT JOIN best b ON b.new_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "dedup_probe_stored" -> {
        val mInt = "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(list_zip(q.sig, o.sig), " +
          "s -> CASE WHEN s[1] = s[2] THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
          "(acc, x) -> acc + x) AS BIGINT)"
        val qbUnion = (0 until Dedup.MinhashBands)
          .map(i =>
            s"SELECT $i AS band_idx, " +
              s"${Parity.bandValSql("sig", i, Dedup.MinhashR)} AS band_val FROM q")
          .mkString("\n  UNION ALL ")
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |q AS (SELECT sig FROM sigs WHERE doc_id = 0),
           |qb AS (
           |  $qbUnion),
           |cand AS (
           |  SELECT o.doc_id, max($mInt) AS n_match
           |  FROM banded o JOIN qb USING (band_idx, band_val) CROSS JOIN q
           |  GROUP BY o.doc_id)
           |SELECT doc_id, n_match,
           |       round(CAST(n_match AS DOUBLE) / ${Dedup.MinhashK}, 6) AS est_jaccard
           |FROM cand ORDER BY n_match DESC, doc_id LIMIT 10""".stripMargin
      },
      "dedup_minhash_stored" -> {
        val mInt = "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(list_zip(n.sig, o.sig), " +
          "s -> CASE WHEN s[1] = s[2] THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
          "(acc, x) -> acc + x) AS BIGINT)"
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id, $mInt AS m
           |  FROM banded n JOIN banded o
           |    ON n.band_idx = o.band_idx AND n.band_val = o.band_val
           |   AND n.doc_id >= 400 AND o.doc_id < 400),
           |best AS (
           |  SELECT new_id, m, old_id, n_cand FROM (
           |    SELECT new_id, m, old_id,
           |           CAST(count(*) OVER (PARTITION BY new_id) AS BIGINT) AS n_cand,
           |           row_number() OVER (PARTITION BY new_id ORDER BY m DESC, old_id) AS rn
           |    FROM cand) WHERE rn = 1)
           |SELECT d.doc_id, coalesce(b.n_cand, 0) AS n_cand, b.old_id AS best_old,
           |       coalesce(b.m, 0) AS match_k
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
           |LEFT JOIN best b ON b.new_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin
      },
      "dedup_incremental" ->
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |near AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
           |  FROM banded n JOIN banded o
           |    ON n.band_idx = o.band_idx AND n.band_val = o.band_val
           |   AND n.doc_id >= 400 AND o.doc_id < 400),
           |nagg AS (
           |  SELECT new_id, CAST(count(*) AS BIGINT) AS n_near, min(old_id) AS near_canon
           |  FROM near GROUP BY new_id),
           |ex AS (
           |  SELECT DISTINCT i.doc_id
           |  FROM documents i JOIN documents e ON i.text = e.text AND e.doc_id < 400
           |  WHERE i.doc_id >= 400)
           |SELECT d.doc_id, (ex.doc_id IS NOT NULL) AS exact_dup,
           |       coalesce(nagg.n_near, 0) AS n_near, nagg.near_canon
           |FROM documents d
           |LEFT JOIN ex ON ex.doc_id = d.doc_id
           |LEFT JOIN nagg ON nagg.new_id = d.doc_id
           |WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin,
      "dedup_source_matrix" -> {
        val nMatch =
          "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            "list_transform(list_zip(a.sig, b.sig), " +
            "s -> CASE WHEN s[1] = s[2] THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
            "(acc, x) -> acc + x)"
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $nMatch AS n_match
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |m AS (
           |  SELECT least(sa.source, sb.source) AS source_a,
           |         greatest(sa.source, sb.source) AS source_b, p.n_match
           |  FROM pairs p JOIN documents sa ON sa.doc_id = p.doc_a
           |               JOIN documents sb ON sb.doc_id = p.doc_b)
           |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           |       round(CAST(sum(n_match) AS DOUBLE)
           |             / CAST(count(*) * ${Dedup.MinhashK} AS DOUBLE), 6) AS mean_est_jaccard
           |FROM m GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin
      },
      "dedup_clusters" ->
        s"""WITH RECURSIVE sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |        UNION ALL SELECT doc_b, doc_a FROM pairs),
           |${ccCompCtes()}
           |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
           |       coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           |ORDER BY doc_id""".stripMargin,
      "dedup_minhash_compact" ->
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion)
           |SELECT band_idx, band_val, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN doc_id >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           |       count(*) <= ${Dedup.CompactBucketCap} AS kept
           |FROM banded GROUP BY band_idx, band_val
           |ORDER BY band_idx, band_val""".stripMargin,
      "dedup_survivors" ->
        s"""WITH RECURSIVE sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |        UNION ALL SELECT doc_b, doc_a FROM pairs),
           |${ccCompCtes()},
           |cl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
           |       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
           |q AS (SELECT doc_id, quality FROM ($qualitySql)),
           |j AS (SELECT cl.doc_id, cl.cluster, q.quality FROM cl JOIN q ON q.doc_id = cl.doc_id),
           |best AS (SELECT cluster, max(quality) AS mq FROM j GROUP BY cluster),
           |surv AS (SELECT j.cluster, min(j.doc_id) AS survivor_id
           |         FROM j JOIN best b ON b.cluster = j.cluster AND j.quality = b.mq
           |         GROUP BY j.cluster)
           |SELECT j.doc_id, j.cluster, s.survivor_id,
           |       j.doc_id = s.survivor_id AS is_survivor, j.quality
           |FROM j JOIN surv s ON s.cluster = j.cluster
           |ORDER BY j.doc_id""".stripMargin,
      "dedup_paragraph" ->
        s"""WITH paras AS (
           |  ${TextOps.chunkSql(Dedup.ParaChars, Dedup.ParaChars)}),
           |own AS (SELECT chunk, min(doc_id) AS odoc FROM paras GROUP BY chunk),
           |own2 AS (SELECT p.chunk, o.odoc, min(p.chunk_idx) AS oidx
           |         FROM paras p JOIN own o ON p.chunk = o.chunk AND p.doc_id = o.odoc
           |         GROUP BY p.chunk, o.odoc),
           |m AS (SELECT p.doc_id, p.chunk_chars,
           |             (p.doc_id = o.odoc AND p.chunk_idx = o.oidx) AS kept
           |      FROM paras p JOIN own2 o ON o.chunk = p.chunk)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
           |       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           |       CAST(sum(CASE WHEN kept THEN chunk_chars ELSE 0 END) AS BIGINT) AS chars_kept,
           |       round(CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS DOUBLE)
           |             / CAST(count(*) AS DOUBLE), 6) AS dup_para_ratio
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "dedup_clusters_multimodal" ->
        s"""WITH RECURSIVE mhp AS (
           |  WITH sigs AS (
           |    SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |  banded AS (
           |    $bandedUnion)
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
           |php AS (${Multimodal.phashDedupSql.replace("\n", "\n  ")}),
           |semp AS (
           |  WITH ${kmeansCtesSliced("", 0, Similarity.Dim, Dedup.SemanticCells).replace("\n", "\n  ")},
           |  cs AS (SELECT v.vec_id, c.cid, ${kmeansScoreSql("v.ei", "c.c")} AS ccos
           |         FROM d v CROSS JOIN c${Similarity.KmeansIters} c),
           |  rc AS (SELECT vec_id, cid,
           |                row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
           |         FROM cs),
           |  asg AS (SELECT vec_id, cid FROM rc WHERE rn = 1)
           |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN d da ON da.vec_id = a.vec_id
           |  JOIN d db ON db.vec_id = b.vec_id
           |  WHERE round(${Parity.cosineSql("da.e", "db.e")}, 6) >= 0.4),
           |allp AS (
           |  SELECT doc_a, doc_b FROM mhp
           |  UNION SELECT a_id, b_id FROM php
           |  UNION SELECT doc_a, doc_b FROM semp),
           |und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM allp
           |        UNION ALL SELECT doc_b, doc_a FROM allp),
           |${ccCompCtes()}
           |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
           |       coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           |ORDER BY doc_id""".stripMargin,
      "dedup_ngram_jaccard" ->
        s"""WITH sh AS (
           |  SELECT doc_id, lang, $shingleSql AS s
           |  FROM (SELECT doc_id, lang, $toks AS t FROM documents)),
           |inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
           |keep AS (SELECT lang, g FROM inv GROUP BY lang, g
           |         HAVING count(*) <= ${Dedup.MaxShingleDf}),
           |cap AS (SELECT i.doc_id, i.lang, i.g FROM inv i JOIN keep k USING (lang, g)),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM cap GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
           |          FROM cap a JOIN cap b
           |            ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter, uni, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
           |FROM (SELECT i.doc_a, i.doc_b, i.inter,
           |             CAST(sa.n_sh + sb.n_sh - i.inter AS BIGINT) AS uni
           |      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
           |                   JOIN sizes sb ON sb.doc_id = i.doc_b)
           |ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_prefix_jaccard" ->
        s"SELECT * FROM (${Dedup.prefixFilterPairsSql()}) ORDER BY doc_a, doc_b",
      "dedup_containment" ->
        s"""WITH sh AS (
           |  SELECT doc_id, lang, $shingleSql AS s
           |  FROM (SELECT doc_id, lang, $toks AS t FROM documents)),
           |inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
           |keep AS (SELECT lang, g FROM inv GROUP BY lang, g
           |         HAVING count(*) <= ${Dedup.MaxShingleDf}),
           |cap AS (SELECT i.doc_id, i.lang, i.g FROM inv i JOIN keep k USING (lang, g)),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM cap GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
           |          FROM cap a JOIN cap b
           |            ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2),
           |sc AS (SELECT i.doc_a, i.doc_b, i.inter,
           |              round(CAST(i.inter AS DOUBLE) / sa.n_sh, 6) AS cont_a,
           |              round(CAST(i.inter AS DOUBLE) / sb.n_sh, 6) AS cont_b
           |       FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
           |                    JOIN sizes sb ON sb.doc_id = i.doc_b)
           |SELECT * FROM sc WHERE greatest(cont_a, cont_b) >= ${Dedup.ContainmentT}
           |ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_embedding_cosine" ->
        s"""WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
           |SELECT * FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |         round(${Parity.cosineSql("a.e", "b.e")}, 6) AS cos
           |  FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id)
           |WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
      "dedup_embedding_lsh" ->
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |b AS (
           |  $lshTableUnion),
           |pairs AS (
           |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           |         max(round(${Parity.cosineSql("a.e", "b2.e")}, 6)) AS cos
           |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
           |  GROUP BY 1, 2)
           |SELECT * FROM pairs WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
      "dedup_threshold_sweep" ->
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |b AS (
           |  $lshTableUnion),
           |pairs AS (
           |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           |         max(round(${Parity.cosineSql("a.e", "b2.e")}, 6)) AS cos
           |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
           |  GROUP BY 1, 2),
           |t AS (SELECT unnest([CAST(0.3 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS threshold)
           |SELECT t.threshold,
           |       CAST((SELECT count(*) FROM pairs p WHERE p.cos >= t.threshold) AS BIGINT) AS n_pairs,
           |       CAST((SELECT count(DISTINCT id) FROM (
           |              SELECT vec_a AS id FROM pairs WHERE cos >= t.threshold
           |              UNION ALL SELECT vec_b FROM pairs WHERE cos >= t.threshold)) AS BIGINT) AS n_flagged
           |FROM t ORDER BY threshold""".stripMargin,
      "pipeline_curate" ->
        s"""WITH c AS (
           |  SELECT doc_id,
           |         doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
           |  FROM documents),
           |q AS ($qualitySql),
           |l AS ($langIdSql)
           |SELECT c.doc_id, c.is_canonical, q.quality, l.pred_lang,
           |       (c.is_canonical AND q.quality >= 0.5 AND l.pred_lang = 'en') AS kept
           |FROM c JOIN q ON q.doc_id = c.doc_id JOIN l ON l.doc_id = c.doc_id
           |ORDER BY c.doc_id""".stripMargin,
      "pipeline_e2e" -> {
        val stride = TextOps.ChunkStride
        val size = TextOps.ChunkSize
        s"""WITH c AS (
           |  SELECT doc_id,
           |         doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
           |  FROM documents),
           |q AS ($qualitySql),
           |l AS ($langIdSql),
           |kept AS (
           |  SELECT d.doc_id, d.text, d.lang
           |  FROM documents d
           |  JOIN c ON c.doc_id = d.doc_id
           |  JOIN q ON q.doc_id = d.doc_id
           |  JOIN l ON l.doc_id = d.doc_id
           |  WHERE c.is_canonical AND q.quality >= 0.5 AND l.pred_lang = 'en'),
           |ex AS (
           |  SELECT doc_id * 10000 + chunk_idx AS doc_id,
           |         substr(t, CAST(1 + chunk_idx * $stride AS INT), $size) AS text,
           |         lang
           |  FROM (SELECT doc_id, lang, coalesce(text, '') AS t,
           |               unnest(range(0, greatest(length(coalesce(text, '')) - 1, 0) // $stride + 1)) AS chunk_idx
           |        FROM kept)),
           |pt AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens FROM ex),
           |packed AS (
           |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
           |  FROM pt),
           |sh AS (
           |  SELECT doc_id, shard,
           |         CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
           |  FROM (SELECT doc_id,
           |               ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761 + 1)
           |                 % 1000000007 AS k,
           |               (((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761 + 1)
           |                 % 1000000007) % ${TextOps.NShards} AS shard
           |        FROM ex))
           |SELECT p.doc_id AS example_id, p.lang, p.n_tokens,
           |       CAST(p.cum // 512 AS BIGINT) AS bin,
           |       CAST(p.cum % 512 AS BIGINT) AS "offset",
           |       s.shard, s.pos
           |FROM packed p JOIN sh s ON s.doc_id = p.doc_id
           |ORDER BY s.shard, s.pos""".stripMargin
      },
      "csv_source_agg" ->
        """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n,
          |       round(sum(CAST(s_acctbal AS DOUBLE)), 2) AS sum_bal
          |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin,
      "json_source_agg" ->
        """SELECT c_mktsegment, count(*) AS n,
          |       round(sum(CAST(c_acctbal AS DOUBLE)), 2) AS sum_bal
          |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
      "gz_source_agg" ->
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(length(text)) AS BIGINT) AS n_chars
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "evolve_source_agg" ->
        s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CASE WHEN c_custkey < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           |       round(sum(CASE WHEN c_custkey >= 1000
           |                      THEN CAST(c_acctbal AS DOUBLE) ELSE 0.0 END), 2) AS sum_bal_new
           |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
      "orc_source_agg" ->
        """SELECT p_brand, count(*) AS n,
          |       round(sum(CAST(p_retailprice AS DOUBLE)), 2) AS sum_price
          |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,
      "text_unigram_lm" -> (TextOps.unigramScoreSql() + "\nORDER BY doc_id"),
      "doc_ppl_buckets" -> (TextOps.pplBucketsSql() + "\nORDER BY doc_id"),
      "doc_budget_select" -> (TextOps.budgetSelectSql() + "\nORDER BY doc_id"),
      // apply-on-train reproduces the self-trained scores exactly — the
      // stored-model query shares the oracle
      "lm_apply_stored" -> (TextOps.unigramScoreSql() + "\nORDER BY doc_id"),
      "text_bigram_lm" -> (TextOps.bigramScoreSql() + "\nORDER BY doc_id"),
      "text_kn_score" ->
        s"SELECT * FROM (${TextOps.knScoreSql()}) ORDER BY doc_id",
      "doc_excess_loss" -> (TextOps.excessLossSql() + "\nORDER BY doc_id"),
      "source_kl_drift" -> (TextOps.sourceKlDriftSql() + "\nORDER BY source"),
      "text_jsd_sources" ->
        (TextOps.jsdSourceMatrixSql() + "\nORDER BY source_a, source_b"),
      "doc_weighted_sample" ->
        s"SELECT * FROM (${TextOps.weightedSampleSql(k = 100)}) ORDER BY doc_id",
      "doc_weighted_sample_grouped" ->
        (TextOps.weightedSampleGroupedSql(kPerGroup = 10) + "\nORDER BY source, rank"),
      "text_gopher_rules" -> (TextOps.gopherRulesSql() + "\nORDER BY doc_id"),
      "doc_dsir_weights" -> (TextOps.dsirWeightsSql() + "\nORDER BY doc_id"),
      "doc_dsir_select" -> TextOps.dsirSelectSql(),
      // apply-on-train reproduces the self-trained weights exactly
      "doc_dsir_stored" -> (TextOps.dsirWeightsSql() + "\nORDER BY doc_id"),
      "ann_brute_topk" ->
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM d q JOIN d c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ranked AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
           |  FROM scored)
           |SELECT * FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "ann_matryoshka_recall" ->
        s"SELECT * FROM (${Similarity.matryoshkaRecallSql(nQueries = 10, k = 5)}) ORDER BY dim",
      "ann_knn_eval" ->
        s"SELECT * FROM (${Similarity.knnEvalSql(k = 5)}) ORDER BY label_true, label_pred",
      "ann_lsh_topk" -> {
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |b AS (
           |  $lshTableUnion),
           |scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         max(round(${Parity.cosineSql("q.e", "c.e")}, 6)) AS cos
           |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
           |    AND q.vec_id < 50 AND q.vec_id <> c.vec_id
           |  GROUP BY 1, 2),
           |ranked AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
           |  FROM scored)
           |SELECT * FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      },
      "ann_topk_agg" ->
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM d q JOIN d c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ranked AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
           |  FROM scored)
           |SELECT * FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "ann_ivf_topk" ->
        s"""WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |cent AS (
           |  SELECT label AS cid, list(centroid ORDER BY dim) AS c
           |  FROM (SELECT label, CAST(t.i AS INT) AS dim, round(avg(e[t.i]), 6) AS centroid
           |        FROM d CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2)
           |  GROUP BY label),
           |cell_scores AS (
           |  SELECT v.vec_id, c.cid, round(${Parity.cosineSql("v.e", "c.c")}, 6) AS ccos
           |  FROM d v CROSS JOIN cent c),
           |ranked_cells AS (
           |  SELECT vec_id, cid,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
           |  FROM cell_scores),
           |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_cells WHERE rn = 1),
           |probes AS (SELECT vec_id AS q_id, cid FROM ranked_cells WHERE vec_id < 50 AND rn <= 3),
           |scored AS (
           |  SELECT p.q_id, a.n_id, round(${Parity.cosineSql("q.e", "n.e")}, 6) AS cos
           |  FROM probes p
           |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
           |  JOIN d q ON q.vec_id = p.q_id
           |  JOIN d n ON n.vec_id = a.n_id),
           |ranked AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
           |  FROM scored)
           |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
      "ann_pq_topk" ->
        s"""WITH $pqCtes
           |SELECT q_id, n_id, adc, rank FROM pq_ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
      "ann_ivfpq_topk" -> ivfpqOracleSql,
      // both stored artifacts are the same deterministic k-means tables
      // written then read — the serving result is bit-identical to the
      // train-inline composition
      "ann_ivfpq_stored" -> ivfpqOracleSql,
      "ann_ivfpq_rerank" -> ivfpqRerankOracleSql,
      "dedup_semantic" -> semanticDedupOracleSql,
      // the stored-model ADC/probe paths are result-identical to the
      // train-inline ones: the artifacts are the SAME deterministic
      // k-means codebooks, written then read (the ann_ivf_stored pattern)
      "ann_pq_stored" ->
        s"""WITH $pqCtes
           |SELECT q_id, n_id, adc, rank FROM pq_ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
      "ann_pq_recall" ->
        s"""WITH $pqCtes,
           |de AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |scored_e AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM de q JOIN de c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           |ranked_e AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM scored_e)
           |SELECT e.q_id, CAST(count(a.n_id) AS BIGINT) AS n_hits,
           |       round(CAST(count(a.n_id) AS DOUBLE) / 3.0, 6) AS recall
           |FROM (SELECT * FROM ranked_e WHERE rank <= 3) e
           |LEFT JOIN (SELECT * FROM pq_ranked WHERE rank <= 3) a
           |  ON a.q_id = e.q_id AND a.n_id = e.n_id
           |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,
      "kmeans_centroids" -> {
        val last = s"c${Similarity.KmeansIters}"
        s"""WITH $kmeansCtes
           |SELECT cid, CAST(t.i AS INT) AS dim, c[t.i] AS c_int
           |FROM $last CROSS JOIN range(1, ${Similarity.Dim + 1}) t(i)
           |ORDER BY cid, dim""".stripMargin
      },
      "ann_ivf_trained" -> ivfTrainedOracleSql,
      "ann_knn_eval_ivf" ->
        s"SELECT * FROM (${knnEvalIvfOracleSql(k = 5, nProbe = 2)}) ORDER BY label_true, label_pred",
      // the stored-model probe is result-identical to the trained path:
      // the artifact is the SAME deterministic k-means, written then read
      "ann_ivf_stored" -> ivfTrainedOracleSql,
      "ann_ivf_health" -> ivfHealthOracleSql,
      "emb_silhouette" -> silhouetteOracleSql,
      "ann_pq_distortion" -> pqDistortionOracleSql,
      "ann_sq_distortion" ->
        s"SELECT * FROM (${Similarity.sqDistortionSql()}) ORDER BY dim",
      "ann_ivf_query" -> ivfQueryOracleSql(AnnQueryVec, k = 10, nProbe = 2),
      "ann_sq_stored" -> Similarity.sqStoredTopKSql(nQueries = 10, k = 5),
      "ann_sq_recall" -> Similarity.sqRecallSql(nQueries = 20, k = 5),
      "ann_ivf_recall" -> {
        val last = s"c${Similarity.KmeansIters}"
        val score =
          s"(${Parity.dotSql("CAST(v.ei AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")} / " +
            s"sqrt(${Parity.dotSql("CAST(c.c AS DOUBLE[])", "CAST(c.c AS DOUBLE[])")}))"
        def perProbe(p: Int): String =
          s"""probes_$p AS (SELECT vec_id AS q_id, cid FROM ranked_cells
             |              WHERE vec_id < 50 AND rn <= $p),
             |scored_$p AS (
             |  SELECT p.q_id, a.n_id, round(${Parity.cosineSql("q.e", "n.e")}, 6) AS cos
             |  FROM probes_$p p
             |  JOIN assigned a ON a.cid = p.cid AND a.n_id <> p.q_id
             |  JOIN d q ON q.vec_id = p.q_id
             |  JOIN d n ON n.vec_id = a.n_id),
             |approx_$p AS (
             |  SELECT q_id, n_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |    FROM scored_$p) WHERE rank <= 3),
             |rec_$p AS (
             |  SELECT CAST($p AS INT) AS n_probe, e.q_id,
             |         CAST(count(a.n_id) AS BIGINT) AS n_hits,
             |         round(CAST(count(a.n_id) AS DOUBLE) / 3.0, 6) AS recall
             |  FROM exact e LEFT JOIN approx_$p a ON a.q_id = e.q_id AND a.n_id = e.n_id
             |  GROUP BY e.q_id)""".stripMargin
        s"""WITH $kmeansCtes,
           |scored_e AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM d q JOIN d c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           |exact AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |    FROM scored_e) WHERE rank <= 3),
           |cs AS (SELECT v.vec_id, c.cid, $score AS ccos FROM d v CROSS JOIN $last c),
           |ranked_cells AS (
           |  SELECT vec_id, cid,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
           |  FROM cs),
           |assigned AS (SELECT vec_id AS n_id, cid FROM ranked_cells WHERE rn = 1),
           |${perProbe(1)},
           |${perProbe(3)}
           |SELECT * FROM rec_1 UNION ALL SELECT * FROM rec_3
           |ORDER BY n_probe, q_id""".stripMargin
      },
      "text_lang_id" -> s"$langIdSql ORDER BY doc_id",
      "text_langid_confusion" ->
        (TextOps.langIdConfusionSql() + "\nORDER BY actual, pred_lang"),
      "text_novelty" -> (TextOps.noveltyCurveSql() + "\nORDER BY doc_id"),
      "multimodal_entropy" -> (Multimodal.payloadEntropySql() + "\nORDER BY doc_id"),
      "multimodal_audio_energy" -> (Multimodal.audioEnergySql() + "\nORDER BY doc_id"),
      "multimodal_audio_match" ->
        (Multimodal.audioMatchesSql() + "\nORDER BY doc_a, doc_b, off"),
      "multimodal_audio_segments" ->
        (Multimodal.audioSegmentsSql() + "\nORDER BY doc_id, start_frame"),
      "graph_assortativity" -> GraphOps.assortativitySql(GraphSource.lineitemEdgesSql),
      "graph_link_pred" ->
        (s"SELECT * FROM (${GraphOps.linkPredictionSql(GraphSource.lineitemEdgesSql)})\n" +
          "ORDER BY common DESC, a, b"),
      "graph_khop_sample" ->
        s"SELECT * FROM (${GraphOps.khopSampleSql(GraphSource.lineitemEdgesSql)}) ORDER BY root",
      "text_quality" -> s"$qualitySql ORDER BY doc_id",
      "split_leakage" ->
        s"SELECT * FROM (${TextOps.splitLeakageSql()}) ORDER BY doc_id",
      "doc_quality_filter" ->
        s"SELECT * FROM (${TextOps.qualityFilterSql(qualitySql)}) ORDER BY source, rn",
      "text_token_count" ->
        s"""SELECT doc_id,
           |       CAST(len($toks) AS BIGINT) AS n_ws_tokens,
           |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
           |       CAST(length(text) AS BIGINT) AS n_chars_actual
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        s"""SELECT doc_id,
           |       ${Parity.charFoldSql("text", 31L, Parity.TokP)} AS fp_a,
           |       ${Parity.charFoldSql("text", 131L, Parity.TokP2)} AS fp_b,
           |       (${Parity.charFoldSql("text", 31L, Parity.TokP)} * ${Parity.TokP2} +
           |        ${Parity.charFoldSql("text", 131L, Parity.TokP2)}) AS fp40
           |FROM documents ORDER BY doc_id""".stripMargin,
      "events_tumbling" -> tumblingSql,
      // the streaming engine must converge to the batch answer on a
      // bounded input — identical oracle by design
      "events_stream_tumbling" -> tumblingSql,
      "events_sliding" -> slidingSql,
      "events_stream_sliding" -> slidingSql,
      "events_stream_topk" ->
        s"""WITH c AS (
           |  SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), $fmt) AS ws,
           |         event_type, CAST(count(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |r AS (
           |  SELECT ws, event_type, n,
           |         CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type)
           |              AS BIGINT) AS rk
           |  FROM c)
           |SELECT ws, event_type, n, rk FROM r WHERE rk <= 3 ORDER BY ws, rk""".stripMargin,
      "events_sessionize" -> sessionizeSql,
      "events_paths" -> EventOps.eventPathsSql(),
      "events_session_lengths" ->
        s"""WITH h AS (
           |  SELECT n_events AS session_len, CAST(count(*) AS BIGINT) AS n_sessions
           |  FROM (${sessionizeSql.replace("\n", "\n   ")}) sess GROUP BY 1),
           |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM h)
           |SELECT h.session_len, h.n_sessions, h.n_sessions * 1000000 // t.t AS share_ppm
           |FROM h CROSS JOIN t ORDER BY session_len""".stripMargin,
      "events_stream_dedup" ->
        """SELECT event_type, CAST(count(DISTINCT (user_id, ts, value)) AS BIGINT) AS n_distinct
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_stream_dedup_ww" ->
        """SELECT event_type, CAST(count(DISTINCT (user_id, ts, value)) AS BIGINT) AS n_distinct
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_stream_join" ->
        s"""WITH p AS (SELECT event_id AS p_id, user_id, ts, value FROM events
           |           WHERE event_type = 'purchase'),
           |c AS (SELECT event_id AS c_id, user_id, ts, value FROM events
           |      WHERE event_type = 'click')
           |SELECT p.p_id, c.c_id, p.user_id,
           |       strftime(p.ts, $fmt) AS pts, strftime(c.ts, $fmt) AS cts,
           |       p.value AS p_value, c.value AS c_value
           |FROM p JOIN c ON p.user_id = c.user_id
           |  AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
           |ORDER BY p_id, c_id""".stripMargin,
      "events_stream_join_outer" ->
        s"""WITH p AS (SELECT event_id AS p_id, user_id, ts, value FROM events
           |           WHERE event_type = 'purchase'),
           |c AS (SELECT event_id AS c_id, user_id, ts, value FROM events
           |      WHERE event_type = 'click')
           |SELECT p.p_id, c.c_id, p.user_id,
           |       strftime(p.ts, $fmt) AS pts, strftime(c.ts, $fmt) AS cts,
           |       p.value AS p_value, c.value AS c_value
           |FROM p LEFT JOIN c ON p.user_id = c.user_id
           |  AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
           |ORDER BY p_id, c_id""".stripMargin,
      "events_stream_enrich" ->
        s"""SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), $fmt) AS ws,
           |       c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events JOIN customer ON user_id = CAST(c_custkey AS BIGINT)
           |GROUP BY 1, 2 ORDER BY ws, c_mktsegment""".stripMargin,
      "docs_stream_domain_cap" ->
        s"SELECT * FROM (${streaming.StreamOps.domainCapGateSql()}) ORDER BY source",
      "docs_stream_dedup_static" -> {
        val fp = Parity.fp40Sql("text")
        s"""WITH store AS (
           |  SELECT DISTINCT $fp AS fp FROM documents WHERE doc_id < 400),
           |inc AS (
           |  SELECT doc_id, source, $fp AS fp FROM documents WHERE doc_id >= 400)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_new, min(doc_id) AS first_id
           |FROM inc i
           |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = i.fp)
           |GROUP BY source ORDER BY source""".stripMargin
      },
      "docs_stream_cdc_static" ->
        s"SELECT * FROM (${Dedup.cdcGateSql(firstNewId = 400L)}) ORDER BY source",
      "docs_stream_quality_static" -> operators.Training.fasttextGateSql(firstNewId = 400L),
      // the file-sink termination lands the identical per-doc scores, so
      // the same batch rollup adjudicates the stream->file->table path
      "docs_stream_quality_sink" -> operators.Training.fasttextGateSql(firstNewId = 400L),
      "docs_stream_dsir_static" -> TextOps.dsirGateSql(firstNewId = 400L),
      "docs_stream_gopher_static" ->
        s"""WITH g AS (${TextOps.gopherRulesSql().replace("\n", "\n  ")})
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN g.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           |       CAST(sum(CASE WHEN g.wc_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_wc_ok,
           |       min(g.doc_id) AS first_id
           |FROM g JOIN documents d USING (doc_id)
           |WHERE doc_id >= 400 GROUP BY d.source ORDER BY d.source""".stripMargin,
      "docs_stream_bm25_static" -> TextOps.bm25GateSql(firstNewId = 400L),
      "docs_stream_minhash_upsert" -> {
        val codes = Parity.tokenCodesSql("text")
        val bandedUnion = (0 until Dedup.MinhashBands)
          .map(i =>
            s"SELECT doc_id, $i AS band_idx, " +
              s"${Parity.bandValSql("sig", i, Dedup.MinhashR)} AS band_val FROM sigs")
          .mkString("\n  UNION ALL ")
        s"""WITH sigs AS (
           |  SELECT doc_id, ${Parity.minhashSigSql(codes, Dedup.MinhashK)} AS sig FROM documents),
           |banded AS (
           |  $bandedUnion),
           |store AS (
           |  SELECT band_idx, band_val, CAST(count(*) AS BIGINT) AS n_store_hits
           |  FROM banded WHERE doc_id < 400 GROUP BY 1, 2)
           |SELECT n.doc_id, n.band_idx, n.band_val,
           |       coalesce(s.n_store_hits, 0) AS n_store_hits
           |FROM banded n LEFT JOIN store s USING (band_idx, band_val)
           |WHERE n.doc_id >= 400
           |ORDER BY n.doc_id, n.band_idx""".stripMargin
      },
      "docs_stream_simhash_upsert" -> {
        val h40 =
          s"list_transform(${Parity.shinglesSql(Parity.tokensSql("text"))}, tok -> ${Parity.tokenH40Sql("tok")})"
        val chunkedUnion = (0 until Dedup.SimhashChunks)
          .map(i =>
            s"SELECT doc_id, $i AS chunk_idx, " +
              s"((simhash >> ${i * Dedup.SimhashChunkBits}) & ${(1L << Dedup.SimhashChunkBits) - 1}) AS chunk_val FROM sims")
          .mkString("\n  UNION ALL ")
        s"""WITH sims AS (
           |  SELECT doc_id, ${Parity.simhashSql(h40)} AS simhash FROM documents),
           |chunked AS (
           |  $chunkedUnion),
           |store AS (
           |  SELECT chunk_idx, chunk_val, CAST(count(*) AS BIGINT) AS n_store_hits
           |  FROM chunked WHERE doc_id < 400 GROUP BY 1, 2)
           |SELECT n.doc_id, n.chunk_idx, n.chunk_val,
           |       coalesce(s.n_store_hits, 0) AS n_store_hits
           |FROM chunked n LEFT JOIN store s USING (chunk_idx, chunk_val)
           |WHERE n.doc_id >= 400
           |ORDER BY n.doc_id, n.chunk_idx""".stripMargin
      },
      "docs_stream_decontam_static" -> {
        val t = Parity.tokensSql("text")
        val shingle = Parity.shinglesSql("t")
        s"""WITH tt AS (SELECT doc_id, source, $t AS t FROM documents),
           |sh AS (SELECT doc_id, source, unnest($shingle) AS g FROM tt),
           |bench AS (SELECT DISTINCT g FROM sh
           |          WHERE doc_id < 400 AND doc_id % ${TextOps.BenchmarkMod} = 0),
           |hot AS (SELECT g FROM sh
           |        WHERE doc_id < 400 AND doc_id % ${TextOps.BenchmarkMod} <> 0
           |          AND g IN (SELECT g FROM bench)
           |        GROUP BY g HAVING count(*) > ${TextOps.DecontamMaxDf}),
           |store AS (SELECT g FROM bench WHERE g NOT IN (SELECT g FROM hot))
           |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_hits
           |FROM sh
           |WHERE doc_id >= 400 AND doc_id % ${TextOps.BenchmarkMod} <> 0
           |  AND g IN (SELECT g FROM store)
           |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
      },
      "emb_stream_ivf_static" -> embStreamIvfOracleSql(nProbe = 2),
      "emb_stream_ivf_upsert" -> embStreamIvfUpsertOracleSql,
      "events_stream_anomaly" ->
        s"""WITH f AS (
           |  SELECT event_type AS ft,
           |         round(quantile_cont(value, 0.25), 6) AS p25,
           |         round(quantile_cont(value, 0.75), 6) AS p75
           |  FROM events WHERE event_id < $EventStreamFirstNew GROUP BY event_type),
           |ff AS (
           |  SELECT ft,
           |         round(p25 - (p75 - p25) * 1.5, 6) AS lo_fence,
           |         round(p75 + (p75 - p25) * 1.5, 6) AS hi_fence
           |  FROM f)
           |SELECT e.event_type, ff.lo_fence, ff.hi_fence,
           |       CAST(count(*) AS BIGINT) AS n_new,
           |       CAST(sum(CASE WHEN e.value < ff.lo_fence OR e.value > ff.hi_fence
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           |FROM events e JOIN ff ON e.event_type = ff.ft
           |WHERE e.event_id >= $EventStreamFirstNew
           |GROUP BY e.event_type, ff.lo_fence, ff.hi_fence
           |ORDER BY e.event_type""".stripMargin,
      "events_stream_user_totals" ->
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "events_stream_decay" -> streaming.StreamOps.userDecaySql(),
      "events_stream_funnel" ->
        """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |       JOIN s1 ON s1.user_id = e.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |       JOIN s2 ON s2.user_id = e.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
          |SELECT s1.user_id,
          |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
          |                 WHEN s2.user_id IS NOT NULL THEN 2
          |                 ELSE 1 END AS BIGINT) AS furthest_step
          |FROM s1
          |LEFT JOIN s2 ON s2.user_id = s1.user_id
          |LEFT JOIN s3 ON s3.user_id = s1.user_id
          |ORDER BY s1.user_id""".stripMargin,
      "emb_covariance" -> operators.LinAlg.covarianceSql(),
      "emb_dim_stats" -> operators.LinAlg.dimStatsSql(),
      "text_top_terms" -> (TextOps.topTermsSql() + "\nORDER BY doc_id, rank"),
      "emb_pca_power" -> operators.LinAlg.pcaPowerSql(),
      "emb_pca_project" -> operators.LinAlg.pcaProjectSql(),
      "train_linreg" -> operators.Training.linregNormalSql,
      "train_conformal" -> operators.Training.conformalIntervalSql(),
      "train_cooks_distance" -> operators.Training.cooksDistanceSql(),
      "eval_pass_at_k" ->
        s"SELECT * FROM (${operators.Training.passAtKSql()}) ORDER BY event_type",
      "train_bradley_terry" ->
        s"SELECT * FROM (${operators.Training.bradleyTerrySql()}) ORDER BY rnk",
      "emb_cka" -> operators.LinAlg.ckaSql(),
      "train_logreg" -> operators.Training.logregGdSql(toks),
      "train_logreg_stored" -> operators.Training.logregApplyStoredSql(toks),
      "train_fasttext" -> operators.Training.fasttextGdSql(),
      "train_fasttext_stored" -> operators.Training.fasttextApplyStoredSql(),
      "train_nb" -> operators.Training.naiveBayesSql(),
      "train_nb_stored" -> operators.Training.naiveBayesStoredSql(),
      "metric_bootstrap_ci" -> operators.Sketches.bootstrapTokensCiSql(),
      "train_gbm_stumps" -> operators.Training.gbmStumpsSql(),
      "train_gbm_stored" -> operators.Training.gbmApplyStoredSql(),
      "train_fasttext_calibration" -> operators.Training.fasttextCalibrationSql(),
      "train_isotonic" ->
        s"SELECT * FROM (${operators.Training.isotonicCalibrationSql()}) ORDER BY bin",
      "sketch_kmv_shingles" -> {
        val k = operators.Sketches.KmvK
        s"""WITH g AS (SELECT DISTINCT unnest($shingleSql) AS g FROM $fromToks),
           |h AS (SELECT DISTINCT ${Parity.tokenH40Sql("g")} AS h FROM g),
           |mins AS (SELECT h FROM h ORDER BY h LIMIT $k),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_mins, max(h) AS kth_hash FROM mins),
           |e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM g)
           |SELECT e.n_exact, a.n_mins, a.kth_hash,
           |       CAST(CASE WHEN a.n_mins < $k THEN a.n_mins
           |                 ELSE (${k - 1} * ${Parity.TokP * Parity.TokP2}) // a.kth_hash END AS BIGINT) AS kmv_estimate
           |FROM e CROSS JOIN a""".stripMargin
      },
      "sketch_kmv_per_source" ->
        (operators.Sketches.kmvPerSourceSql() + "\nORDER BY source"),
      "sketch_kmv_jaccard" -> operators.Sketches.kmvJaccardMatrixSql(),
      "sketch_hll_per_source" ->
        (operators.Sketches.hllPerSourceSql(
          shingleSql,
          s"(SELECT source, $toks AS t FROM documents)") + "\nORDER BY source"),
      "profile_table" -> operators.Sketches.profileLineitemSql(),
      "sketch_cms_tokens" -> operators.Sketches.cmsHeavyHittersSql(),
      "sketch_bloom_fpp" -> operators.Sketches.bloomFppSql(),
      "join_size_cms" -> operators.Sketches.joinSizeCmsSql(),
      "opt_selectivity_hist" -> operators.Sketches.selectivityHistSql(),
      "opt_join_order" ->
        s"SELECT * FROM (${operators.Sketches.joinOrderChoiceSql()}) ORDER BY first_join",
      "opt_groupby_card" -> operators.Sketches.groupByCardKmvSql(),
      "docs_seq_pack" ->
        s"SELECT * FROM (${operators.Packing.seqPackSql()}) ORDER BY shard",
      "docs_pack_nextfit" ->
        s"SELECT * FROM (${operators.Packing.packNextFitSql()}) ORDER BY shard",
      "docs_pack_bestfit" ->
        s"SELECT * FROM (${operators.Packing.packBestFitSql()}) ORDER BY shard",
      "docs_pack_xdoc" -> operators.Packing.packXdocSql(),
      "docs_stream_pack" ->
        s"SELECT * FROM (${operators.Packing.packNextFitSql()}) ORDER BY shard",
      "events_cdc_diff" ->
        s"SELECT * FROM (${EventOps.cdcDiffSql()}) ORDER BY op",
      "events_stream_cdc" ->
        s"SELECT * FROM (${EventOps.cdcDiffSql()}) ORDER BY op",
      "dedup_substring_spans" ->
        s"SELECT * FROM (${Dedup.dupSpansSql()}) ORDER BY doc_id, span_start",
      "dedup_dup_ratio" ->
        s"SELECT * FROM (${Dedup.dupTokenRatioSql()}) ORDER BY doc_id",
      "dedup_cdc_chunks" ->
        s"SELECT * FROM (${Dedup.cdcChunksSql()}) ORDER BY doc_id",
      "er_blocked_pairs" ->
        s"SELECT * FROM (${Dedup.erBlockedPairsSql()}) ORDER BY cust_a, cust_b",
      "er_clusters" ->
        s"SELECT * FROM (${Dedup.erClustersSql()}) ORDER BY id",
      "er_agreement_lift" ->
        s"SELECT * FROM (${Dedup.erAgreementLiftSql()}) ORDER BY seg_eq DESC, band_eq DESC",
      "stats_chi2" -> operators.Stats.chi2IndependenceSql(),
      "stats_mutual_info" -> operators.Stats.mutualInfoSql(),
      "stats_anova" -> operators.Stats.anovaOneWaySql(),
      "stats_corr_matrix" ->
        s"SELECT * FROM (${operators.Stats.corrMatrixSql()}) ORDER BY pair",
      "audit_benford" ->
        s"SELECT * FROM (${operators.Stats.benfordAuditSql()}) ORDER BY digit",
      "orders_rfm_segments" ->
        s"SELECT * FROM (${operators.Stats.rfmSegmentsSql()}) ORDER BY 1, 2, 3",
      "lineitem_abc" ->
        s"SELECT * FROM (${operators.Stats.abcAnalysisSql()}) ORDER BY cls",
      "orders_basket_rules" ->
        s"SELECT * FROM (${operators.Stats.basketRulesSql()}) ORDER BY part_a, part_b",
      "lineitem_gini" -> operators.Stats.giniRevenueSql(),
      "orders_basket_sizes" ->
        s"SELECT * FROM (${operators.Stats.basketSizeDistSql()}) ORDER BY basket_size",
      "orders_cohort_ltv" ->
        s"SELECT * FROM (${operators.Stats.cohortLtvSql()}) ORDER BY cohort_month, month_offset",
      "events_seasonality" ->
        (EventOps.seasonalitySql() + "\nORDER BY event_type, hour"),
      "events_burstiness" -> (EventOps.burstinessSql() + "\nORDER BY event_type"),
      "events_lateness_audit" ->
        s"SELECT * FROM (${EventOps.latenessAuditSql()}) ORDER BY channel",
      "events_hill_tail" ->
        s"SELECT * FROM (${EventOps.hillTailSql()}) ORDER BY k",
      "events_type_mix_drift" -> EventOps.typeMixDriftSql(),
      "events_user_entropy" ->
        (EventOps.userEntropyProfileSql() + "\nORDER BY ent_bucket"),
      "text_heaps_curve" ->
        s"SELECT * FROM (${TextOps.heapsCurveSql()}) ORDER BY bucket",
      "bucketed_join" ->
        """SELECT c_mktsegment, count(*) AS n,
          |       round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS revenue
          |FROM orders JOIN customer ON CAST(o_custkey AS BIGINT) = CAST(c_custkey AS BIGINT)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "grouping_sets_agg" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      // the Bloom prefilter is exact-after-join: plain semi join here
      "join_yannakakis" ->
        """WITH c0 AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
          |o0 AS (SELECT o_orderkey, o_custkey FROM orders
          |       WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |         AND o_orderdate < TIMESTAMP '1996-01-01'),
          |l0 AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
          |o1 AS (SELECT o.* FROM o0 o WHERE o.o_custkey IN (SELECT c_custkey FROM c0)),
          |o2 AS (SELECT o.* FROM o1 o WHERE o.o_orderkey IN (SELECT l_orderkey FROM l0)),
          |l1 AS (SELECT l.* FROM l0 l WHERE l.l_orderkey IN (SELECT o_orderkey FROM o2)),
          |c1 AS (SELECT c.* FROM c0 c WHERE c.c_custkey IN (SELECT o_custkey FROM o2)),
          |jr AS (SELECT CAST(count(*) AS BIGINT) AS n
          |       FROM c0 JOIN o0 ON o_custkey = c_custkey JOIN l0 ON l_orderkey = o_orderkey)
          |SELECT 'customer' AS rel, (SELECT CAST(count(*) AS BIGINT) FROM c0) AS n_before,
          |       (SELECT CAST(count(*) AS BIGINT) FROM c1) AS n_after
          |UNION ALL SELECT 'orders', (SELECT count(*) FROM o0), (SELECT count(*) FROM o2)
          |UNION ALL SELECT 'lineitem', (SELECT count(*) FROM l0), (SELECT count(*) FROM l1)
          |UNION ALL SELECT 'join_result', (SELECT n FROM jr), (SELECT n FROM jr)
          |ORDER BY rel""".stripMargin,
      "bloom_semi_join" ->
        """SELECT l_returnflag, count(*) AS n,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem
          |WHERE CAST(l_orderkey AS BIGINT) IN
          |      (SELECT CAST(o_orderkey AS BIGINT) FROM orders
          |       WHERE CAST(o_totalprice AS DOUBLE) > 400000.0)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      // layout-independent: the same box over the original table
      "zorder_box_agg" -> operators.Layout.zorderBoxAggSql,
      "cube_view_select" -> operators.Layout.cubeViewSelectSql(),
      "zorder_curve" ->
        (operators.Layout.zcurveHistogramSql + "\nORDER BY z_bucket"),
      "hilbert_curve" ->
        (operators.Layout.hilbertHistogramSql + "\nORDER BY h_bucket"),
      "partitioned_source_agg" ->
        """SELECT lang, count(*) AS n,
          |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
          |FROM documents WHERE lang IN ('en', 'es')
          |GROUP BY lang ORDER BY lang""".stripMargin,
      "events_session_window" ->
        s"""WITH m AS (
           |  SELECT user_id, event_id, ts, value,
           |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           |  FROM events),
           |s AS (
           |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) >= 1800.0
           |                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_new
           |  FROM m),
           |n AS (
           |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           |  FROM s)
           |SELECT user_id, session_id, strftime(min(ts), $fmt) AS session_start,
           |       count(*) AS n_events, round(sum(value), 2) AS sum_value
           |FROM n GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
      "range_band_join" ->
        """WITH bands AS (
          |  SELECT CAST(i AS BIGINT) AS band,
          |         CAST(i * 100000 AS DOUBLE) AS lo,
          |         CAST((i + 1) * 100000 AS DOUBLE) AS hi
          |  FROM range(0, 6) t(i))
          |SELECT band, count(*) AS n,
          |       round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_price
          |FROM orders JOIN bands ON CAST(o_totalprice AS DOUBLE) >= lo
          |                      AND CAST(o_totalprice AS DOUBLE) < hi
          |GROUP BY band ORDER BY band""".stripMargin,
      // the streaming engine must converge to the batch sessionization on
      // a bounded input — identical oracle by design
      "events_stream_sessionize" -> sessionizeSql,
      "doc_pack" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
           |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM t)
           |SELECT doc_id, lang, n_tokens,
           |       CAST(cum // 2048 AS BIGINT) AS bin,
           |       CAST(cum % 2048 AS BIGINT) AS "offset"
           |FROM c ORDER BY lang, doc_id""".stripMargin,
      "doc_sample" ->
        s"""SELECT doc_id, lang,
           |       (${Parity.fp40Sql("text")} % 1000) <
           |         (CASE WHEN lang = 'en' THEN 500 WHEN lang = 'es' THEN 250 ELSE 125 END) AS kept
           |FROM documents ORDER BY doc_id""".stripMargin,
      "doc_mixture_alpha" -> (TextOps.mixtureAlphaSql() + "\nORDER BY lang"),
      "doc_mixture" ->
        s"""WITH per AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(len($toks)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY lang),
           |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
           |SELECT lang, n_docs, n_tokens,
           |       CAST(CASE WHEN lang = 'en' THEN 600000 WHEN lang = 'es' THEN 250000
           |                 ELSE 150000 END AS BIGINT) AS target_ppm,
           |       round((CAST(CASE WHEN lang = 'en' THEN 600000 WHEN lang = 'es' THEN 250000
           |                        ELSE 150000 END AS DOUBLE) / 1000000.0) *
           |             (CAST(total_tokens AS DOUBLE) /
           |              CAST(greatest(n_tokens, 1) AS DOUBLE)), 6) AS epochs
           |FROM per CROSS JOIN t ORDER BY lang""".stripMargin,
      "pii_k_anonymity" ->
        s"""SELECT c_nationkey, c_mktsegment,
           |       CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS bal_band,
           |       CAST(count(*) AS BIGINT) AS k, (count(*) < 5) AS at_risk
           |FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "pii_redact" -> {
        val email = "[a-z0-9.]+@[a-z0-9.]+"
        val phone = "555-[0-9]{4}"
        s"""WITH a AS (
           |  SELECT doc_id,
           |         text || ' contact u' || CAST(doc_id AS VARCHAR) ||
           |         '@mail.example or call 555-' ||
           |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, aug,
           |         regexp_replace(regexp_replace(aug, '$email', '<EMAIL>', 'g'),
           |                        '$phone', '<PHONE>', 'g') AS red
           |  FROM a)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phones,
           |       CAST(length(red) AS BIGINT) AS n_chars_red,
           |       ${Parity.charFoldSql("red", 31L, Parity.TokP)} AS redacted_fp
           |FROM r ORDER BY doc_id""".stripMargin
      },
      "source_stats" ->
        s"""SELECT source,
           |       count(*) AS n_docs,
           |       count(DISTINCT text) AS n_distinct,
           |       round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6) AS dup_rate,
           |       CAST(sum(CAST(len($toks) AS BIGINT)) AS BIGINT) AS sum_tokens,
           |       round(CAST(sum(CAST(len($toks) AS BIGINT)) AS DOUBLE) / count(*), 6) AS mean_tokens
           |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "corpus_source_report" ->
        s"""SELECT s.source, s.n_docs, s.dup_rate, s.sum_tokens,
           |       k.n_terms, k.kl, v.kmv_estimate AS distinct_tok_est
           |FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |             round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6)
           |               AS dup_rate,
           |             CAST(sum(CAST(len($toks) AS BIGINT)) AS BIGINT) AS sum_tokens
           |      FROM documents GROUP BY source) s
           |JOIN (${TextOps.sourceKlDriftSql()}) k USING (source)
           |JOIN (${operators.Sketches.kmvPerSourceSql()}) v USING (source)
           |ORDER BY s.source""".stripMargin,
      "tok_unigram" -> operators.Tokenization.unigramSegmentsSql(),
      "tok_unigram_fertility" -> operators.Tokenization.unigramFertilitySql(),
      // stored-artifact serving on the training corpus is result-identical
      "tok_unigram_stored" -> operators.Tokenization.unigramFertilitySql(),
      "tok_context_fit" ->
        s"SELECT * FROM (${operators.Tokenization.contextFitSql()}) ORDER BY ctx_len",
      "tok_vocab_coverage" ->
        s"SELECT * FROM (${operators.Tokenization.vocabCoverageSql()}) ORDER BY k",
      "tok_compression_curve" ->
        s"SELECT * FROM (${operators.Tokenization.compressionCurveSql()}) ORDER BY n_merges",
      "bpe_pair_counts" -> operators.Tokenization.pairCountsOracleSql,
      "bpe_merges" -> operators.Tokenization.bpeMergesSql(8, minFreq = 2L),
      "bpe_encode" -> operators.Tokenization.bpeEncodeSql(8, minFreq = 2L),
      // stored-model apply is result-identical to train+encode: the
      // artifact is the same sequential-equivalent merge table
      "bpe_apply_stored" -> operators.Tokenization.bpeEncodeSql(8, minFreq = 2L),
      "tokenizer_fertility" -> operators.Tokenization.tokenizerFertilitySql(8, minFreq = 2L),
      "doc_chunk" ->
        (TextOps.chunkSql() + "\nORDER BY doc_id, chunk_idx"),
      "doc_shuffle" ->
        (TextOps.shuffleShardsSql() + "\nORDER BY shard, pos"),
      "doc_split_grouped" -> (TextOps.splitAssignGroupedSql() + "\nORDER BY doc_id"),
      "text_zipf" -> TextOps.zipfFitSql(),
      "text_pmi_bigrams" ->
        s"SELECT * FROM (${TextOps.pmiBigramsSql()}) ORDER BY w1, w2",
      "text_rake_keywords" -> TextOps.rakeKeywordsSql(),
      "text_textrank" -> TextOps.textrankSql(),
      "corpus_diff" ->
        """WITH base AS (
          |  SELECT doc_id, text FROM documents),
          |revised AS (
          |  SELECT doc_id, 'UPDATED: ' || coalesce(text, '') AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |fresh AS (
          |  SELECT -doc_id - 1 AS doc_id, 'NEW ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 97 = 0),
          |ups AS (SELECT * FROM revised UNION ALL SELECT * FROM fresh),
          |v2 AS (SELECT b.doc_id, b.text FROM base b
          |       WHERE b.doc_id NOT IN (SELECT doc_id FROM ups)
          |       UNION ALL SELECT * FROM ups)
          |SELECT CASE WHEN b.doc_id IS NULL THEN 'added'
          |            WHEN v.doc_id IS NULL THEN 'removed'
          |            WHEN b.text IS DISTINCT FROM v.text THEN 'updated'
          |            ELSE 'unchanged' END AS change,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM base b FULL OUTER JOIN v2 v ON b.doc_id = v.doc_id
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "corpus_upsert" ->
        """WITH base AS (
          |  SELECT doc_id, text, lang, CAST(1 AS BIGINT) AS version FROM documents),
          |revised AS (
          |  SELECT doc_id, 'UPDATED: ' || coalesce(text, '') AS text, lang,
          |         CAST(2 AS BIGINT) AS version
          |  FROM documents WHERE doc_id % 7 = 0),
          |fresh AS (
          |  SELECT -doc_id - 1 AS doc_id, 'NEW ' || CAST(doc_id AS VARCHAR) AS text,
          |         'en' AS lang, CAST(2 AS BIGINT) AS version
          |  FROM documents WHERE doc_id % 97 = 0),
          |merged AS (SELECT * FROM base UNION ALL SELECT * FROM revised
          |           UNION ALL SELECT * FROM fresh),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
          |  FROM merged)
          |SELECT doc_id, version, CAST(length(text) AS BIGINT) AS n_chars, lang
          |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "corpus_scd2" ->
        """WITH base AS (
          |  SELECT doc_id, text, lang, CAST(1 AS BIGINT) AS version FROM documents),
          |revised AS (
          |  SELECT doc_id, 'UPDATED: ' || coalesce(text, '') AS text, lang,
          |         CAST(2 AS BIGINT) AS version
          |  FROM documents WHERE doc_id % 7 = 0),
          |fresh AS (
          |  SELECT -doc_id - 1 AS doc_id, 'NEW ' || CAST(doc_id AS VARCHAR) AS text,
          |         'en' AS lang, CAST(2 AS BIGINT) AS version
          |  FROM documents WHERE doc_id % 97 = 0),
          |log AS (SELECT * FROM base UNION ALL SELECT * FROM revised
          |        UNION ALL SELECT * FROM fresh)
          |SELECT doc_id,
          |       version AS valid_from,
          |       lead(version, 1) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to,
          |       lead(version, 1) OVER (PARTITION BY doc_id ORDER BY version) IS NULL AS is_current,
          |       CAST(length(text) AS BIGINT) AS n_chars
          |FROM log ORDER BY doc_id, valid_from""".stripMargin,
      "corpus_time_travel" ->
        """WITH log AS (
          |  SELECT doc_id, text, lang, CAST(1 AS BIGINT) AS version FROM documents
          |  UNION ALL
          |  SELECT doc_id, 'UPDATED: ' || coalesce(text, ''), lang, CAST(2 AS BIGINT)
          |  FROM documents WHERE doc_id % 7 = 0
          |  UNION ALL
          |  SELECT -doc_id - 1, 'NEW ' || CAST(doc_id AS VARCHAR), 'en', CAST(2 AS BIGINT)
          |  FROM documents WHERE doc_id % 97 = 0),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
          |  FROM log WHERE version <= 1)
          |SELECT doc_id, version AS valid_from,
          |       CAST(length(text) AS BIGINT) AS n_chars, lang
          |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "join_agg_incremental" ->
        s"SELECT * FROM (${operators.Snapshot.joinAggIncrementalSql()}) ORDER BY o_custkey",
      "decontaminate" ->
        s"""WITH sh AS (SELECT doc_id, unnest($shingleSql) AS g FROM $fromToks),
           |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % ${TextOps.BenchmarkMod} = 0),
           |hits AS (SELECT doc_id, g FROM sh
           |         WHERE doc_id % ${TextOps.BenchmarkMod} <> 0
           |           AND g IN (SELECT g FROM bench)),
           |hot AS (SELECT g FROM hits GROUP BY g
           |        HAVING count(*) > ${TextOps.DecontamMaxDf}),
           |cont AS (SELECT DISTINCT doc_id FROM hits
           |         WHERE g NOT IN (SELECT g FROM hot))
           |SELECT d.doc_id, d.doc_id % ${TextOps.BenchmarkMod} = 0 AS is_benchmark,
           |       h.doc_id IS NOT NULL AS contaminated
           |FROM documents d LEFT JOIN cont h ON h.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "text_repetition" ->
        s"""WITH g AS (SELECT doc_id, unnest($allShingles) AS g FROM $fromToks),
           |per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
           |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           |             CAST(max(c) AS BIGINT) AS max_rep FROM per GROUP BY 1)
           |SELECT d.doc_id,
           |       coalesce(a.n_grams, 0) AS n_grams,
           |       coalesce(a.max_rep, 0) AS max_rep,
           |       round((CASE WHEN a.n_grams IS NULL THEN CAST(0.0 AS DOUBLE)
           |                   ELSE CAST(a.max_rep AS DOUBLE) / a.n_grams END) + 1e-9, 6) AS rep_ratio
           |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "ann_bq_recall" ->
        s"SELECT * FROM (${Similarity.bqRecallSql(nQueries = 50, k = 3)}) ORDER BY q_id",
      "ann_bq_query" ->
        s"SELECT * FROM (${Similarity.bqQuerySql(AnnQueryVec)}) ORDER BY rank",
      "emb_kcenter_assign" ->
        s"SELECT * FROM (${Similarity.kcenterAssignSql()}) ORDER BY rank",
      "ann_rp_recall" -> {
        val rLit = (0 until Similarity.RpDim)
          .map(j =>
            Parity.dotSql("e", Parity.planeLitSql(Similarity.RpPlaneOffset + j, Similarity.Dim)))
          .mkString("[", ",\n             ", "]")
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |rd AS (SELECT vec_id,
           |       $rLit AS r
           |       FROM d),
           |scored_e AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM d q JOIN d c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           |ranked_e AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM scored_e),
           |scored_r AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.r", "c.r")}, 6) AS cos
           |  FROM rd q JOIN rd c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           |ranked_r AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM scored_r)
           |SELECT e.q_id, CAST(count(a.n_id) AS BIGINT) AS n_hits,
           |       round(CAST(count(a.n_id) AS DOUBLE) / 3.0, 6) AS recall
           |FROM (SELECT * FROM ranked_e WHERE rank <= 3) e
           |LEFT JOIN (SELECT * FROM ranked_r WHERE rank <= 3) a
           |  ON a.q_id = e.q_id AND a.n_id = e.n_id
           |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
      },
      "ann_recall" ->
        s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |scored_e AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         round(${Parity.cosineSql("q.e", "c.e")}, 6) AS cos
           |  FROM d q JOIN d c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
           |ranked_e AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM scored_e),
           |b AS (
           |  $lshTableUnion),
           |scored_a AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |         max(round(${Parity.cosineSql("q.e", "c.e")}, 6)) AS cos
           |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
           |    AND q.vec_id < 50 AND q.vec_id <> c.vec_id
           |  GROUP BY 1, 2),
           |ranked_a AS (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM scored_a)
           |SELECT e.q_id, CAST(count(a.n_id) AS BIGINT) AS n_hits,
           |       round(CAST(count(a.n_id) AS DOUBLE) / 3.0, 6) AS recall
           |FROM (SELECT * FROM ranked_e WHERE rank <= 3) e
           |LEFT JOIN (SELECT * FROM ranked_a WHERE rank <= 3) a
           |  ON a.q_id = e.q_id AND a.n_id = e.n_id
           |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,
      "events_json_agg" ->
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(k) AS BIGINT) AS sum_k,
          |       min(k) AS min_k, max(k) AS max_k
          |FROM (SELECT event_type, TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_quantiles" ->
        """SELECT event_type,
          |       round(quantile_cont(value, 0.5), 6) AS p50,
          |       round(quantile_cont(value, 0.95), 6) AS p95,
          |       count(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_anomaly" ->
        """WITH f AS (
          |  SELECT event_type AS ft, count(*) AS n,
          |         round(quantile_cont(value, 0.25), 6) AS p25,
          |         round(quantile_cont(value, 0.75), 6) AS p75
          |  FROM events GROUP BY event_type),
          |ff AS (
          |  SELECT ft, n,
          |         round(p25 - (p75 - p25) * 1.5, 6) AS lo_fence,
          |         round(p75 + (p75 - p25) * 1.5, 6) AS hi_fence
          |  FROM f)
          |SELECT e.event_type, ff.n, ff.lo_fence, ff.hi_fence,
          |       CAST(sum(CASE WHEN e.value < ff.lo_fence OR e.value > ff.hi_fence
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |       max(e.value) AS max_value
          |FROM events e JOIN ff ON e.event_type = ff.ft
          |GROUP BY e.event_type, ff.n, ff.lo_fence, ff.hi_fence
          |ORDER BY e.event_type""".stripMargin,
      "events_markov" ->
        (EventOps.markovTransitionsSql() + "\nORDER BY prev_type, next_type"),
      "events_mad" -> (EventOps.madOutliersSql() + "\nORDER BY event_type"),
      "events_psi" -> (EventOps.psiDriftSql() + "\nORDER BY event_type"),
      "events_ks_drift" -> (EventOps.ksDriftSql() + "\nORDER BY event_type"),
      "events_cusum" -> (EventOps.cusumDriftSql() + "\nORDER BY event_type"),
      "events_cusum_query" -> (EventOps.cusumQueryStoredSql(
        EventOps.DriftQueryLoPct, EventOps.DriftQueryHiPct) + "\nORDER BY event_type"),
      "events_psi_query" -> (EventOps.psiQueryStoredSql(
        EventOps.DriftQueryLoPct, EventOps.DriftQueryHiPct) + "\nORDER BY event_type"),
      "events_mwu_drift" -> (EventOps.mwuDriftSql() + "\nORDER BY event_type"),
      "events_survival_km" -> (EventOps.survivalKmSql() + "\nORDER BY t_hr"),
      "events_drift_report" -> (EventOps.driftReportSql() + "\nORDER BY event_type"),
      "events_stickiness" -> (EventOps.stickinessSql() + "\nORDER BY day"),
      "events_funnel" ->
        """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |       JOIN s1 ON s1.user_id = e.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |       JOIN s2 ON s2.user_id = e.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
          |u AS (SELECT 1 AS step, 'view' AS event_type, CAST(count(*) AS BIGINT) AS n_users FROM s1
          |      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
          |      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
          |SELECT CAST(step AS INT) AS step, event_type, n_users,
          |       CAST(n_users * 1000000 // (SELECT n_users FROM u WHERE step = 1)
          |            AS BIGINT) AS conv_ppm
          |FROM u ORDER BY step""".stripMargin,
      "events_retention" ->
        """WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
          |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
          |a AS (SELECT DISTINCT user_id, wk FROM ev),
          |m AS (SELECT f.cohort_wk,
          |             CAST((a.wk - f.cohort_wk) // 7 AS INT) AS week_offset,
          |             CAST(count(*) AS BIGINT) AS n_active
          |      FROM a JOIN f ON f.user_id = a.user_id GROUP BY 1, 2),
          |s AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1)
          |SELECT CAST(m.cohort_wk AS VARCHAR) AS cohort_week, m.week_offset, m.n_active,
          |       s.cohort_size,
          |       CAST(m.n_active * 1000000 // s.cohort_size AS BIGINT) AS retained_ppm
          |FROM m JOIN s USING (cohort_wk) ORDER BY cohort_week, week_offset""".stripMargin,
      "skew_key_report" ->
        """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |             CAST(sum(cnt) AS BIGINT) AS total_rows,
          |             CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
          |r AS (SELECT key, cnt,
          |             CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INT) AS rank
          |      FROM c)
          |SELECT r.rank, r.key, r.cnt,
          |       CAST(r.cnt * 1000000 // t.total_rows AS BIGINT) AS share_ppm,
          |       t.n_keys, t.total_rows, t.max_cnt
          |FROM r CROSS JOIN t WHERE r.rank <= 10 ORDER BY r.rank""".stripMargin,
      "events_quantiles_binned" -> quantilesBinnedOracleSql,
      // the streaming histogram converges to the batch histogram, so the
      // sketch-quantile oracle is shared verbatim
      "events_stream_quantiles" -> quantilesBinnedOracleSql,
      "events_stream_psi" -> (EventOps.psiDriftSql() + "\nORDER BY event_type"),
      "events_stream_cusum" -> (EventOps.cusumDriftSql() + "\nORDER BY event_type"),
      "events_stream_seasonality" ->
        (EventOps.seasonalitySql() + "\nORDER BY event_type, hour"),
      "events_asof" ->
        s"""WITH c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
           |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
           |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id, strftime(p.ts, $fmt) AS pts, p.value,
           |       c.click_value AS click_value, strftime(c.ts, $fmt) AS cts
           |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
           |ORDER BY p.event_id""".stripMargin,
      "salted_agg" ->
        """SELECT event_type AS key, count(*) AS n,
          |       CAST(sum(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_m
          |FROM events GROUP BY event_type ORDER BY key""".stripMargin,
      "text_bm25_topk" -> TextOps.bm25TopKSql(nTerms = 3, k = 20),
      // the stored model reproduces the training tables (pinned by the
      // planted-model spec); the oracle proves the scores
      "text_bm25_stored" -> TextOps.bm25TopKSql(nTerms = 3, k = 20),
      "text_bm25_query" -> TextOps.bm25QueryStoredSql(Bm25QueryTerms, k = 20),
      "text_tfidf" ->
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
           |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |nn AS (SELECT count(*) AS n FROM documents)
           |SELECT doc_id, term, tf, df,
           |       round(tf * ln(CAST(nn.n AS DOUBLE) / df), 6) AS tfidf
           |FROM tf JOIN dfx USING (term) CROSS JOIN nn
           |ORDER BY doc_id, term""".stripMargin,
      "emb_hard_negatives" -> Similarity.hardNegativesSql(nQueries = 20, k = 3),
      "emb_knn_graph" -> knnGraphOracleSql,
      "ann_kmeans_elbow" -> kmeansElbowOracleSql(),
      "ann_recall_at_k" -> ivfRecallAtKOracleSql(),
      "ann_ndcg" -> ivfNdcgOracleSql(),
      "emb_outliers" -> Similarity.labelOutliersSql(k = 10),
      "emb_centroids" ->
        """WITH d AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
          |SELECT label, CAST(t.i AS INT) AS dim,
          |       round(avg(e[t.i]), 6) AS centroid, count(*) AS n
          |FROM d CROSS JOIN range(1, 65) t(i)
          |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
      "emb_drift" ->
        """WITH d AS (
          |  SELECT label, vec_id % 2 = 0 AS base, CAST(embedding AS DOUBLE[]) AS e
          |  FROM embeddings),
          |per AS (
          |  SELECT label, t.i AS pos, base,
          |         round(avg(e[t.i]), 6) AS c, CAST(count(*) AS BIGINT) AS n
          |  FROM d CROSS JOIN range(1, 65) t(i)
          |  GROUP BY 1, 2, 3),
          |ab AS (
          |  SELECT label, pos,
          |         max(CASE WHEN base THEN c END) AS ca,
          |         max(CASE WHEN NOT base THEN c END) AS cb,
          |         max(CASE WHEN base THEN n END) AS na,
          |         max(CASE WHEN NOT base THEN n END) AS nb
          |  FROM per GROUP BY 1, 2)
          |SELECT label, max(na) AS n_base, max(nb) AS n_curr,
          |       round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS l2_shift,
          |       round(sum(ca * cb) /
          |             (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6) AS cos_sim
          |FROM ab GROUP BY label ORDER BY label""".stripMargin,
      "multimodal_features" ->
        s"""SELECT doc_id,
           |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           |       CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n_frames,
           |       ${Parity.charFoldSql("text", 31L, Parity.TokP)} AS content_hash
           |FROM documents ORDER BY doc_id""".stripMargin,
      "multimodal_phash_dedup" -> Multimodal.phashDedupSql,
      "multimodal_phash_clusters" -> Multimodal.phashClustersSql,
      "multimodal_phash_hist" ->
        (Multimodal.phashHammingHistSql + "\nORDER BY hamming"),
      // the artifact reproduces the static store (pinned by batch/stream
      // parity + the stored-probe spec); the oracle proves the matches
      "multimodal_phash_stored" -> Multimodal.phashGateSql(firstNewId = 400L),
      "docs_stream_phash_static" -> Multimodal.phashGateSql(firstNewId = 400L),
      "docs_stream_audio_static" ->
        s"SELECT * FROM (${Multimodal.audioMatchGateSql(firstNewId = 400L)}) ORDER BY doc_id, s_id, off",
      "docs_stream_frame_static" ->
        s"SELECT * FROM (${Multimodal.frameGateSql(firstNewId = 400L)}) ORDER BY doc_id, s_id",
      "docs_stream_phash_upsert" -> Multimodal.phashUpsertSql(firstNewId = 400L),
      "multimodal_frame_dedup" ->
        s"SELECT * FROM (${Multimodal.frameDedupSql()}) ORDER BY a_id, b_id",
      "multimodal_frames" ->
        s"""WITH f AS (
           |  SELECT doc_id, text, CAST(length(text) // 64 AS BIGINT) AS n_frames
           |  FROM documents WHERE length(text) >= 64)
           |SELECT doc_id, CAST(t.i AS BIGINT) AS frame_idx,
           |       CAST(t.i * 64 AS BIGINT) AS offset,
           |       ${Parity.charFoldSql("substring(text, CAST(t.i * 64 + 1 AS INT), 64)", 31L, Parity.TokP)} AS frame_hash
           |FROM f CROSS JOIN range(0, 3) t(i) WHERE t.i < n_frames
           |ORDER BY doc_id, frame_idx""".stripMargin,
      "doc_split" ->
        s"""SELECT doc_id,
           |       CASE WHEN ${Parity.fp40Sql("text")} % 100 < 80 THEN 'train'
           |            WHEN ${Parity.fp40Sql("text")} % 100 < 90 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin,
      "doc_split_stats" ->
        s"""SELECT CASE WHEN ${Parity.fp40Sql("text")} % 100 < 80 THEN 'train'
           |            WHEN ${Parity.fp40Sql("text")} % 100 < 90 THEN 'val'
           |            ELSE 'test' END AS split,
           |       lang, count(*) AS n_docs
           |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
      "text_vocab" ->
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents)
           |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           |       CAST(count(*) AS BIGINT) AS tf
           |FROM t GROUP BY term ORDER BY df DESC, term LIMIT 50""".stripMargin,
      "text_length_hist" ->
        s"""SELECT least(CAST(len($toks) AS BIGINT) // 10, 20) AS bucket,
           |       count(*) AS n_docs,
           |       round(avg(CAST(length(text) AS DOUBLE)), 6) AS avg_chars
           |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
      "events_dedup" ->
        """SELECT event_type, count(*) AS n_events,
          |       CAST(count(DISTINCT (user_id, ts, value)) AS BIGINT) AS n_distinct,
          |       CAST(count(*) - count(DISTINCT (user_id, ts, value)) AS BIGINT) AS n_dupes
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "degree_hist" ->
        s"""WITH edges AS (${GraphSource.lineitemEdgesSql}),
           |o AS (SELECT 'out' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes FROM (
           |        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src) GROUP BY deg),
           |i AS (SELECT 'in' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes FROM (
           |        SELECT dst, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY dst) GROUP BY deg)
           |SELECT * FROM o UNION ALL SELECT * FROM i ORDER BY side, deg""".stripMargin,
      "graph_powerlaw_fit" -> GraphOps.powerlawFitSql(GraphSource.lineitemEdgesSql),
      "graph_reciprocity" -> GraphOps.reciprocitySql(GraphSource.lineitemEdgesSql),
      "dq_referential" ->
        s"SELECT * FROM (${operators.Quality.referentialAuditSql()}) ORDER BY rel",
      "dq_expectations" ->
        s"SELECT * FROM (${operators.Quality.expectationsAuditSql()}) ORDER BY expectation",
      "pii_l_diversity" ->
        s"SELECT * FROM (${operators.Quality.lDiversitySql()}) ORDER BY c_nationkey, bal_band",
      "pii_dp_counts" ->
        s"SELECT * FROM (${operators.Quality.dpCountsSql()}) ORDER BY c_nationkey",
      "corpus_agg_incremental" ->
        s"SELECT * FROM (${operators.Quality.aggIncrementalSql()}) ORDER BY source",
      "pii_sensitivity" ->
        s"SELECT * FROM (${operators.Quality.sensitivityReportSql()}) ORDER BY event_type",
      "tok_wordpiece" ->
        s"SELECT * FROM (${operators.Tokenization.wordpieceEncodeSql()}) ORDER BY word",
      "events_ab_test" -> EventOps.abTestSql(),
      "events_ab_power" -> EventOps.abPowerSql(),
      "q3_shipping" ->
        """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM customer
          |JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND l_shipdate > TIMESTAMP '1998-01-01'
          |GROUP BY 1, 2
          |ORDER BY rev_cents DESC, l_orderkey LIMIT 10""".stripMargin,
      "q10_returns" ->
        """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          |       CAST(c_nationkey AS BIGINT) AS c_nationkey,
          |       CAST(count(*) AS BIGINT) AS n_items,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM orders
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND l_returnflag = 'R'
          |GROUP BY 1, 2
          |ORDER BY rev_cents DESC, c_custkey LIMIT 20""".stripMargin,
      "q6_forecast" ->
        """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
          |            AS BIGINT) AS revenue_cents,
          |       CAST(count(*) AS BIGINT) AS n_rows
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 6
          |  AND l_quantity < 24""".stripMargin,
      "q5_local_supplier" ->
        """SELECT n_name,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM lineitem
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
          |JOIN nation ON n_nationkey = c_nationkey
          |JOIN region ON r_regionkey = n_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY n_name
          |ORDER BY rev_cents DESC, n_name""".stripMargin,
      "q4_priority" ->
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,
      "q14_promo" ->
        """WITH j AS (
          |  SELECT CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
          |           AS cents,
          |         p_type
          |  FROM lineitem JOIN part ON p_partkey = l_partkey
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1998-01-01')
          |SELECT promo_cents, total_cents,
          |       promo_cents * 1000000 // total_cents AS promo_ppm
          |FROM (
          |  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
          |              AS BIGINT) AS promo_cents,
          |         CAST(sum(cents) AS BIGINT) AS total_cents
          |  FROM j)""".stripMargin,
      "q18_big_orders" ->
        """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          |       CAST(l_orderkey AS BIGINT) AS l_orderkey,
          |       strftime(o_orderdate, '%Y-%m-%d') AS odate,
          |       CAST(round(qty) AS BIGINT) AS total_qty
          |FROM (SELECT l_orderkey, sum(l_quantity) AS qty
          |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |ORDER BY total_qty DESC, l_orderkey LIMIT 20""".stripMargin,
      "orders_moving_avg" ->
        """WITH d AS (
          |  SELECT CAST(o_orderdate AS DATE) AS day,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
          |  FROM orders GROUP BY 1),
          |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
          |spine AS (SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS day FROM b),
          |ser AS (SELECT CAST(spine.day AS DATE) AS day, coalesce(d.rev_cents, 0) AS rev_cents
          |        FROM spine LEFT JOIN d ON d.day = CAST(spine.day AS DATE))
          |SELECT strftime(day, '%Y-%m-%d') AS day, rev_cents,
          |       CAST(sum(rev_cents) OVER w AS BIGINT)
          |         // CAST(count(*) OVER w AS BIGINT) AS ma7_cents
          |FROM ser
          |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
          |ORDER BY day""".stripMargin,
      "q7_nation_volume" ->
        """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          |       strftime(l_shipdate, '%Y') AS l_year,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM lineitem
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation sn ON sn.n_nationkey = s_nationkey
          |JOIN nation cn ON cn.n_nationkey = c_nationkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND ((sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_8')
          |       OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_7'))
          |GROUP BY 1, 2, 3
          |ORDER BY 1, 2, 3""".stripMargin,
      "q8_market_share" ->
        """WITH j AS (
          |  SELECT strftime(o_orderdate, '%Y') AS o_year,
          |         CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
          |           AS cents,
          |         sn.n_name AS supp_nation
          |  FROM lineitem
          |  JOIN orders ON o_orderkey = l_orderkey
          |  JOIN customer ON c_custkey = o_custkey
          |  JOIN nation cn ON cn.n_nationkey = c_nationkey
          |  JOIN region ON r_regionkey = cn.n_regionkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation sn ON sn.n_nationkey = s_nationkey
          |  WHERE r_name = 'ASIA'
          |    AND o_orderdate >= TIMESTAMP '1996-01-01'
          |    AND o_orderdate < TIMESTAMP '1998-01-01')
          |SELECT o_year, nation_cents, total_cents,
          |       nation_cents * 1000000 // total_cents AS share_ppm
          |FROM (
          |  SELECT o_year,
          |         CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
          |              AS BIGINT) AS nation_cents,
          |         CAST(sum(cents) AS BIGINT) AS total_cents
          |  FROM j GROUP BY o_year)
          |ORDER BY o_year""".stripMargin,
      "q9_profit" ->
        """SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
          |                 - CAST(round(p_retailprice * 100) AS BIGINT)
          |                   * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS profit_cents
          |FROM lineitem
          |JOIN part ON p_partkey = l_partkey
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation ON n_nationkey = s_nationkey
          |GROUP BY 1, 2
          |ORDER BY nation, o_year DESC""".stripMargin,
      "q12_latency_mix" ->
        """SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 'fast'
          |            WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 'normal'
          |            ELSE 'late' END AS latency,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_other
          |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q13_order_counts" ->
        """WITH co AS (
          |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
          |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          |  GROUP BY c_custkey)
          |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_cust
          |FROM co GROUP BY n_orders
          |ORDER BY n_cust DESC, n_orders DESC""".stripMargin,
      "q15_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey AS s_key,
          |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                       AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY 1),
          |m AS (SELECT max(total_cents) AS mx FROM rev)
          |SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name, r.total_cents
          |FROM rev r JOIN m ON r.total_cents = m.mx
          |JOIN supplier s ON s.s_suppkey = r.s_key
          |ORDER BY s.s_suppkey""".stripMargin,
      "q17_small_qty" ->
        """WITH li AS (
          |  SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
          |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
          |  FROM lineitem),
          |a AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
          |             CAST(count(*) AS BIGINT) AS n_li
          |      FROM li GROUP BY l_partkey)
          |SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(price_cents) AS BIGINT) AS rev_cents,
          |       CAST(CAST(sum(price_cents) AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
          |FROM li
          |JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#12'
          |JOIN a ON a.l_partkey = li.l_partkey
          |WHERE qty * 5 * n_li < sum_qty""".stripMargin,
      "q2_min_cost_supplier" ->
        """WITH ps AS (
          |  SELECT l_partkey, l_suppkey,
          |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
          |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY 1, 2),
          |eu AS (
          |  SELECT s.s_suppkey, s.s_name, n.n_name
          |  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
          |  JOIN region r ON r.r_regionkey = n.n_regionkey
          |  WHERE r.r_name = 'EUROPE'),
          |cost AS (
          |  SELECT ps.l_partkey, eu.s_name, eu.n_name,
          |         ps.price_cents * 10000 // ps.qty AS cost_micro,
          |         row_number() OVER (PARTITION BY ps.l_partkey
          |                            ORDER BY ps.price_cents * 10000 // ps.qty, ps.l_suppkey) AS rk
          |  FROM ps JOIN eu ON eu.s_suppkey = ps.l_suppkey)
          |SELECT p.p_partkey, p.p_brand, c.s_name, c.n_name, c.cost_micro
          |FROM cost c JOIN part p ON p.p_partkey = c.l_partkey
          |WHERE c.rk = 1 AND p.p_type = 'LARGE'
          |ORDER BY p.p_partkey LIMIT 100""".stripMargin,
      "q11_important_stock" ->
        """WITH v AS (
          |  SELECT l.l_partkey,
          |         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
          |  JOIN nation n ON n.n_nationkey = s.s_nationkey
          |  WHERE n.n_name = 'NATION_7' GROUP BY 1),
          |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM v)
          |SELECT v.l_partkey, v.value_cents
          |FROM v CROSS JOIN t WHERE v.value_cents * 1000 > t.total
          |ORDER BY v.value_cents DESC, v.l_partkey""".stripMargin,
      "q16_supplier_cnt" ->
        """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
          |ok AS (SELECT p.l_partkey, p.l_suppkey FROM pairs p
          |       WHERE p.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
          |SELECT pt.p_brand, pt.p_type, CAST(pt.p_size AS BIGINT) AS p_size,
          |       CAST(count(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM ok JOIN part pt ON pt.p_partkey = ok.l_partkey
          |WHERE pt.p_brand <> 'Brand#45'
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
      "q20_excess_suppliers" ->
        """WITH sq AS (
          |  SELECT l_partkey, l_suppkey,
          |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          |  GROUP BY 1, 2),
          |tot AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total_qty FROM sq GROUP BY 1),
          |hot AS (
          |  SELECT DISTINCT sq.l_suppkey
          |  FROM sq JOIN tot ON tot.l_partkey = sq.l_partkey
          |  JOIN part p ON p.p_partkey = sq.l_partkey
          |  WHERE p.p_type = 'PROMO' AND sq.qty * 2 > tot.total_qty)
          |SELECT s.s_name, n.n_name
          |FROM hot JOIN supplier s ON s.s_suppkey = hot.l_suppkey
          |JOIN nation n ON n.n_nationkey = s.s_nationkey
          |ORDER BY s.s_name""".stripMargin,
      "q22_idle_customers" ->
        """WITH cust AS (
          |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
          |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          |  FROM customer),
          |t AS (SELECT CAST(sum(bal_cents) AS BIGINT) // CAST(count(*) AS BIGINT)
          |        AS avg_bal_cents
          |      FROM cust WHERE bal_cents > 0)
          |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
          |       CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
          |FROM cust CROSS JOIN t
          |WHERE bal_cents > avg_bal_cents
          |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY c_nationkey
          |ORDER BY c_nationkey""".stripMargin,
      "q21_waiting_supplier" ->
        """WITH li AS (
          |  SELECT l_orderkey, l_suppkey,
          |         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  WHERE o_orderstatus = 'F'),
          |per_order AS (
          |  SELECT l_orderkey AS ok,
          |         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
          |         CAST(count(DISTINCT CASE WHEN late THEN l_suppkey END) AS BIGINT)
          |           AS n_late_supp
          |  FROM li GROUP BY 1)
          |SELECT n_name, s_name, CAST(count(*) AS BIGINT) AS numwait
          |FROM li JOIN per_order ON ok = l_orderkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN nation ON n_nationkey = s_nationkey
          |WHERE late AND n_supp > 1 AND n_late_supp = 1
          |GROUP BY n_name, s_name
          |ORDER BY numwait DESC, n_name, s_name
          |LIMIT 100""".stripMargin,
      "q19_brackets" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 20)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
          |       AND l_quantity BETWEEN 10 AND 30)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
          |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
      "graph_msf_clusters" ->
        s"""WITH RECURSIVE msf AS MATERIALIZED (
           |  SELECT * FROM (${GraphOps.msfSql(GraphSource.layeredEdgesSql, "(a * 7 + b * 13) % 101")})
           |  WHERE wn <= 50),
           |und AS MATERIALIZED (SELECT a AS s, b AS d FROM msf UNION SELECT b, a FROM msf),
           |reach(id, lab) AS (
           |  SELECT s, s FROM und
           |  UNION
           |  SELECT u.d, r.lab FROM reach r JOIN und u ON u.s = r.id),
           |comp AS (SELECT id, min(lab) AS c FROM reach GROUP BY id),
           |sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY c)
           |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
           |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,
      "events_mann_kendall" -> EventOps.mannKendallSql(),
      "events_cuped" -> EventOps.cupedSql(),
      "events_msprt" ->
        s"SELECT * FROM (${EventOps.msprtSql()}) ORDER BY event_type",
      "events_did" -> EventOps.didSql(),
      "events_page_hinkley" ->
        s"SELECT * FROM (${EventOps.pageHinkleySql()}) ORDER BY d",
      "events_qte_binned" ->
        s"SELECT * FROM (${EventOps.qteBinnedSql()}) ORDER BY q_pct",
      "stats_james_stein" ->
        s"SELECT * FROM (${operators.Stats.jamesSteinSql()}) ORDER BY event_type",
      "dedup_soft_weights" ->
        s"SELECT * FROM (${Dedup.softWeightsSql()}) ORDER BY source",
      "events_snaive_eval" -> EventOps.snaiveEvalSql(),
      "events_holt_eval" -> EventOps.holtEvalSql(),
      "events_gap_sweep" -> EventOps.sessionGapSweepSql(),
      "pii_contribution_cap" ->
        s"SELECT * FROM (${operators.Quality.contributionCapSql()}) ORDER BY event_type",
      "dq_profile_drift" -> {
        val logSql =
          """SELECT doc_id, text, lang, CAST(1 AS BIGINT) AS version FROM documents
            |UNION ALL
            |SELECT doc_id, 'UPDATED: ' || coalesce(text, ''), lang, CAST(2 AS BIGINT)
            |FROM documents WHERE doc_id % 7 = 0
            |UNION ALL
            |SELECT -doc_id - 1, 'NEW ' || CAST(doc_id AS VARCHAR), 'en', CAST(2 AS BIGINT)
            |FROM documents WHERE doc_id % 97 = 0""".stripMargin
        val v2Sql =
          s"""SELECT doc_id, text, lang FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
             |  FROM ($logSql)) WHERE rn = 1""".stripMargin
        s"""SELECT * FROM (${operators.Quality.profileDriftSql(
             "SELECT doc_id, text, lang FROM documents",
             v2Sql,
             Seq("text", "lang"))}) ORDER BY "column"""".stripMargin
      },
      "events_attribution" ->
        s"SELECT * FROM (${EventOps.attributionSql()}) ORDER BY model, event_type",
      "ann_mmr_rerank" ->
        s"SELECT * FROM (${Similarity.mmrDiversifySql(nQueries = 8, k = 5)}) ORDER BY q_id, rank",
      "emb_kcenter_coreset" ->
        s"SELECT * FROM (${Similarity.kcenterCoresetSql()}) ORDER BY rank",
      "ann_filtered_topk" ->
        s"SELECT * FROM (${Similarity.ivfFilteredTopKSql(nQueries = 20, k = 5)}) ORDER BY q_id, rank",
      "events_concurrency" ->
        s"SELECT * FROM (${EventOps.concurrencySql()}) ORDER BY concurrency",
      "events_winsorized" ->
        s"SELECT * FROM (${EventOps.winsorizedSql()}) ORDER BY event_type",
      "events_markov_eval" ->
        s"SELECT * FROM (${EventOps.markovEvalSql()}) ORDER BY prev_type",
      "dq_functional_deps" ->
        s"SELECT * FROM (${operators.Quality.functionalDepsSql()}) ORDER BY fd",
      "pii_t_closeness" ->
        s"SELECT * FROM (${operators.Quality.tClosenessSql()}) ORDER BY c_nationkey, bal_band",
      "train_logreg_auc" -> operators.Training.logregAucSql(toks),
      "train_logreg_pr" -> operators.Training.logregPrCurveSql(toks),
      "train_logreg_cv" -> operators.Training.logregCvSql(toks),
      "events_acf" -> s"SELECT * FROM (${EventOps.acfSql()}) ORDER BY lag",
      "events_changepoint" -> EventOps.changepointSql(),
      "layout_compaction_plan" ->
        s"SELECT * FROM (${operators.Layout.compactionPlanSql()}) ORDER BY source, bin",
      "layout_prune_report" ->
        s"SELECT * FROM (${operators.Layout.zoneMapPruneReportSql()}) ORDER BY layout, probe",
      "layout_encoding_stats" ->
        s"SELECT * FROM (${operators.Layout.encodingStatsSql()}) ORDER BY col",
      "docs_domain_cap" ->
        s"SELECT * FROM (${TextOps.domainCapSql()}) ORDER BY source",
      "sample_neyman_alloc" ->
        s"SELECT * FROM (${TextOps.neymanAllocationSql()}) ORDER BY source"
    )
  }
}
