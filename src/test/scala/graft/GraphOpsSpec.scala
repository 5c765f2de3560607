package graft

import org.apache.spark.sql.Row
import graft.model.INF
import graft.operators.GraphOps

/** Unit tests for the reference graph surface on hand-computed micro-graphs,
  * including the reference's edge-case semantics (SURVEY.md Q1-Q5).
  */
class GraphOpsSpec extends SparkSpec {

  /** A path of `n` nodes numbered outward from its middle node, id 1
    * (ids 1, 2, 3, … alternate left and right), so that a label or a
    * mask spreading from id 1 needs n/2 rounds to reach both ends. */
  private def pathFromMiddle(n: Int): Seq[(Long, Long)] = {
    val ids = (0 until n).map { i =>
      val d = i - n / 2
      if (d >= 0) 2L * d + 1L else -2L * d
    }
    ids.zip(ids.tail)
  }

  /** Runs `body` and lists, in submission order, the stage count of each
    * Spark job it submits from this thread (skipped stages included, so
    * the count grows with an uncut lineage). */
  private def jobStages[A](body: => A): (A, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.roundShape"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.synchronized(jobs += e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val out =
      try body
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.sql.graftbridge.CheckpointBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.synchronized(jobs.toList))
  }

  /** Runs `body` and counts the Spark jobs it submits from this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (out, stages) = jobStages(body)
    (out, stages.size)
  }

  /** Runs `body` and lists the peak execution memory of every task in
    * the stages of the jobs it submits from this thread after its first
    * `prelude` jobs (a stage belongs to the first job that lists it).
    * Every round task of a loop that reports 0 runs no step through a
    * Spark Aggregator, a cogroup or a sorting shuffle writer (each
    * charges its map's estimated size). */
  private def roundTaskPeaks[A](prelude: Int)(body: => A): (A, Seq[Long]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val tag = "graft.test.roundMemory"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val peaks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.synchronized(jobs += e.stageIds)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          peaks.synchronized(peaks += e.stageId -> e.taskMetrics.peakExecutionMemory)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val out =
      try body
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.sql.graftbridge.CheckpointBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    val before = jobs.take(prelude).flatten.toSet
    val rounds = jobs.drop(prelude).flatten.toSet -- before
    assert(rounds.nonEmpty)
    (out, peaks.collect { case (s, p) if rounds(s) => p }.toSeq)
  }

  private def ssspMap(edges: Seq[(Long, Long, Double)], src: Long): Map[Long, Double] =
    GraphOps
      .sssp(edgesDf(edges), src)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap

  test("densest peel: K6 core survives round 0, surfaces as the max-density round") {
    // K6 (15 edges, every degree 5) + 20 leaves hung off node 1: round 0
    // has avg degree 70/26 ≈ 2.7 → leaves (deg 1 ≤ 1.5·avg) die, K6
    // survives; round 1 is the bare K6 (density 15/6 = 2.5) and a regular
    // graph peels to empty (every degree equals the average)
    val k6 = for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b, 1.0)
    val leaves = (101L to 120L).map(l => (1L, l, 1.0))
    val prof = GraphOps
      .densestSubgraph(edgesDf(k6 ++ leaves))
      .orderBy(org.apache.spark.sql.functions.col("round"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(prof.length === 2)
    assert(prof(0) === ((0L, 26L, 35L, 35L * 1000000 / 26)))
    assert(prof(1) === ((1L, 6L, 15L, 2500000L)))
    // a node at exactly 1.5× the average degree dies: on the paths
    // 3-1-4-6 and 2-5, v = 6 and Σdeg = 8, so nodes 1 and 4 have
    // 2·2·6 = 3·8 and the graph drains after row 0
    val tie = GraphOps
      .densestSubgraph(edgesDf(Seq((1L, 3L, 1.0), (1L, 4L, 1.0), (4L, 6L, 1.0), (2L, 5L, 1.0))))
      .collect()
      .map(_.getLong(0))
    assert(tie.toSeq === Seq(0L))
  }

  test("katz on a line graph: hand-computed milli-unit fixed point, sink included") {
    // 1→2→3: x0 = 1000 everywhere; x1(2) = x1(3) = 1000 + 1000/8 = 1125;
    // x2(3) = 1000 + 1125/8 = 1140; node 3 is a pure sink and still ranks
    val out = GraphOps
      .katzFixed(edgesDf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(out === Map(1L -> 1000L, 2L -> 1125L, 3L -> 1140L))
  }

  test("reverseGraph transposes and sorts adjacency ascending") {
    val out = GraphOps
      .reverseGraph(edgesDf(Seq((1L, 2L, 1.0), (3L, 2L, 1.0), (2L, 1L, 1.0), (10L, 2L, 1.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    // numeric (not string) ascending order: 1,3,10
    assert(out === Map(2L -> "1,3,10", 1L -> "2"))
  }

  test("reverseGraph keeps parallel edges (Q3)") {
    val out = GraphOps
      .reverseGraph(edgesDf(Seq((1L, 2L, 1.0), (1L, 2L, 5.0), (3L, 2L, 1.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(out === Map(2L -> "1,1,3"))
  }

  test("buildAdjacency seeds source=0, others=INF, all updated (Q5)") {
    val rows = GraphOps
      .buildAdjacency(edgesDf(Seq((1L, 2L, 3.5), (1L, 3L, 1.0), (2L, 3L, 2.0))), source = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(rows === Seq((1L, "2:3.5,3:1.0", 0.0, true), (2L, "3:2.0", INF, true)))
  }

  test("sssp on a line graph") {
    // plus a heavier parallel edge listed before the light one, a
    // self-loop, and sink-only nodes (4, 9) that the frontier looks up
    // and finds no out-edges for
    val d = ssspMap(
      Seq((1L, 2L, 1.0), (2L, 3L, 5.0), (2L, 3L, 2.0), (3L, 3L, 1.0), (3L, 4L, 3.0),
        (1L, 9L, 7.0)),
      1L)
    assert(d === Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0, 4L -> 6.0, 9L -> 7.0))
  }

  test("sssp picks shortest of multiple paths") {
    val d = ssspMap(
      Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 2.0), (2L, 4L, 1.0)),
      1L)
    assert(d(2L) === 3.0 && d(4L) === 4.0)
  }

  test("sssp: unreachable node with out-edges keeps INF sentinel (Q1)") {
    val d = ssspMap(Seq((1L, 2L, 1.0), (5L, 6L, 1.0)), 1L)
    assert(d(5L) === INF)
    // 6 is neither a source nor reached → absent from output (Q4)
    assert(!d.contains(6L))
  }

  test("sssp: sink node discovered mid-iteration enters output (Q4)") {
    // 4 has no out-edges, appears only as a dst two hops from the source
    val d = ssspMap(Seq((1L, 2L, 1.0), (2L, 4L, 2.0)), 1L)
    assert(d(4L) === 3.0)
  }

  test("sssp: path sums above the INF sentinel stay invisible (Q2)") {
    // reference gate compares == 65535.0 exactly; a candidate above the
    // sentinel loses the min and the node reads as unreachable
    val d = ssspMap(Seq((1L, 2L, 70000.0)), 1L)
    assert(d(2L) === INF) // reached (emitted) but distance capped at the sentinel
    assert(d(1L) === 0.0)
  }

  test("sssp: self-loops and cycles converge") {
    val d = ssspMap(
      Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 2.0), (3L, 1L, 1.0)),
      1L)
    assert(d === Map(1L -> 0.0, 2L -> 2.0, 3L -> 4.0))
  }

  test("sssp matches in-driver Dijkstra on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Seq.fill(300) {
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toDouble)
    }
    val got = ssspMap(edges, 0L)

    // reference oracle: plain Dijkstra over the same edge list
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = collection.mutable.Map[Long, Double](0L -> 0.0)
    val pq = collection.mutable.PriorityQueue((0.0, 0L))(Ordering.by(-_._1))
    val done = collection.mutable.Set[Long]()
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done(u)) {
        done += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.MaxValue)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
        }
      }
    }
    val expected = (edges.map(_._1).toSet ++ dist.keySet).map { id =>
      id -> dist.getOrElse(id, INF)
    }.toMap
    assert(got === expected)
  }

  test("sssp on a long path exercises many rounds and the loop bound") {
    // 2000-hop chain: one-node frontiers for 2000 consecutive hops (1000
    // fused round jobs), the long-diameter regime where an uncut
    // lineage overflows the stack when a task is serialized
    val n = 2000
    val chain = (0 until n).map(i => (i.toLong, i + 1L, 1.0))
    val d = ssspMap(chain, 0L)
    assert(d.size === n + 1)
    (0 to n).foreach(i => assert(d(i.toLong) === i.toDouble))
  }

  test("connectedComponents on a long path folds and still labels one component") {
    // 2000 nodes numbered outward from the middle, so the min label 1
    // sits mid-path: a diameter of 1999 that star contraction folds in
    // O(log d) rounds
    val n = 2000
    val comps = GraphOps
      .connectedComponents(edgesDf(pathFromMiddle(n).map { case (a, b) => (a, b, 1.0) }))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comps === (1 to n).map(i => i.toLong -> 1L).toMap)
  }

  test("connectedComponents on a 2000-node path labels one component") {
    // numbered in order, so the min label 0 sits at one end and every
    // node's smaller neighbour is its predecessor: the other worst case
    // beside the mid-path numbering above
    val n = 2000
    val comps = GraphOps
      .connectedComponents(edgesDf((0 until n - 1).map(i => (i.toLong, i + 1L, 1.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comps === (0 until n).map(i => i.toLong -> 0L).toMap)
  }

  test("sssp round shape: three prelude jobs, then one job per fused round") {
    // 12-hop chain from 0: one-node frontiers, so every round fuses two
    // hops and the loop stops at the |V|-1 = 12 bound after 6 jobs. The
    // prelude is edges.count (two jobs under AQE: its partial-count
    // stage, then the result) plus ONE job building the index and the
    // vertex set; the seed and the per-round checkpoints add no job.
    val chain = edgesDf((0 until 12).map(i => (i.toLong, i + 1L, 1.0)))
    val (out, jobs) = jobsOf(GraphOps.sssp(chain, 0L))
    assert(jobs === 3 + 6)
    val d = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d === (0 to 12).map(i => i.toLong -> i.toDouble).toMap)
  }

  test("sssp: maxRounds cuts the rounds, updated marks the last round's improvements") {
    // 0→3 reaches 3 at hop 1 (dist 10); the path 0→1→2→3 improves it to
    // 3 at hop 3, and 4 improves in step from 11 to 4. 7→8 is a second
    // component: 7 is a source kept at INF, 8 is never reached (Q1, Q4).
    // |V| = 7, so the |V|-1 bound is 6 hops. A round fuses two hops
    // while at least two are left, so maxRounds = 2 runs one fused round
    // and 3 runs a fused round then a single hop; `updated` is measured
    // against the state before the last round, fused or not.
    val edges = edgesDf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (0L, 3L, 10.0),
      (3L, 4L, 1.0), (7L, 8L, 1.0)))
    def run(maxRounds: Int): Map[Long, (Double, Boolean)] =
      GraphOps
        .sssp(edges, 0L, maxRounds)
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
        .toMap
    val T = true
    val F = false
    assert(run(1) === Map(0L -> (0.0, F), 1L -> (1.0, T), 2L -> (INF, F), 3L -> (10.0, T),
      7L -> (INF, F)))
    assert(run(2) === Map(0L -> (0.0, F), 1L -> (1.0, T), 2L -> (2.0, T), 3L -> (10.0, T),
      4L -> (11.0, T), 7L -> (INF, F)))
    assert(run(3) === Map(0L -> (0.0, F), 1L -> (1.0, F), 2L -> (2.0, F), 3L -> (3.0, T),
      4L -> (11.0, F), 7L -> (INF, F)))
    assert(run(4) === Map(0L -> (0.0, F), 1L -> (1.0, F), 2L -> (2.0, F), 3L -> (3.0, T),
      4L -> (4.0, T), 7L -> (INF, F)))
    assert(run(Int.MaxValue) === Map(0L -> (0.0, F), 1L -> (1.0, F), 2L -> (2.0, F),
      3L -> (3.0, F), 4L -> (4.0, F), 7L -> (INF, F)))
  }

  test("sssp rounds run without execution memory: no combine map, cogroup or sort") {
    // the first three jobs are the prelude (edges.count and the index build)
    def ssspPeaks(edges: Seq[(Long, Long, Double)]): (Map[Long, Double], Seq[Long]) = {
      val df = edgesDf(edges)
      val (out, peaks) = roundTaskPeaks(prelude = 3)(GraphOps.sssp(df, 0L))
      (out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, peaks)
    }
    val (chain, chainPeaks) = ssspPeaks((0 until 12).map(i => (i.toLong, i + 1L, 1.0)))
    assert(chain === (0 to 12).map(i => i.toLong -> i.toDouble).toMap)
    assert(chainPeaks.nonEmpty && chainPeaks.forall(_ == 0L), chainPeaks)
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(300) {
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, (rnd.nextInt(9) + 1).toDouble)
    }
    val (_, randomPeaks) = ssspPeaks(random)
    assert(randomPeaks.nonEmpty && randomPeaks.forall(_ == 0L), randomPeaks)
  }

  test("kCore: a path fully peels via a multi-round deletion cascade") {
    // path of 11 nodes: endpoints die first (deg 1), each death exposes
    // the next node — the cascade the delta formulation must propagate
    val n = 10
    val path = (0 until n).map(i => (i.toLong, i + 1L, 1.0))
    val out = GraphOps.kCore(edgesDf(path), k = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size === n + 1)
    assert(out.values.forall(_ == false))
  }

  test("kCore round shape: three prelude jobs, then one job per peel round") {
    // 11-node path 0..10 at k = 2: the seed kills both ends, rounds 1-5
    // kill the next pair inward (node 5 last), round 6 kills nobody and
    // stops the loop. The prelude is edges.count (two jobs under AQE) and
    // the one job that builds the blocks and reads |V|, the degree sum
    // and the seed's dead nodes.
    val path = edgesDf((0 until 10).map(i => (i.toLong, i + 1L, 1.0)))
    val (out, jobs) = jobsOf(GraphOps.kCore(path, k = 2))
    assert(jobs === 3 + 6)
    assert(out.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap ===
      (0 to 10).map(i => i.toLong -> false).toMap)
    val (_, peaks) = roundTaskPeaks(prelude = 3)(GraphOps.kCore(path, k = 2))
    assert(peaks.nonEmpty && peaks.forall(_ == 0L), peaks)
  }

  test("kCore on a 2000-node path peels through a 1000-round cascade") {
    // both ends die first and each death exposes the next node inward:
    // 1000 rounds of two deaths each, far past the depth at which an
    // uncut lineage overflows the stack when a task is serialized
    val n = 2000
    val out = GraphOps
      .kCore(edgesDf(pathFromMiddle(n).map { case (a, b) => (a, b, 1.0) }), k = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    assert(out === (1 to n).map(i => i.toLong -> false).toMap)
  }

  test("kCore: a cycle with a pendant tail keeps exactly the cycle") {
    val cycle = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 1L, 1.0))
    val tail = Seq((4L, 5L, 1.0), (5L, 6L, 1.0), (6L, 7L, 1.0))
    val out = GraphOps.kCore(edgesDf(cycle ++ tail), k = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.filter(_._2).keySet === Set(1L, 2L, 3L, 4L))
    assert(out.filterNot(_._2).keySet === Set(5L, 6L, 7L))
  }

  test("kCore: parallel edges and self-loops don't inflate degrees") {
    // 1-2 duplicated + self-loop on 1: simple-graph degree of 1 and 2 is 1
    val out = GraphOps
      .kCore(edgesDf(Seq((1L, 2L, 1.0), (1L, 2L, 2.0), (2L, 1L, 1.0), (1L, 1L, 1.0))), k = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    assert(out === Map(1L -> false, 2L -> false))
  }

  test("peels on an empty and a self-loop-only edge list: empty frames, same schemas") {
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    def schema(cols: (String, org.apache.spark.sql.types.DataType)*): StructType =
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
    val loopsOnly = Seq((1L, 1L, 1.0), (2L, 2L, 1.0), (2L, 2L, 3.0))
    Seq(Seq.empty[(Long, Long, Double)], loopsOnly).foreach { edges =>
      val peels = Seq(
        GraphOps.corenessHIndex(edgesDf(edges)) ->
          schema("id" -> LongType, "coreness" -> LongType),
        GraphOps.kCore(edgesDf(edges), k = 2) ->
          schema("id" -> LongType, "in_core" -> BooleanType),
        GraphOps.densestSubgraph(edgesDf(edges)) ->
          schema(Seq("round", "n_nodes", "n_edges", "density_ppm", "avg_deg_ppm").map(_ -> LongType): _*))
      peels.foreach { case (df, expected) =>
        assert(df.schema === expected)
        assert(df.collect().isEmpty)
      }
    }
  }

  test("kCore with k <= 1 keeps every node of the simple graph") {
    // a path, a triangle, a parallel edge and a self-loop: every node of
    // the simple graph has an edge, so the 1-core (and any lower k) is all
    val edges = edgesDf(Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (2L, 1L, 4.0), (3L, 3L, 1.0),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (12L, 10L, 1.0)))
    val all = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(_ -> true).toMap
    Seq(0, 1, -1).foreach { k =>
      val out = GraphOps.kCore(edges, k).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out === all, s"k=$k")
    }
  }

  test("densestSubgraph with maxRounds 0 has no rows, with 1 only row 0") {
    val k6 = for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b, 1.0)
    val g = edgesDf(k6 ++ (101L to 120L).map(l => (1L, l, 1.0)))
    assert(GraphOps.densestSubgraph(g, maxRounds = 0).collect().isEmpty)
    val one = GraphOps.densestSubgraph(g, maxRounds = 1).collect().map(r => Seq.tabulate(5)(r.getLong))
    assert(one.toSeq === Seq(Seq(0L, 26L, 35L, 70L * 500000 / 26, 70L * 1000000 / 26)))
  }

  test("sssp on an empty edge list returns an empty result") {
    assert(GraphOps.sssp(edgesDf(Seq.empty), 1L).count() === 0)
  }

  test("sssp with a source absent from the graph returns INF for all sources") {
    val d = ssspMap(Seq((5L, 6L, 1.0)), 99L)
    assert(d === Map(5L -> INF))
  }

  test("connectedComponents labels each component with its min id") {
    val out = GraphOps
      .connectedComponents(edgesDf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (9L, 7L, 1.0), (5L, 5L, 1.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 7L -> 7L, 9L -> 7L, 5L -> 5L))
  }

  test("connectedComponents agrees with a union-find on adversarial shapes") {
    // long chain, a star with a large-id center, parallel edges,
    // self-loops, and an isolated self-loop-only node
    val edges =
      (0 until 30).map(i => (i.toLong, i + 1L, 1.0)) ++
        Seq((100L, 41L, 1.0), (100L, 42L, 1.0), (100L, 43L, 1.0), (100L, 41L, 1.0)) ++
        Seq((60L, 60L, 1.0), (70L, 71L, 1.0), (71L, 70L, 1.0))
    val comps = GraphOps
      .connectedComponents(edgesDf(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === GraphOpsSpec.unionFind(edges.map(e => (e._1, e._2))))
    assert(comps(30L) === 0L) // chain collapsed to its min
    assert(comps(41L) === 41L && comps(100L) === 41L)
    assert(comps(60L) === 60L) // self-loop-only node is its own component
  }

  test("connectedComponents round shape: prelude jobs, then one job per round") {
    // a 4-node path and one extra edge: the path needs 3 large/small-star
    // rounds, the third changing nothing. The prelude is edges.count (two
    // jobs under AQE); the seed is built inside round 1's job, and each
    // round's stop test is its one readout job: a shuffle per star plus
    // the readout stage (round 1 also shuffles the seed), flat because
    // every round's state is cut from its lineage.
    val edges = edgesDf(Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0)))
    val (out, stages) = jobStages(GraphOps.connectedComponents(edges))
    assert(stages.size === 2 + 3)
    assert(stages.drop(2) === Seq(4, 3, 3))
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on degenerate inputs") {
    val empty = GraphOps.connectedComponents(edgesDf(Seq.empty))
    assert(empty.columns.toSeq === Seq("id", "component"))
    assert(empty.count() === 0)
    val loops = GraphOps
      .connectedComponents(edgesDf(Seq((3L, 3L, 1.0), (7L, 7L, 1.0), (7L, 7L, 2.0))))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(loops === Map(3L -> 3L, 7L -> 7L))
    // the 31-node chain needs 6 rounds: a bound of 1 leaves changed rows
    val chain = edgesDf((0 until 30).map(i => (i.toLong, i + 1L, 1.0)))
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("labelPropagation: disjoint triangles settle on their min id; dups/self-loops ignored") {
    val tri = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0),
      (4L, 5L, 1.0), (5L, 6L, 1.0), (4L, 6L, 1.0),
      // noise: self-loop and a reversed duplicate edge
      (1L, 1L, 1.0), (2L, 1L, 9.0))
    val got = GraphOps
      .labelPropagation(edgesDf(tri), rounds = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation tie-break is the smallest label, synchronously") {
    // path 1-2-3: after round 1, node 2 sees {1,3} (tie -> 1),
    // endpoints adopt 2; round 2: node 2 sees {2,2} -> 2, node 1 sees
    // {1}, node 3 sees {1} (node 2's round-1 label) -> both 1
    val got = GraphOps
      .labelPropagation(edgesDf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0))), rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("multiSourceBfs: masks union along directed paths, bounded by rounds") {
    // chain 1→2→3→4→5 plus 2→10; sources {1, 2} (bits 0, 1)
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0), (2L, 10L, 1.0))
    val got = GraphOps
      .multiSourceBfs(edgesDf(edges), nSources = 2, rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // round bound: source 1 reaches {1,2,3,10} (1→2 then 2→{3,10}),
    // source 2 reaches {2,3,4,10}; node 5 is beyond 2 rounds of both
    assert(got === Map(
      1L -> (1L, 1L),
      2L -> (3L, 2L),
      3L -> (3L, 2L),
      4L -> (2L, 1L),
      10L -> (3L, 2L)))
    assert(!got.contains(5L))
  }

  test("multiSourceBfs: absent source ids degrade to unset bits; parallel edges collapse") {
    val edges = Seq((7L, 8L, 1.0), (7L, 8L, 2.0), (8L, 9L, 1.0))
    // sources 1..4 don't exist in the graph at all → empty result
    val empty = GraphOps.multiSourceBfs(edgesDf(edges), nSources = 4, rounds = 3).collect()
    assert(empty.isEmpty)
    // source 7 alone (bit 6) sweeps the chain
    val got = GraphOps
      .multiSourceBfs(edgesDf(edges), nSources = 7, rounds = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got === Map(7L -> 64L, 8L -> 64L, 9L -> 64L))
  }

  test("multiSourceBfs on a 2000-node path: the single source reaches both ends") {
    // source 1 (bit 0) sits mid-path on edges in both directions and
    // advances one hop per round each way; rounds ≥ the path length, so
    // the loop runs 1000 rounds and exits on an empty changed set
    val n = 2000
    val both = pathFromMiddle(n).flatMap { case (a, b) => Seq((a, b, 1.0), (b, a, 1.0)) }
    val got = GraphOps
      .multiSourceBfs(edgesDf(both), nSources = 1, rounds = n)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got === (1 to n).map(i => i.toLong -> 1L).toMap)
  }

  test("hits: L1 mass is conserved up to per-node truncation on the harness graph") {
    val edges = Seq(
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (4L, 3L, 1.0), (3L, 5L, 1.0))
    val rows = GraphOps.hits(edgesDf(edges), iters = 3).collect()
    val n = rows.length.toLong
    val hubSum = rows.map(_.getLong(1)).sum
    val authSum = rows.map(_.getLong(2)).sum
    // integer division truncates at most 1 micro-unit per node and the
    // normalizer divides by the exact total, so each side's mass sits in
    // (1e6 − n, 1e6]
    assert(hubSum <= 1000000L && hubSum > 1000000L - n, s"hub mass $hubSum")
    assert(authSum <= 1000000L && authSum > 1000000L - n, s"auth mass $authSum")
  }

  test("kTruss on a triangle-free graph converges to the empty truss") {
    val path = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
    assert(GraphOps.kTruss(edgesDf(path), k = 3).collect().isEmpty)
  }

  test("hits: a single edge puts all authority on the head and all hubness on the tail") {
    val out = GraphOps.hits(edgesDf(Seq((1L, 2L, 1.0))), iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((1000000L, 0L))) // the only hub
    assert(out(2L) === ((0L, 1000000L))) // the only authority
  }

  test("linkPrediction: wedges through a capped hub vanish; the shared-neighbor pair ranks") {
    // c is a normal wedge center: a-c, b-c → predict (a, b).
    val edges = Seq((10L, 30L, 1.0), (20L, 30L, 1.0))
    val out = GraphOps.linkPrediction(edgesDf(edges), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 20L, 1L)))
    // a hub with deg > cap generates nothing: star of 70 leaves
    val star = (1L to 70L).map(i => (i, 1000L, 1.0))
    assert(GraphOps.linkPrediction(edgesDf(star), k = 10).collect().isEmpty)
  }

  test("kTruss: K4 survives a 4-truss peel, the attached triangle is cascaded away") {
    // complete graph on 1..4 (every edge in 2 triangles) plus a pendant
    // triangle {3,4,5} whose new edges sit in only 1 triangle each
    val k4 = for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j, 1.0)
    val pendant = Seq((3L, 5L, 1.0), (4L, 5L, 1.0))
    val out = GraphOps.kTruss(edgesDf(k4 ++ pendant), k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.keySet === k4.map(e => (e._1, e._2)).toSet, s"got ${out.keySet}")
    assert(out.values.forall(_ === 2L), "every K4 edge sits in exactly 2 surviving triangles")
  }

  test("harmonicCentrality: the star hub ranks first; exact sum matches 1/h by hand") {
    // leaves 1..6 all point at hub 10; a 2-hop tail 7→1→10.
    // exact = true is the VERIFY mode: the first-reach pair table rides
    // along as the verification column — spec-level only, the shipped
    // graph_harmonic query runs the sketch side alone
    val edges = (1L to 6L).map(i => (i, 10L, 1.0)) :+ ((7L, 1L, 1.0))
    val out = GraphOps
      .harmonicCentrality(edgesDf(edges), nSketches = 8, rounds = 2, topK = 8, exact = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // hub: 6 in-neighbors at h=1, node 7 at h=2 → 6/1 + 1/2 = 6.5
    assert(out.head._1 === 10L, s"hub must rank first, got ${out.toSeq}")
    val exact = out.map(r => r._1 -> r._3).toMap
    assert(exact(10L) === 6500000L)
    assert(exact(1L) === 1000000L) // 7→1 only
    assert(exact(7L) === 0L) // nothing reaches 7
    // estimates are nonneg and the hub's dominates every leaf's
    assert(out.forall(_._2 >= 0L))
    // the PRODUCTION (sketch-only) mode returns the identical estimate
    // column — dropping the exact side-car changes no published value
    val prod = GraphOps
      .harmonicCentrality(edgesDf(edges), nSketches = 8, rounds = 2, topK = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(prod.toSeq === out.map(r => (r._1, r._2)).toSeq)
  }

  test("closenessCentrality: hub leads by Lin's index; unreached nodes guard to 0") {
    // leaves 1..6 all point at hub 10; 7→1→10 gives the hub a 2-hop term
    val edges = (1L to 6L).map(i => (i, 10L, 1.0)) :+ ((7L, 1L, 1.0))
    val out = GraphOps.closenessCentrality(edgesDf(edges), nSketches = 8, rounds = 4, topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.head._1 === 10L, s"hub must lead, got ${out.toSeq}")
    val byId = out.map(r => r._1 -> r).toMap
    // leaves 2..6: nothing reaches them → zero delta → S = 0 → lin 0
    (2L to 6L).foreach { l =>
      assert(byId(l)._3 === 0L && byId(l)._4 === 0L, s"leaf $l must guard to 0")
    }
    // every ball estimate ≥ the 1-node self ball; S and lin nonnegative
    assert(out.forall(r => r._2 >= 1000L && r._3 >= 0L && r._4 >= 0L))
  }

  test("anfEstimate: sketch-only per-h rows equal anf's estimate column; early exit caps rows") {
    // 3-chain 1→2→3 plus 4→2: diameter 2, so the changed set empties
    // and the loop must stop well before maxRounds = 8
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (4L, 2L, 1.0))
    val est = GraphOps.anfEstimate(edgesDf(edges), nSketches = 8, maxRounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val full = GraphOps.anf(edgesDf(edges), nSketches = 8, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(est.length <= 3, s"early exit did not fire: ${est.toSeq}")
    // on the rounds both ran, the estimates are bit-identical
    full.foreach { case (h, n) =>
      assert(est.toMap.apply(h) === n, s"h=$h diverged: est=${est.toSeq} full=${full.toSeq}")
    }
  }

  test("mask-loop round shape: prelude jobs, then one job per round") {
    // chain 1→2→3→4→5, source 1: rounds 1–4 each reach one node and
    // round 5 changes nothing, so the loop exits after 5 rounds. The
    // prelude is 10 jobs: edges.count, the distinct edge layout's count,
    // the seed's node distinct, the seed's changed count and the edge
    // RDD's count (AQE submits each exchange as a job of its own).
    val preludeJobs = 10
    val chain = edgesDf((1 until 5).map(i => (i.toLong, i + 1L, 1.0)))
    val (bfs, bfsJobs) = jobsOf(GraphOps.multiSourceBfs(chain, nSources = 1, rounds = 10))
    assert(bfsJobs === preludeJobs + 5)
    assert(bfs.collect().map(_.getLong(0)).sorted.toSeq === (1L to 5L))
    // anfEstimate's estimator sum rides each round's readout job: one
    // row per round run, no extra job per round
    val (est, estJobs) = jobsOf(GraphOps.anfEstimate(chain, nSketches = 8, maxRounds = 8))
    val rows = est.count()
    assert(rows === 5L)
    assert(estJobs === preludeJobs + rows)
  }

  test("anfResiduals: per-round estimates equal anfEstimate's rows; no change after them") {
    // diameter 3 and a second source into the middle: the masks settle
    // after 3 rounds, and the residual table runs 6 fixed rounds
    val edges = edgesDf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (6L, 3L, 1.0)))
    val est = GraphOps.anfEstimate(edges, nSketches = 8, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val res = GraphOps.anfResiduals(edges, nSketches = 8, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.map(_._1).toSeq === (1L to 6L))
    val last = est.keys.max
    assert(last < 6L, s"anfEstimate did not exit early: $est")
    res.foreach { case (h, changed, n) =>
      assert(n === est(math.min(h, last)), s"round $h: est=$est res=${res.toSeq}")
      if (h < last) assert(changed > 0L, s"round $h changed nothing: ${res.toSeq}")
      else assert(changed === 0L, s"round $h changed after the fixed point: ${res.toSeq}")
    }
  }

  test("effectiveDiameter: N(inf) and eff_h read anfEstimate on the symmetrized edges") {
    // directed, the chain's balls differ from the undirected ones, so a
    // prelude that lays out the directed edges reads other estimates
    val edges = edgesDf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0), (6L, 3L, 1.0)))
    import org.apache.spark.sql.functions.col
    val und = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val est = GraphOps.anfEstimate(und, nSketches = 8, maxRounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    Seq(500, 900, 1000).foreach { permille =>
      val row = GraphOps.effectiveDiameter(edges, nSketches = 8, maxRounds = 16, permille = permille)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nInf = est.last._2
      val (effH, nAtH) = est.find { case (_, n) => n * 1000L >= nInf * permille }.get
      assert(row.toSeq === Seq((effH, nAtH, nInf)), s"permille=$permille est=${est.toSeq}")
    }
  }

  test("triangleCount counts each triangle once, ignores dups and self-loops") {
    // K4 on {1,2,3,4} = 4 triangles; plus a self-loop and a parallel edge
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b, 1.0)
    val r = GraphOps
      .triangleCount(edgesDf(k4 ++ Seq((2L, 1L, 9.0), (3L, 3L, 1.0))))
      .collect()(0)
    assert(r.getLong(0) === 6L) // K4 edges, dedup'd
    assert(r.getLong(1) === 4L)
  }

  test("triangle orientation points at the hub: skewed wedge work stays at the leaves") {
    import org.apache.spark.sql.functions._
    // star: hub 7 ↔ leaves 100..139, plus leaf-leaf chords closing
    // triangles {7,100,101} and {7,102,103}
    val star = (100L to 139L).map(l => (7L, l, 1.0))
    val chords = Seq((100L, 101L, 1.0), (102L, 103L, 1.0))
    val edges = edgesDf(star ++ chords)
    val r = GraphOps.triangleCount(edges).collect()(0)
    assert(r.getLong(0) === 42L)
    assert(r.getLong(1) === 2L)
    // the skew property itself: the hub (max degree) has oriented
    // out-degree ZERO — wedge generation can never concentrate on it.
    // (id-ordered orientation would give the id-7 hub out-degree 40 and
    // O(40²) wedges from one join key.)
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val outdeg = GraphOps.orientByDegree(und)
      .groupBy(col("lo")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!outdeg.contains(7L)) // hub emits no wedges at all
    assert(outdeg.values.max <= 2L) // leaves carry ≤ their own tiny degree
  }

  test("pagerankFixed is deterministic and mass-bounded") {
    val edges = edgesDf(Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 1.0), (3L, 1L, 1.0)))
    val a = GraphOps.pagerankFixed(edges, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.pagerankFixed(edges, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b) // bit-identical across runs (integer arithmetic)
    assert(a.values.forall(_ > 0))
    assert(a.values.sum <= 1000000000000L) // truncation only loses mass
    assert(a(1L) > a(2L)) // hub gets more rank than spokes
  }

  test("personalized pagerank: teleport mass returns only to the seed set") {
    // seedMod=2: seeds {0, 2, 4}; node 1 is a non-seed that 0 links to.
    // ring 0→1→2→3→4→0 plus 0→2 shortcut
    val edges = edgesDf(
      Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 0L, 1.0), (0L, 2L, 1.0)))
    val pr = GraphOps
      .pagerankPersonalized(edges, iters = 3, seedMod = 2L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val uni = GraphOps.pagerankFixed(edges, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet === uni.keySet)
    assert(pr.values.sum <= 1000000000000L)
    // at zero iterations ALL mass sits on the seeds — non-seeds get
    // nothing until propagation starts
    val pr0 = GraphOps
      .pagerankPersonalized(edges, iters = 0, seedMod = 2L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(pr0(1L) === 0L && pr0(3L) === 0L)
    assert(pr0(0L) === 1000000000000L / 3 && pr0(0L) === pr0(2L) && pr0(2L) === pr0(4L))
    // after iterating, the seeds' SHARE of total rank exceeds the uniform
    // variant's seed share (the 15% returns only to them)
    def share(m: Map[Long, Long]): Double =
      Seq(0L, 2L, 4L).map(m).sum.toDouble / m.values.sum.toDouble
    assert(share(pr) > share(uni))
  }

  test("parseEdgeLines drops header lines and parses fields") {
    import spark.implicits._
    val lines = Seq("# comment", "0 1 2 3.5", "1 2 3 1.0").toDF("line")
    val out = GraphOps
      .parseEdgeLines(lines, org.apache.spark.sql.functions.col("line"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(out === Set((1L, 2L, 3.5), (2L, 3L, 1.0)))
  }

  test("reciprocity: mutual pair counts both directions, one-way edges none") {
    import spark.implicits._
    // 1↔2 mutual, 1→3 one-way, self-loop dropped
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (1L, 3L, 1.0), (4L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val r = GraphOps.reciprocity(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 2L, 666666L)))
  }

  private def coreness(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps
      .corenessHIndex(edgesDf(edges.map { case (a, b) => (a, b, 1.0) }))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("coreness: triangle with a tail, and K4 — exact core numbers") {
    // triangle {1,2,3} + pendant 4–1: coreness 2,2,2,1
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val expected = Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
    assert(coreness(tri) === expected)
    assert(GraphOpsSpec.matulaBeck(tri) === expected) // the specs' reference peel
    // K4: everyone coreness 3
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    assert(coreness(k4) === (1L to 4L).map(_ -> 3L).toMap)
  }

  test("corenessHIndex: agrees with the peel decomposition exactly") {
    // chain of pendants into a K4 — the h-relaxation needs several
    // rounds to walk the chain down (the peel's longest cascade)
    val chain = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    val hIdx = coreness(chain)
    assert(hIdx === GraphOpsSpec.matulaBeck(chain))
    assert(hIdx(5L) === 1L && hIdx(1L) === 3L)
  }

  test("corenessHIndex frontier rounds: a long path relaxes to all-ones through many tiny frontiers") {
    // pure path: coreness 1 everywhere, but the h-relaxation must walk
    // the 2→1 correction inward one hop per round — after round 1 only
    // the two nodes next to the fallen ones send, so every later round's
    // frontier is two nodes
    val n = 40L
    val out = coreness((1L until n).map(i => (i, i + 1)))
    assert(out === (1L to n).map(_ -> 1L).toMap)
  }

  test("corenessHIndex on a 2000-node path relaxes to coreness 1 in a 1000-round walk") {
    // the correction enters at both ends and moves one hop per round
    val n = 2000
    assert(coreness(pathFromMiddle(n)) === (1 to n).map(_.toLong -> 1L).toMap)
  }

  test("corenessHIndex: K6 with a pendant tail of 3 — 5 on the clique, 1 on the tail") {
    val k6 = for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b)
    val tail = Seq((6L, 7L), (7L, 8L), (8L, 9L))
    assert(coreness(k6 ++ tail) === (1L to 6L).map(_ -> 5L).toMap ++ (7L to 9L).map(_ -> 1L))
  }

  test("coreness round shape: three prelude jobs, then one job per round") {
    // 11-node path 0..10: the seed holds every degree (1 at both ends),
    // rounds 1-5 lower the next pair inward to 1 (node 5 last) and round
    // 6 lowers nothing and stops the loop. The prelude is edges.count
    // (two jobs under AQE) and the one job that builds the blocks from
    // the one exchange of the edge pairs and reads |V| and the degree sum.
    val path = edgesDf((0 until 10).map(i => (i.toLong, i + 1L, 1.0)))
    val (out, jobs) = jobsOf(GraphOps.corenessHIndex(path))
    assert(jobs === 3 + 6)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (0 to 10).map(_.toLong -> 1L).toMap)
    val (_, peaks) = roundTaskPeaks(prelude = 3)(GraphOps.corenessHIndex(path))
    assert(peaks.nonEmpty && peaks.forall(_ == 0L), peaks)
  }

  test("densest round shape: three prelude jobs, then one job per round") {
    // K6 + 20 leaves on node 1: the prelude's job reads row 0 (26 nodes),
    // round 1 kills the leaves (row 1, the bare K6) and round 2 kills
    // the regular K6, which leaves no edge and stops the loop.
    val k6 = for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b, 1.0)
    val g = edgesDf(k6 ++ (101L to 120L).map(l => (1L, l, 1.0)))
    val (out, jobs) = jobsOf(GraphOps.densestSubgraph(g))
    assert(jobs === 3 + 2)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
    val (_, peaks) = roundTaskPeaks(prelude = 3)(GraphOps.densestSubgraph(g))
    assert(peaks.nonEmpty && peaks.forall(_ == 0L), peaks)
  }

  test("powerlawFit: hand-computed MLE on a 3-node path, hub graph skews alpha down") {
    import spark.implicits._
    // path 1-2-3: degrees 1,2,1 → S = 2·ln(2) + ln(4) in micro,
    // α = 1 + 3e12 div S
    val path = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val r = GraphOps.powerlawFit(path).collect()(0)
    val s = 2L * math.round(math.log(2.0) * 1e6) + math.round(math.log(4.0) * 1e6)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 1L, 2L, 1000000L + 3000000L * 1000000L / s)))
    // star with 6 leaves (heavier tail) fits a SMALLER alpha than the path
    val star = (2L to 7L).map(i => (1L, i, 1.0)).toDF("src", "dst", "w")
    val alphaStar = GraphOps.powerlawFit(star).collect()(0).getLong(3)
    assert(alphaStar < r.getLong(3))
  }

  test("msf equals Kruskal on a weighted fixture; forest size is |V| - #components") {
    import spark.implicits._
    // two components: a 4-cycle with one heavy chord, plus a disjoint edge.
    // under (wn, a, b) the forest is unique and hand-computable:
    // cycle 1-2-3-4-1 weights: (1,2)=5, (2,3)=1, (3,4)=2, (1,4)=9, chord (1,3)=7
    // MSF keeps (2,3), (3,4), then (1,2) [5 < 7 < 9]; drops (1,3), (1,4).
    val e = Seq(
      (1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 9L), (1L, 3L, 7L),
      (10L, 11L, 4L))
      .toDF("src", "dst", "wn")
    val out = GraphOps.msf(e).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (10L, 11L, 4L)))
    // 6 nodes, 2 components -> 4 forest edges
    assert(out.size === 6 - 2)
  }

  test("msf collapses parallel edges to the min weight and survives weight ties") {
    import spark.implicits._
    // all weights equal: tie-break (wn, a, b) keeps the lexicographically
    // smallest spanning edges; parallel (1,2) keeps wn=1
    val e = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 3L), (1L, 3L, 3L))
      .toDF("src", "dst", "wn")
    val out = GraphOps.msf(e).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 2L, 1L), (1L, 3L, 3L)))
  }

  test("msf working set contracts forward: round >= 2 join input shrinks") {
    import spark.implicits._
    // 8-node path with weights alternating small/large so Borůvka pairs
    // up in round 1 ({1,2},{3,4},{5,6},{7,8}), leaving exactly the 3
    // heavy edges crossing in round 2, then 0 — the crossing-set counts
    // must be the strictly-shrinking [7, 3, 0], never a re-scan of |E|.
    val e = Seq(
      (1L, 2L, 1L), (2L, 3L, 10L), (3L, 4L, 2L), (4L, 5L, 20L),
      (5L, 6L, 3L), (6L, 7L, 30L), (7L, 8L, 4L))
      .toDF("src", "dst", "wn")
    val out = GraphOps.msf(e, tailCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.size === 7) // the path is a tree: every edge survives
    assert(GraphOps.lastMsfRoundEdgeCounts === Vector(7L, 3L, 0L),
      s"Borůvka crossing set must contract each round, got ${GraphOps.lastMsfRoundEdgeCounts}")
    // hybrid tail: the driver Kruskal finish returns the identical
    // (unique) forest as pure distributed rounds, and the crossing set
    // collected is round-2's contracted remainder, never |E|
    val hybrid = GraphOps.msf(e, tailCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hybrid === out)
    assert(GraphOps.lastMsfRoundEdgeCounts === Vector(7L, 3L),
      s"tail must take over at the 3-edge remainder, got ${GraphOps.lastMsfRoundEdgeCounts}")
  }

  test("stressCentrality matches explicit path enumeration on a diamond DAG") {
    import spark.implicits._
    // source 1; diamond 1->2->4, 1->3->4, then 4->5:
    // sigma(2)=sigma(3)=1, sigma(4)=2, sigma(5)=2
    // g(5)=0, g(4)=1, g(2)=g(3)=1+g(4)=2, stress: 2,3 -> 1*2=2; 4 -> 2*1=2; 5 -> 0
    val e = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
      .toDF("src", "dst", "w")
    val out = GraphOps
      .stressCentrality(e, nSources = 1, rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(out === Set((2L, 1L, 2L), (3L, 1L, 2L), (4L, 2L, 2L)))
  }

  test("stressCentrality horizon bounds the DAG; shorter-path wins over longer") {
    import spark.implicits._
    // 1->2->3 and direct 1->3: dist(3)=1, so 2 is NOT on any shortest path
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val out = GraphOps
      .stressCentrality(e, nSources = 1, rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toMap
    // only 3 is internal (1->3->4); 2's only continuation 2->3 is not
    // a shortest-path DAG edge (dist(3)=1 != dist(2)+1)
    assert(out === Map(3L -> 1L))
  }

  test("sccPivot classifies the pivot cycle, downstream tail, and upstream feeder") {
    import spark.implicits._
    // cycle 1->2->3->1 (the pivot SCC), 3->4 (downstream), 5->1 (upstream);
    // 6<->7 is a separate SCC — unreached, must be absent entirely
    val e = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L), (6L, 7L), (7L, 6L))
      .toDF("src", "dst")
    val out = GraphOps
      .sccPivot(e, rounds = 6)
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    assert(out === Map(
      1L -> "scc", 2L -> "scc", 3L -> "scc", 4L -> "downstream", 5L -> "upstream"))
  }

  test("katzResiduals: single edge reaches the fixed point after round 1 and reports zeros") {
    import spark.implicits._
    // 1 -> 2: round 1 moves node 2 to 1000 + 1000/8 = 1125 (resid 125),
    // rounds 2..3 recompute the identical vector — residual exactly 0
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.katzResiduals(e, iters = 3).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 1L, 125L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("hitsResiduals: single edge converges after round 1 on both vectors") {
    import spark.implicits._
    // 1 -> 2: a1 = all mass on node 2, h1 = all mass on node 1; both
    // changed in round 1 (a0 ≡ 0, h0 uniform), then frozen
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.hitsResiduals(e, iters = 3).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      (1L, 1L, 1000000L, 1L, 1000000L),
      (2L, 0L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L)))
  }

  /** A 3-cycle 1→2→3→1 with a sink (3→4) and a feeder (5→1). */
  private lazy val cycleSinkFeeder =
    edgesDf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (3L, 4L, 1.0), (5L, 1L, 1.0)))

  private def longRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    df.collect().map(r => (0 until r.length).map(r.getLong)).toSeq.sortBy(_.head)

  test("rank residuals: row k is the change between the fixed forms at k-1 and k rounds") {
    // (k, then per score column: nodes changed, L1 residual), recomputed
    // from two runs of the fixed form
    def fromFixed(fixed: Int => org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
      (1 to 3).map { k =>
        val Seq(p, n) = Seq(k - 1, k).map(i => longRows(fixed(i)).map(r => r.head -> r.tail).toMap)
        k.toLong +: n.head._2.indices.flatMap { c =>
          val d = n.keys.toSeq.map(id => n(id)(c) - p(id)(c))
          Seq(d.count(_ != 0L).toLong, d.map(math.abs).sum)
        }
      }
    val e = cycleSinkFeeder
    assert(longRows(GraphOps.pagerankResiduals(e, 3)) === fromFixed(GraphOps.pagerankFixed(e, _)))
    assert(longRows(GraphOps.katzResiduals(e, 3)) === fromFixed(GraphOps.katzFixed(e, _)))
    assert(longRows(GraphOps.hitsResiduals(e, 3)) === fromFixed(GraphOps.hits(e, _)))
  }

  test("pagerankFixed is the personalized form with every source a seed") {
    val e = cycleSinkFeeder
    assert(longRows(GraphOps.pagerankFixed(e, 3)) ===
      longRows(GraphOps.pagerankPersonalized(e, 3, seedMod = 1L)))
  }

  test("rank forms on an empty edge list: empty frames and all-zero residual rows") {
    val empty = edgesDf(Seq.empty)
    assert(GraphOps.pagerankFixed(empty, 3).collect().isEmpty)
    assert(GraphOps.katzFixed(empty, 3).collect().isEmpty)
    assert(GraphOps.hits(empty, 3).collect().isEmpty)
    val zeros = (1L to 3L).map(r => Seq(r, 0L, 0L))
    assert(longRows(GraphOps.pagerankResiduals(empty, 3)) === zeros)
    assert(longRows(GraphOps.katzResiduals(empty, 3)) === zeros)
    assert(longRows(GraphOps.hitsResiduals(empty, 3)) === (1L to 3L).map(r => Seq(r, 0L, 0L, 0L, 0L)))
  }

  test("personalized pagerank with an empty seed set ranks every node 0") {
    // no id of the graph is a multiple of the default seedMod 100
    assert(longRows(GraphOps.pagerankPersonalized(cycleSinkFeeder, iters = 3)) ===
      Seq(1L, 2L, 3L, 5L).map(id => Seq(id, 0L)))
  }

  test("rank round shape: lazy fixed chains, one readout job per residual round") {
    val e = cycleSinkFeeder
    e.count()
    def jobs(df: => org.apache.spark.sql.DataFrame): Int = jobsOf(df.collect())._2
    // edges.count (two jobs under AQE) and the node count, then ONE job
    // reads the result, however many rounds it chains
    assert(jobs(GraphOps.pagerankFixed(e, 3)) === 4)
    assert(jobs(GraphOps.katzFixed(e, 3)) === 4)
    assert(jobs(GraphOps.pagerankFixed(e, 5)) === 4)
    // HITS adds one normalization total per half-round
    assert(jobs(GraphOps.hits(e, 3)) === 12)
    // the residual forms: the same prelude, then one readout job per round
    assert(jobs(GraphOps.pagerankResiduals(e, 3)) === 6)
    assert(jobs(GraphOps.katzResiduals(e, 3)) === 6)
    // HITS: two normalization totals plus the one readout of all four
    // figures per round (a per-vector join-and-reduce made it four)
    assert(jobs(GraphOps.hitsResiduals(e, 3)) === 14)
    assert(jobs(GraphOps.hitsResiduals(e, 5)) === 20)
  }

  test("landmarkEstimate: fused 2n-bit sweep equals the two separate sweeps") {
    // r15 optimization: contiguous seed ranges (1..n landmarks,
    // n+1..2n sample sources) ride ONE maskLoop. Equivalence vs the
    // old two-sweep form is asserted row-for-row on a graph where both
    // batches saturate at different depths (the early-exit interaction
    // the fusion must not change): a chain hanging off the clique side.
    val clique = for { a <- 1L to 16L; b <- (a + 1) to 16L; if b - a <= 3 } yield (a, b, 1.0)
    val chain = Seq((16L, 97L, 1.0), (97L, 194L, 1.0), (194L, 291L, 1.0))
    val edges = edgesDf(clique ++ chain)
    import org.apache.spark.sql.functions.col
    val und = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val fused = GraphOps
      .landmarkEstimate(edges, nLandmarks = 8, rounds = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    // the pre-r15 shape: two independent 8-bit sweeps
    val lm = GraphOps.landmarkDistances(und, nLandmarks = 8, rounds = 4)
    val ex = GraphOps.landmarkDistances(und, nLandmarks = 8, rounds = 4, seedLo = 9L)
    val lu = lm
      .filter(col("id") >= 9L && col("id") <= 16L)
      .select(col("id").as("u"), col("landmark"), col("dist").as("du"))
    val lv = lm
      .filter(org.apache.spark.sql.functions.pmod(col("id"), org.apache.spark.sql.functions.lit(97L)) === 0)
      .select(col("id").as("v"), col("landmark"), col("dist").as("dv"))
    val est = lv
      .join(org.apache.spark.sql.functions.broadcast(lu), Seq("landmark"))
      .groupBy(col("u"), col("v"))
      .agg(org.apache.spark.sql.functions.min(col("du") + col("dv")).as("est_dist"))
    val exact = ex
      .filter(org.apache.spark.sql.functions.pmod(col("id"), org.apache.spark.sql.functions.lit(97L)) === 0)
      .select(col("id").as("v"), (col("landmark") + 8L).as("u"), col("dist").as("exact_dist"))
    val twoSweep = est
      .join(exact, Seq("u", "v"), "left_outer")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(fused.nonEmpty)
    assert(fused === twoSweep)
  }

  test("triangleCountUnd on the pre-simplified graph equals triangleCount") {
    // r15 optimization support: graph_triangle_sampled shares one
    // simplified undirected edge set between its exact and sampled
    // counts. The simplification (drop self-loops, least/greatest,
    // distinct) must commute with triangleCount's internal one.
    import org.apache.spark.sql.functions._
    val edges = edgesDf(Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), // triangle
      (2L, 1L, 5.0), (3L, 3L, 1.0), // reverse dup + self-loop
      (3L, 4L, 1.0), (4L, 1L, 1.0))) // second triangle 1-3-4
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val viaUnd = GraphOps.triangleCountUnd(und).collect()(0)
    val direct = GraphOps.triangleCount(edges).collect()(0)
    assert((viaUnd.getLong(0), viaUnd.getLong(1)) === ((direct.getLong(0), direct.getLong(1))))
    assert(viaUnd.getLong(1) === 2L)
  }
}

object GraphOpsSpec {

  /** Connected components of the undirected closure of `edges` by a
    * sequential union-find: every endpoint (a self-loop's node included)
    * labelled with the minimum id of its component. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Core numbers by the sequential bucket peel of Matula & Beck (1983)
    * over the undirected simple graph of `edges` (self-loops and
    * parallel edges dropped): repeatedly remove a node of least
    * remaining degree; its core number is the largest such degree seen
    * so far. */
  def matulaBeck(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges
      .filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
    val deg = scala.collection.mutable.Map(adj.map { case (v, ns) => v -> ns.size }.toSeq: _*)
    val buckets = Array.fill(if (deg.isEmpty) 1 else deg.values.max + 1)(
      scala.collection.mutable.Set.empty[Long])
    deg.foreach { case (v, d) => buckets(d) += v }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0
    while (core.size < adj.size) {
      val d = buckets.indexWhere(_.nonEmpty)
      val v = buckets(d).head
      buckets(d) -= v
      k = math.max(k, d)
      core(v) = k.toLong
      adj(v).filterNot(core.contains).foreach { u =>
        buckets(deg(u)) -= u
        deg(u) -= 1
        buckets(deg(u)) += u
      }
    }
    core.toMap
  }
}
