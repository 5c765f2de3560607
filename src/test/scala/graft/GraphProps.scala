package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.model.INF
import graft.operators.GraphOps

/** ScalaCheck properties for the graph surface (SURVEY.md §5.2#3) on
  * random graphs, checked against an in-driver Dijkstra oracle.
  */
object GraphProps extends Properties("graph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case runs a full Spark SSSP loop

  private lazy val spark = TestSpark.spark

  private val genGraph: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 90)
    edges <- Gen.listOfN(
      m,
      for {
        s <- Gen.choose(0, n - 1)
        d <- Gen.choose(0, n - 1)
        w <- Gen.choose(1, 9)
      } yield (s.toLong, d.toLong, w.toDouble))
  } yield edges

  /** A long weighted path 0→1→…→n (hundreds of Bellman-Ford rounds on
    * one-node frontiers) plus a few forward chords and back edges, so
    * that some shortest paths skip ahead and cycles exist. */
  private val genLongPath: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(300, 400)
    ws <- Gen.listOfN(n, Gen.choose(1, 9))
    extra <- Gen.listOfN(
      10,
      for {
        a <- Gen.choose(0, n - 1)
        k <- Gen.choose(2, 40)
        w <- Gen.choose(1, 200)
        back <- Gen.oneOf(false, true)
      } yield {
        val b = math.min(n, a + k).toLong
        if (back) (b, a.toLong, w.toDouble) else (a.toLong, b, w.toDouble)
      })
  } yield ws.zipWithIndex.map { case (w, i) => (i.toLong, i + 1L, w.toDouble) } ++ extra

  private def dijkstra(edges: Seq[(Long, Long, Double)], src: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = collection.mutable.Map[Long, Double](src -> 0.0)
    val pq = collection.mutable.PriorityQueue((0.0, src))(Ordering.by(-_._1))
    val done = collection.mutable.Set[Long]()
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done(u)) {
        done += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.MaxValue)) {
            dist(v) = d + w
            pq.enqueue((d + w, v))
          }
        }
      }
    }
    dist.toMap
  }

  /** SSSP from node 0 against Dijkstra, with the reference membership
    * (SURVEY.md Q4): nodes with out-edges ∪ nodes that receive a
    * relaxation. The source itself appears only if it has out-edges —
    * Dijkstra's trivial self-distance does not count as "reached" (the
    * reference's format job never creates a row for an edgeless source,
    * SingleSourceSP.java:101).
    */
  private def ssspMatchesDijkstra(edges: List[(Long, Long, Double)]): Prop =
    edges.isEmpty || {
      import spark.implicits._
      val got = GraphOps
        .sssp(edges.toDF("src", "dst", "w"), 0L)
        .collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
      val d = dijkstra(edges, 0L)
      val members = edges.map(_._1).toSet ++ (d.keySet - 0L)
      val expected = members.map(id => id -> d.getOrElse(id, INF)).toMap
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("sssp equals Dijkstra; membership = sources ∪ reached") =
    forAll(genGraph)(ssspMatchesDijkstra)

  property("sssp equals Dijkstra on a long path with chords and back edges") =
    Prop.forAllNoShrink(genLongPath)(ssspMatchesDijkstra)

  property("reverse of reverse preserves the edge multiset") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val df = edges.toDF("src", "dst", "w")
      // reverseGraph drops weights; compare unweighted adjacency multisets
      def adjacency(e: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        GraphOps
          .reverseGraph(e)
          .collect()
          .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toLong).toSeq)
          .toMap
      val rev = df.select(
        org.apache.spark.sql.functions.col("dst").as("src"),
        org.apache.spark.sql.functions.col("src").as("dst"),
        org.apache.spark.sql.functions.col("w"))
      // reverse(reverse(G)) adjacency == reverse(G applied to swapped edges)
      val twice = adjacency(rev)
      val direct = edges
        .groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2).sorted }
      Prop(twice == direct) :| s"twice=$twice direct=$direct"
    }
  }

  property("adjacency lists are sorted ascending") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val adj = GraphOps
        .reverseGraph(edges.toDF("src", "dst", "w"))
        .collect()
        .map(_.getString(1).split(",").map(_.toLong).toSeq)
      Prop(adj.forall(a => a == a.sorted)) :| "unsorted adjacency found"
    }
  }

  /** `edges` plus its first edge reversed and a self-loop on its first
    * node, on top of whatever repeats the generator drew. */
  private def withRepeats(edges: List[(Long, Long, Double)]): List[(Long, Long, Double)] = {
    val (a, b, w) = edges.head
    edges ++ List((b, a, w), (a, a, 1.0))
  }

  property("connectedComponents equals a union-find, with parallel edges and self-loops") =
    forAll(genGraph) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val all = withRepeats(edges)
        val got = GraphOps
          .connectedComponents(all.toDF("src", "dst", "w"))
          .collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        val expected = GraphOpsSpec.unionFind(all.map(e => (e._1, e._2)))
        Prop(got == expected) :| s"got=$got expected=$expected"
      }
    }

  property("corenessHIndex equals a Matula–Beck peel, self-loops and parallel edges included") =
    forAll(genGraph) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val all = withRepeats(edges)
        val got = GraphOps
          .corenessHIndex(all.toDF("src", "dst", "w"))
          .collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        val expected = GraphOpsSpec.matulaBeck(all.map(e => (e._1, e._2)))
        Prop(got == expected) :| s"got=$got expected=$expected"
      }
    }

  property("kCore(k) is the Matula–Beck core >= k, for k in 0..4") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val all = withRepeats(edges)
      val df = all.toDF("src", "dst", "w")
      val core = GraphOpsSpec.matulaBeck(all.map(e => (e._1, e._2)))
      Prop.all((0 to 4).map { k =>
        val got = GraphOps.kCore(df, k).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        val expected = core.map { case (v, c) => v -> (c >= k) }
        Prop(got == expected) :| s"k=$k got=$got expected=$expected"
      }: _*)
    }
  }

  /** The densest-subgraph profile by the oracle's rule, run in the
    * driver: over the undirected simple graph, round i records the alive
    * set's (i, v, m2 / 2, density and average degree in ppm) while
    * v > 0 and m2 > 0, where m2 is the alive nodes' degree sum in the
    * alive-induced subgraph; a node survives into round i + 1 when
    * 2·deg·v > 3·m2. */
  private def densestProfile(edges: Seq[(Long, Long)], maxRounds: Int): Seq[Seq[Long]] = {
    val adj = edges
      .filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
    var alive = adj.keySet
    (0 until maxRounds).flatMap { i =>
      val deg = alive.iterator.map(u => u -> adj(u).count(alive).toLong).toMap
      val v = alive.size.toLong
      val m2 = deg.values.sum
      alive = alive.filter(u => 2L * deg(u) * v > 3L * m2)
      if (v > 0 && m2 > 0) Some(Seq(i.toLong, v, m2 / 2, m2 * 500000L / v, m2 * 1000000L / v))
      else None
    }
  }

  property("densestSubgraph equals a driver run of the oracle's bulk-peel rule") =
    forAll(genGraph, Gen.choose(0, 12)) { (edges, maxRounds) =>
      edges.isEmpty || {
        import spark.implicits._
        val all = withRepeats(edges)
        val got = GraphOps
          .densestSubgraph(all.toDF("src", "dst", "w"), maxRounds)
          .collect()
          .map(r => Seq.tabulate(5)(r.getLong))
          .sortBy(_.head)
          .toSeq
        val expected = densestProfile(all.map(e => (e._1, e._2)), maxRounds)
        Prop(got == expected) :| s"got=$got expected=$expected"
      }
    }

  property("degree-ordered triangle count equals brute-force enumeration") =
    forAll(genGraph) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val r = GraphOps.triangleCount(edges.toDF("src", "dst", "w")).collect()(0)
        // driver-side oracle: undirected simple graph, count node triples
        // with all three edges present
        val und = edges
          .filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .toSet
        val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val triples = for {
          (a, i) <- verts.zipWithIndex
          (b, j) <- verts.zipWithIndex.drop(i + 1)
          if und((a, b))
          c <- verts.drop(j + 1)
          if und((a, c)) && und((b, c))
        } yield (a, b, c)
        Prop(r.getLong(0) == und.size.toLong && r.getLong(1) == triples.size.toLong) :|
          s"got=(${r.getLong(0)},${r.getLong(1)}) expected=(${und.size},${triples.size})"
      }
    }
}
