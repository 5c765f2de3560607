package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import Rounds.{changedRows, countRows, inLoop, longSchema, loopPartitioner, perPartition, roundLoop}

/** The RDD bodies of the component and peel loops:
  * [[GraphOps.connectedComponents]], [[GraphOps.connectedComponentsStars]],
  * the k-core [[peel]] behind [[GraphOps.kCore]], and the bulk peel of
  * [[GraphOps.densestSubgraph]]. */
private[operators] object ComponentRounds {

  /** Min-label propagation on [[Rounds.roundLoop]]: one co-partitioned join of
    * last round's improved labels against the edges, one min-combine
    * shuffle, one narrow merge and ONE job per round. The prelude is
    * edges.count (two jobs under AQE) and the |V| count, which also
    * caches the edges.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int): DataFrame =
    inLoop(edges, copies = 2) { part =>
      val eRdd = edges
        .select(col("src"), col("dst"))
        .rdd
        .flatMap { r =>
          val s = r.getLong(0); val d = r.getLong(1)
          Iterator((s, d), (d, s))
        }
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // state value: (label, improved last round); CC starts with EVERY
      // node in the frontier (each proposes its own label to all
      // neighbors). Both directions are keyed under `part`, so every
      // node is a key of exactly one partition: a per-partition distinct
      // is the global one, with no shuffle.
      val seed = eRdd
        .mapPartitions(
          { it =>
            val ids = it.map(_._1).toArray
            java.util.Arrays.sort(ids)
            Iterator
              .range(0, ids.length)
              .collect { case i if i == 0 || ids(i) != ids(i - 1) => (ids(i), (ids(i), true)) }
          },
          preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nV = countRows(seed)
      val state = roundLoop("connectedComponents", seed, nV, maxRounds, nV)(changedRows(_._2)) { (cur, _) =>
        val msgs = cur
          .filter(_._2._2)
          .mapValues(_._1)
          .join(eRdd)
          .map { case (_, (lab, dst)) => (dst, lab) }
          .reduceByKey(part, (a, b) => math.min(a, b))
        (1L, cur.leftOuterJoin(msgs).mapValues {
          case ((lab, _), Some(c)) if c < lab => (c, true)
          case ((lab, _), _) => (lab, false)
        })
      }
      eRdd.unpersist(false)
      edges.sparkSession.createDataFrame(
        state.map { case (id, (lab, _)) => Row(id, lab) },
        longSchema("id", "component"))
    }

  /** Alternating large-star / small-star rounds (Kiveris et al.) on
    * [[Rounds.roundLoop]]. The state is keyed by node: `u → (sorted
    * distinct neighbour array, changed)`, the undirected edge set as a
    * symmetric adjacency under `part`. A star reads each node's array,
    * takes m(u) = min(adj ∪ {u}) and emits both directions of its output
    * edges — large-star links every neighbour v > u to m, small-star
    * every v ≤ u and u itself — which [[adjacency]] groups back into
    * arrays: ONE shuffle per star, two per round. The round's one job is
    * the driver's readout over a co-partitioned `zipPartitions` of the
    * new arrays against the current state, which marks a node changed
    * exactly when its array did; the loop stops after a round that
    * changes nothing. The prelude is edges.count (two jobs under AQE);
    * the seed (both directions of every edge, a self-loop kept as its
    * node's key) is built inside round 1's job.
    */
  def connectedComponentsStars(edges: DataFrame, maxRounds: Int): DataFrame = {
    val session = edges.sparkSession
    val part = loopPartitioner(edges, copies = 2)
    val seed = adjacency(
      edges.select(col("src"), col("dst")).rdd.flatMap { r =>
        val s = r.getLong(0); val d = r.getLong(1)
        if (s == d) Iterator.single((s, s)) else Iterator((s, d), (d, s))
      },
      part).mapValues(a => (a, true)).persist(StorageLevel.MEMORY_AND_DISK)
    var left = 1L
    val state = roundLoop("connectedComponentsStars", seed, 1L, maxRounds, Long.MaxValue)(
      changedRows(_._2),
      after = (_, changed, _, _) => left = changed) { (cur, _) =>
      val large = adjacency(star(cur.mapValues(_._1), large = true), part)
      val next = adjacency(star(large, large = false), part)
      (1L, next.zipPartitions(cur, preservesPartitioning = true) { (nIt, cIt) =>
        val old = cIt.buffered
        nIt.map { case (u, a) =>
          while (old.hasNext && old.head._1 < u) old.next()
          val same = old.hasNext && old.head._1 == u && java.util.Arrays.equals(old.head._2._1, a)
          (u, (a, !same))
        }
      })
    }
    if (left > 0) {
      state.unpersist(false)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxRounds rounds")
    }
    session.createDataFrame(
      state.map { case (u, (a, _)) => Row(u, if (a.isEmpty) u else math.min(a(0), u)) },
      longSchema("id", "component"))
  }

  /** One large-star (`large`) or small-star step of Kiveris et al. over
    * a node-keyed adjacency, as the directed pairs of its output edge
    * set: with m = min(adj ∪ {u}), large-star links every neighbour
    * v > u to m, small-star every v ≤ u and u itself. A node that emits
    * no pair emits its self-pair, so it keeps its key. */
  private def star(adj: RDD[(Long, Array[Long])], large: Boolean): RDD[(Long, Long)] =
    adj.mapPartitions(_.flatMap { case (u, a) =>
      val m = if (a.isEmpty) u else math.min(a(0), u)
      val hooked =
        if (large) a.iterator.filter(_ > u) else a.iterator.filter(_ < u) ++ Iterator.single(u)
      val pairs = hooked.filter(_ != m).flatMap(v => Iterator((v, m), (m, v)))
      if (pairs.hasNext) pairs else Iterator.single((u, u))
    })

  /** `pairs` grouped per node under `part`: the node's sorted distinct
    * neighbour array, self-pairs dropped (a node with only self-pairs
    * keeps its key with an empty array). The shuffle carries bare
    * (Long, Long) pairs (Kryo) and sorts them by node, spilling if it
    * must, so a node's pairs arrive as one run and the grouping holds
    * one node's neighbours at a time; the output is sorted by node
    * within each partition.
    */
  private def adjacency(pairs: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Array[Long])] =
    pairs
      .repartitionAndSortWithinPartitions(part)
      .mapPartitions(
        { it =>
          val in = it.buffered
          Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
            val u = in.head._1
            val b = new scala.collection.mutable.ArrayBuilder.ofLong
            while (in.hasNext && in.head._1 == u) {
              val v = in.next()._2
              if (v != u) b += v
            }
            val a = b.result()
            java.util.Arrays.sort(a)
            var n = 0
            for (v <- a) if (n == 0 || v != a(n - 1)) { a(n) = v; n += 1 }
            (u, java.util.Arrays.copyOf(a, n))
          }
        },
        preservesPartitioning = true)

  /** The undirected simple graph of `edges` for the peel loops:
    * parallel edges and self-loops dropped, both directions kept (so
    * out-degree == undirected degree), hash-partitioned on the source
    * by `part` and persisted.
    */
  def undirectedSimple(edges: DataFrame, part: HashPartitioner): RDD[(Long, Long)] =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct()
      .rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The k-core deletion cascade on [[Rounds.roundLoop]], in the
    * [[connectedComponents]] shape. State `id → (remaining degree,
    * died last round)`, degree −1 = dead, over `und`
    * ([[undirectedSimple]]). The seed kills every node of degree below
    * k. A round's frontier is the nodes that died last round: each
    * sends one decrement per edge (`frontier ⋈ und`, summed per
    * neighbor — the round's one shuffle), and an alive node whose
    * degree falls below k dies in turn. Only deaths count as changed,
    * so a death cascades exactly once and the loop stops after a round
    * that kills nobody. Returns the final state, still persisted.
    */
  def peel(
      und: RDD[(Long, Long)],
      k: Int,
      part: HashPartitioner): RDD[(Long, (Long, Boolean))] = {
    val seed = und
      .mapValues(_ => 1L)
      .reduceByKey(part, _ + _) // narrow: und is already on `part`
      .mapValues(deg => if (deg < k) (-1L, true) else (deg, false))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nV = countRows(seed)
    val dead = countRows(seed.filter(_._2._2))
    roundLoop("kCore", seed, dead, Long.MaxValue, nV)(changedRows(_._2)) { (cur, _) =>
      // frontier ⋈ und, co-partitioned: each partition's dead set probes
      // its own edges in one pass, with no hash table over the edges
      val decs = cur
        .filter(_._2._2)
        .zipPartitions(und) { (fIt, eIt) =>
          val died = fIt.map(_._1).toSet
          if (died.isEmpty) Iterator.empty
          else eIt.collect { case (s, nbr) if died(s) => (nbr, 1L) }
        }
        .reduceByKey(part, _ + _)
      (1L, cur.leftOuterJoin(decs).mapValues {
        case ((deg, _), Some(dec)) if deg >= 0 =>
          if (deg - dec < k) (-1L, true) else (deg - dec, false)
        case ((deg, _), _) => (deg, false)
      })
    }
  }

  /** [[GraphOps.kCore]]: one [[peel]] of the undirected simple graph. */
  def kCore(edges: DataFrame, k: Int): DataFrame =
    inLoop(edges, copies = 2) { part =>
      val und = undirectedSimple(edges, part)
      val state = peel(und, k, part)
      und.unpersist(false)
      edges.sparkSession.createDataFrame(
        state.map { case (id, (deg, _)) => Row(id, deg >= 0) },
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("in_core", BooleanType, nullable = false))))
    }

  /** [[GraphOps.densestSubgraph]]'s bulk-peel rounds on RDDs: per round
    * ONE alive-filter shuffle (the dst-side membership re-key) + one
    * degree-sum shuffle + one (|V|, Σdeg) job — the per-round profile
    * row and the peel threshold are driver scalars off that job's exact
    * sums. The alive set shrinks ≥ 1.5× per round, and an emptied graph
    * exits early (the remaining rounds would emit no rows).
    */
  def densestSubgraph(edges: DataFrame, maxRounds: Int): DataFrame = {
    val session = edges.sparkSession
    inLoop(edges, copies = 2) { part =>
      val und = undirectedSimple(edges, part)
      var alive: RDD[(Long, Long)] = und
        .mapValues(_ => 0L)
        .reduceByKey(part, (a, _) => a)
        .persist(StorageLevel.MEMORY_AND_DISK)
      var aliveCount = countRows(alive) // materializes und + alive
      val profile = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
      var live: List[RDD[_]] = List(alive)
      var i = 0
      var drained = false
      while (i < maxRounds && !drained) {
        // deg over the alive-induced subgraph. Fast path: while the
        // alive set fits comfortably in an executor (≤ 8 M ids = 64 MB
        // sorted array), broadcast it and the round is ONE narrow
        // membership pass over the src-partitioned edges with map-side
        // combine — the shuffle carries ≤ |alive| degree rows, never
        // |E_i|. Above the gate, the general shape: dst-side membership
        // re-keys |E_i| rows.
        val deg =
          if (aliveCount <= GraphOps.DensestBroadcastMaxNodes) {
            val ids = perPartition(alive)(_.map(_._1).toArray).flatten
            java.util.Arrays.sort(ids)
            aliveCount = ids.length
            val bc = und.sparkContext.broadcast(ids)
            und
              .mapPartitions(
                { it =>
                  val a = bc.value
                  it.collect {
                    case (s, dd)
                        if java.util.Arrays.binarySearch(a, s) >= 0 &&
                          java.util.Arrays.binarySearch(a, dd) >= 0 =>
                      (s, 1L)
                  }
                },
                preservesPartitioning = true)
              .reduceByKey(part, _ + _)
          } else
            und
              .join(alive)
              .map { case (s, (d, _)) => (d, s) }
              .join(alive)
              .map { case (_, (s, _)) => (s, 1L) }
              .reduceByKey(part, _ + _)
        val degAll = alive
          .leftOuterJoin(deg)
          .mapValues { case (_, o) => o.getOrElse(0L) }
          .persist(StorageLevel.MEMORY_AND_DISK)
        val sums = perPartition(degAll) { it =>
          var n = 0L; var s = 0L
          it.foreach { case (_, d) => n += 1; s += d }
          (n, s)
        }
        val v = sums.iterator.map(_._1).sum
        val m2 = sums.iterator.map(_._2).sum
        if (v > 0 && m2 > 0)
          profile += ((i.toLong, v, m2 / 2, m2 * 500000L / v, m2 * 1000000L / v))
        // every remaining round would aggregate an empty alive set and
        // emit nothing — the profile is already complete
        drained = v == 0 || m2 == 0
        // v counts the round's alive set — an upper bound on the peeled
        // set, so a shrinking big graph eventually enters the gate
        aliveCount = v
        alive = degAll.filter { case (_, d) => 2L * d * v > 3L * m2 }.mapValues(_ => 0L)
        live.foreach(_.unpersist(false))
        live = List(degAll)
        i += 1
      }
      und.unpersist(false)
      session.createDataFrame(
        session.sparkContext.parallelize(
          profile.toSeq.map(t => Row(t._1, t._2, t._3, t._4, t._5)),
          1),
        longSchema("round", "n_nodes", "n_edges", "density_ppm", "avg_deg_ppm"))
    }
  }
}
