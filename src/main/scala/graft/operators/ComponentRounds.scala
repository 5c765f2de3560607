package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import Rounds.{changedRows, longSchema, loopPartitioner, roundLoop}

/** The RDD body of the one connected-components engine,
  * [[GraphOps.connectedComponents]]: large-star / small-star contraction.
  * The peel loops over the simple graph live in [[PeelRounds]]. */
private[operators] object ComponentRounds {

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
  def connectedComponents(edges: DataFrame, maxRounds: Int): DataFrame = {
    val session = edges.sparkSession
    val part = loopPartitioner(edges, copies = 2)
    val seed = adjacency(
      edges.select(col("src"), col("dst")).rdd.flatMap { r =>
        val s = r.getLong(0); val d = r.getLong(1)
        if (s == d) Iterator.single((s, s)) else Iterator((s, d), (d, s))
      },
      part).mapValues(a => (a, true)).persist(StorageLevel.MEMORY_AND_DISK)
    var left = 1L
    val state = roundLoop("connectedComponents", seed, 1L, maxRounds)(
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
        s"connectedComponents did not converge in $maxRounds rounds")
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
}
