package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

import Rounds.{countRows, inLoop, keyedEdges, longSchema, perPartition, residualRounds}

/** The rank rounds: PageRank, Katz, HITS.
  *
  * Each centrality's round is written once, as a lazy step from one
  * score vector to the next that merges onto a persisted base (the node
  * set with its per-node constants), so a chain of rounds stays
  * constant-depth. The fixed forms chain `iters` steps with no job per
  * round (HITS adds its two normalization totals); the residual forms
  * run the same step on [[Rounds.roundLoop]] over (before, after) pairs,
  * whose one readout job per round counts the changed nodes and sums
  * the L1 residuals.
  */
private[operators] object RankRounds {

  /** Integer PageRank over the weighted edges `src → (dst, w)`, as a
    * node's (out-weight, rank): the ranks before round 1 and the round.
    *
    * Seed: every source node with its out-weight Σw, the 10¹² rank mass
    * split evenly over the nodes `isSeed` picks. One job — the seed
    * count, which also materializes the edges and the out-weights. With
    * no seed (an empty edge list, or a personalized run whose seed set
    * is empty) every rank is 0: the oracle divides by the seed count
    * only in its seed branch.
    *
    * Round, lazy: every node sends `pr·w div outWeight` along each
    * out-edge (div before sum, so every engine adds the same integers),
    * the contributions meet in ONE sum shuffle, and a narrow outer merge
    * onto the persisted out-weights sets `teleport + 85·Σ div 100`, the
    * teleport being 15% of a seed's share on the seeds and 0 elsewhere.
    * Ranks and edges share one partitioner, so the probe join is narrow,
    * and a chain of rounds stays constant-depth. Plain PageRank is
    * `w = 1` (out-weight = out-degree); TextRank's `w` is the
    * co-occurrence count.
    */
  def pagerankOn[K: ClassTag](
      edges: RDD[(K, (K, Long))],
      part: HashPartitioner,
      isSeed: K => Boolean): (RDD[(K, (Long, Long))], RDD[(K, (Long, Long))] => RDD[(K, (Long, Long))]) = {
    val outW = edges.mapValues(_._2).reduceByKey(part, _ + _).persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = countRows(outW.filter(kv => isSeed(kv._1)))
    val seedPr = if (seeds == 0L) 0L else 1000000000000L / seeds
    val teleport = 15L * seedPr / 100L
    def round(rank: RDD[(K, (Long, Long))]): RDD[(K, (Long, Long))] = {
      val summed = rank
        .join(edges)
        .map { case (_, ((ow, pr), (dst, w))) => (dst, pr * w / ow) }
        .reduceByKey(part, _ + _)
      outW.leftOuterJoin(summed).mapPartitions(
        _.map { case (id, (ow, s)) =>
          (id, (ow, (if (isSeed(id)) teleport else 0L) + 85L * s.getOrElse(0L) / 100L))
        },
        preservesPartitioning = true)
    }
    val seed = outW.mapPartitions(
      _.map { case (id, w) => (id, (w, if (isSeed(id)) seedPr else 0L)) },
      preservesPartitioning = true)
    (seed, round)
  }

  /** `iters` [[pagerankOn]] rounds as one lazy chain — no per-round
    * scalar, so the rounds run as `iters` shuffle stages of the job
    * that reads the result. Returns (node, rank). */
  def pagerankRdd[K: ClassTag](
      edges: RDD[(K, (K, Long))],
      part: HashPartitioner,
      iters: Int,
      isSeed: K => Boolean): RDD[(K, Long)] = {
    val (seed, round) = pagerankOn(edges, part, isSeed)
    (1 to iters).foldLeft(seed)((r, _) => round(r)).mapValues(_._2)
  }

  /** [[GraphOps.pagerankPersonalized]]: the [[pagerankRdd]] chain over
    * the unit-weight edges, seeds `id pmod seedMod = 0`. */
  def pagerankPersonalized(edges: DataFrame, iters: Int, seedMod: Long): DataFrame =
    inLoop(edges) { part =>
      val eRdd = keyedEdges(edges, part)(dst => (dst, 1L))
      // floorMod ≡ SQL pmod on any sign
      val rank = pagerankRdd(eRdd, part, iters, (id: Long) => java.lang.Math.floorMod(id, seedMod) == 0L)
      val out = edges.sparkSession.createDataFrame(
        rank.map { case (id, pr) => Row(id, pr) },
        longSchema("id", "pr"))
      eRdd.unpersist(false)
      out
    }

  /** [[GraphOps.pagerankResiduals]]: the uniform [[pagerankOn]] round on
    * [[Rounds.residualRounds]]. */
  def pagerankResiduals(edges: DataFrame, iters: Int): DataFrame = inLoop(edges) { part =>
    val eRdd = keyedEdges(edges, part)(dst => (dst, 1L))
    val (seed, round) = pagerankOn(eRdd, part, (_: Long) => true)
    val out = residualRounds(
      edges.sparkSession, "pagerankResiduals", seed, iters, "n_changed", "resid_l1_pico")(
      (p, c) => p._2 != c._2,
      (p, c) => math.abs(c._2 - p._2))(round)
    eRdd.unpersist(false)
    out
  }

  /** Katz over the edges `src → dst`, as scores over every vertex
    * (src ∪ dst), milli-units: the scores before round 1 (1000 each) and
    * the round. One job materializes the edges and the vertex set.
    * Round, lazy: each vertex sends its score along every out-edge
    * (co-partitioned probe join, narrow), the scores meet in ONE sum
    * shuffle, and a narrow outer merge onto the persisted vertex set
    * sets `1000 + Σ div 8`. */
  def katzOn(edges: RDD[(Long, Long)], part: HashPartitioner)
      : (RDD[(Long, Long)], RDD[(Long, Long)] => RDD[(Long, Long)]) = {
    val verts = edges
      .flatMap { case (s, d) => Iterator((s, 0L), (d, 0L)) }
      .reduceByKey(part, (a, _) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    countRows(verts)
    def round(x: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val summed = x
        .join(edges)
        .map { case (_, (kz, dst)) => (dst, kz) }
        .reduceByKey(part, _ + _)
      verts.leftOuterJoin(summed).mapValues { case (_, s) => 1000L + s.getOrElse(0L) / 8L }
    }
    (verts.mapValues(_ => 1000L), round)
  }

  /** [[GraphOps.katzFixed]]: `iters` [[katzOn]] rounds as one lazy
    * chain — no per-round scalar, so one job and `iters` shuffle
    * stages. */
  def katzFixed(edges: DataFrame, iters: Int): DataFrame = inLoop(edges) { part =>
    val eRdd = keyedEdges(edges, part)(identity)
    val (x0, round) = katzOn(eRdd, part)
    val x = (1 to iters).foldLeft(x0)((x, _) => round(x))
    val out = edges.sparkSession.createDataFrame(
      x.map { case (id, kz) => Row(id, kz) },
      longSchema("id", "kz"))
    eRdd.unpersist(false)
    out
  }

  /** [[GraphOps.katzResiduals]]: the [[katzOn]] round on
    * [[Rounds.residualRounds]]. */
  def katzResiduals(edges: DataFrame, iters: Int): DataFrame = inLoop(edges) { part =>
    val eRdd = keyedEdges(edges, part)(identity)
    val (x0, round) = katzOn(eRdd, part)
    val out = residualRounds(
      edges.sparkSession, "katzResiduals", x0, iters, "n_changed", "resid_l1_milli")(
      (p, c) => p != c,
      (p, c) => math.abs(c - p))(round)
    eRdd.unpersist(false)
    out
  }

  /** HITS over the DISTINCT edges, as score vectors over every node:
    * the hubs before round 1 (10⁶ each) and the round, which maps the
    * hubs to (authorities, next hubs). One job materializes the edges
    * and the node set. The distinct stays on the DataFrame (codegen'd
    * UnsafeRow exchange): an RDD pair-keyed distinct Java-serializes
    * every tuple — measured 2.8 s vs sub-second for the same 590 k rows.
    *
    * A round is two half-rounds: authority = Σ of the in-neighbors'
    * hubs, then hub = Σ of the out-neighbors' new authorities. A
    * half-round is a narrow probe join, ONE transpose-sum shuffle (it
    * re-keys |E| rows to the other endpoint) and one job for the L1
    * total; the normalized vector is a narrow outer merge onto the
    * persisted node set, evaluated lazily by the next half-round. A
    * zero total (an empty graph) normalizes to 0 instead of dividing by
    * it.
    */
  def hitsOn(edges: DataFrame, part: HashPartitioner)
      : (RDD[(Long, Long)], RDD[(Long, Long)] => (RDD[(Long, Long)], RDD[(Long, Long)])) = {
    val e0 = Phys
      .materialized(edges.select(col("src"), col("dst")).distinct())
      .rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val eS = e0.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val eD = e0.map(_.swap).partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e0
      .flatMap { case (s, d) => Iterator((s, 0L), (d, 0L)) }
      .reduceByKey(part, (a, _) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    countRows(nodes)
    def half(score: RDD[(Long, Long)], e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val raw = score
        .join(e)
        .map { case (_, (v, to)) => (to, v) }
        .reduceByKey(part, _ + _)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // exact 64-bit sum, order-free
      val tot = perPartition(raw)(_.foldLeft(0L)(_ + _._2)).sum
      nodes.leftOuterJoin(raw).mapValues { case (_, o) =>
        if (tot == 0L) 0L else o.getOrElse(0L) * 1000000L / tot
      }
    }
    (nodes.mapValues(_ => 1000000L), h => { val a = half(h, eS); (a, half(a, eD)) })
  }

  /** [[GraphOps.hits]]: `iters` [[hitsOn]] rounds. */
  def hits(edges: DataFrame, iters: Int): DataFrame = inLoop(edges) { part =>
    val (h0, round) = hitsOn(edges, part)
    val (h, a) = (1 to iters).foldLeft((h0, h0.mapValues(_ => 0L))) { case ((h, _), _) =>
      val (a, hn) = round(h)
      (hn, a)
    }
    edges.sparkSession.createDataFrame(
      h.join(a).map { case (id, (hv, av)) => Row(id, hv, av) },
      longSchema("id", "hub_micro", "auth_micro"))
  }

  /** [[GraphOps.hitsResiduals]]: the [[hitsOn]] round on
    * [[Rounds.residualRounds]], a node's score being (hub, authority). */
  def hitsResiduals(edges: DataFrame, iters: Int): DataFrame = inLoop(edges) { part =>
    val (h0, round) = hitsOn(edges, part)
    residualRounds(edges.sparkSession, "hitsResiduals", h0.mapValues(h => (h, 0L)), iters,
      "hub_changed", "hub_resid_micro", "auth_changed", "auth_resid_micro")(
      (p, c) => p._1 != c._1,
      (p, c) => math.abs(c._1 - p._1),
      (p, c) => if (p._2 != c._2) 1L else 0L,
      (p, c) => math.abs(c._2 - p._2)) { x =>
      val (a, h) = round(x.mapValues(_._1))
      h.join(a)
    }
  }
}
