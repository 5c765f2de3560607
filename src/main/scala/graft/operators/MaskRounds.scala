package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bin, col, expr, length, lit, rtrim, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import Rounds.{changedRows, countRows, inLoop, roundLoop}

/** The bitmask loops (multi-source BFS, landmark sweeps, ANF sketches,
  * harmonic/closeness, effective diameter, the SCC pivot sweep): their
  * prelude ([[onDistinctEdges]], [[nodeSet]]), their seeds ([[bitSeed]],
  * [[fmSeed]]), the RDD body [[maskLoopRdd]] and its readouts. */
private[operators] object MaskRounds {

  /** The bitmask loops' prelude, opened through [[Rounds.inLoop]] (sized
    * from |E|): the distinct (src, dst) pairs of `edges` — or, when
    * `undirected`, of their union with the reversed edges — laid out on
    * `src` in the loop's partition count, persisted and counted, then
    * `body(part, e, nodes)` with [[nodeSet]] of that edge list. The
    * edges are unpersisted when `body` returns. Distinct because OR is
    * idempotent: parallel edges add shuffle rows, never information.
    */
  def onDistinctEdges[A](edges: DataFrame, undirected: Boolean)(
      body: (HashPartitioner, DataFrame, DataFrame) => A): A =
    inLoop(edges) { part =>
      val directed = edges.select(col("src"), col("dst"))
      val pairs =
        if (undirected) directed.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        else directed
      val e = pairs
        .distinct()
        .repartition(part.numPartitions, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      try body(part, e, nodeSet(e))
      finally e.unpersist()
    }

  /** Every endpoint of the edge list `e`, once, as `id`. */
  def nodeSet(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct()

  /** A one-mask seed `(id, m0)`: node `lo + k` holds bit k for
    * k < `nBits`, every other node 0. The power of two is exact as a
    * double (exponents ≤ 62), and DuckDB computes the identical literal
    * power. */
  def bitSeed(nodes: DataFrame, lo: Long, nBits: Int): DataFrame =
    nodes.select(
      col("id"),
      when(
        col("id") >= lo && col("id") <= lo + nBits - 1,
        expr(s"CAST(pow(2, id - $lo) AS BIGINT)")).otherwise(lit(0L)).as("m0"))

  /** The Flajolet–Martin seed `(id, m0..m{K-1})` of the ANF-family
    * sketches: sketch s of node v holds the single bit `tz(hash_s(v))`,
    * the trailing zeros of an LCG hash reduced mod BigP FIRST (the
    * engine's 64-bit overflow discipline), read off `bin()` — no libm. */
  def fmSeed(nodes: DataFrame, nSketches: Int): DataFrame = {
    import graft.functions.Parity
    val ss = 0 until nSketches
    def h(s: Int): Column =
      (lit(Parity.permA(GraphOps.AnfPermOff + s)) * (col("id") % lit(Parity.BigP)) +
        lit(Parity.permB(GraphOps.AnfPermOff + s))) % lit(Parity.BigP)
    val rho = ss.map { s =>
      when(col(s"h$s") === 0L, lit(31L))
        .otherwise(length(bin(col(s"h$s"))) - length(rtrim(bin(col(s"h$s")), "0")))
        .cast("long")
        .as(s"rho$s")
    }
    val mask = ss.map(s => expr(s"shiftleft(CAST(1 AS BIGINT), CAST(rho$s AS INT))").as(s"m$s"))
    nodes
      .select(col("id") +: ss.map(s => h(s).as(s"h$s")): _*)
      .select(col("id") +: rho: _*)
      .select(col("id") +: mask: _*)
  }

  /** RDD core of the mask loop — same rounds, same integer math, zero
    * Catalyst work per round.
    *
    * The r16 finding: at the loop regime the per-round floor is the
    * DRIVER — analyzer/optimizer passes plus AQE stage re-planning on a
    * fresh ~40-node plan every round cost 0.35–0.45 s while the tasks
    * move KBs (measured on graph_bowtie: identical rounds at 0.16 s on
    * raw RDDs, under 0.1 s with the one-action round below). A round on
    * [[Rounds.roundLoop]] is three co-partitioned narrow ops plus ONE shuffle
    * and ONE job:
    *
    *   msgs    = changed ⋈ edges (both hash(parts) — narrow), gated
    *             masks, reduceByKey(bit_or)         — the one exchange
    *   merged  = state ⟕ msgs (narrow), keeping (old, new, extras)
    *   action  = the driver's readout: the changed count AND the
    *             caller's estimator sum `estOf` over the new masks
    *
    * `extras` are per-node Long accumulators folded once per round
    * from (extras, old masks, new masks, h) inside the merge — the
    * harmonic/closeness per-node readouts that the DataFrame loop paid
    * a join-plus-checkpoint per round for. All arithmetic is the same
    * exact integer math as the SQL mirrors. `onRound(h, changed, est,
    * delta)` sees each round's delta: the bits a changed node gained.
    *
    * At 100 TB the shapes are identical to the DataFrame loop's (the
    * partitioner is even stickier: every join in the loop is provably
    * co-partitioned), only the per-round constant changes.
    */
  def maskLoopRdd(
      e: DataFrame,
      seed: DataFrame,
      nMasks: Int,
      maxRounds: Int,
      earlyExit: Boolean,
      freeSuperseded: Boolean,
      part: HashPartitioner,
      gated: Boolean = false,
      extraInit: (Long, Array[Long]) => Array[Long] = null,
      extraFold: (Array[Long], Array[Long], Array[Long], Int) => Array[Long] = null,
      estOf: Array[Long] => Long = _ => 0L)(
      onRound: (Int, Long, Long, RDD[(Long, Array[Long])]) => Unit = (_, _, _, _) => ())
      : RDD[(Long, (Array[Long], Array[Long]))] = {
    val K = nMasks
    val eRdd = (if (gated) e.rdd.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
                else e.rdd.map(r => (r.getLong(0), (r.getLong(1), -1L))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = extraInit
    val fold = extraFold
    // state value: (masks before the last round, masks after it,
    // extras); the seed's "before" is all zero, so its changed rows are
    // exactly the nodes holding a seed bit
    val zero = new Array[Long](K)
    val state0 = seed.rdd
      .map { r =>
        val id = r.getLong(0)
        val m = Array.tabulate(K)(s => r.getLong(s + 1))
        (id, (zero, m, if (init == null) Array.emptyLongArray else init(id, m)))
      }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // reference equality is only a fast path — a cached block that
    // spilled and was re-read deserializes old/new as distinct objects
    def changed(v: (Array[Long], Array[Long], Array[Long])): Boolean =
      !((v._1 eq v._2) || java.util.Arrays.equals(v._1, v._2))
    val changed0 = countRows(state0.filter(r => changed(r._2))) // materializes the seed
    countRows(eRdd)
    val last = roundLoop("maskLoop", state0, changed0, maxRounds,
      untilUnchanged = earlyExit, freeSuperseded = freeSuperseded)(
      changedRows(changed),
      sums = Seq(r => estOf(r._2._2)),
      after = (h, changedCount, est, merged) =>
        onRound(h.toInt, changedCount, est(0), merged.filter(r => changed(r._2)).mapValues {
          case (m, n, _) =>
            val d = new Array[Long](n.length); var i = 0
            while (i < n.length) { d(i) = n(i) & ~m(i); i += 1 }; d
        })) { (cur, at) =>
      val h = (at.done + 1).toInt
      val msgs = cur
        .filter(r => changed(r._2))
        .mapValues(_._2)
        .join(eRdd)
        .map { case (_, (m, (dst, gate))) =>
          (dst, if (gate == -1L) m else { val g = new Array[Long](m.length); var i = 0; while (i < m.length) { g(i) = m(i) & gate; i += 1 }; g })
        }
        .reduceByKey(part, (a, b) => {
          val r = new Array[Long](a.length); var i = 0
          while (i < a.length) { r(i) = a(i) | b(i); i += 1 }; r
        })
      (1L, cur.leftOuterJoin(msgs).mapValues {
        case ((_, m, ex), dOpt) =>
          val n = dOpt match {
            case Some(d) =>
              val r = new Array[Long](m.length); var i = 0
              var same = true
              while (i < m.length) { r(i) = m(i) | d(i); if (r(i) != m(i)) same = false; i += 1 }
              if (same) m else r
            case None => m
          }
          (m, n, if (fold == null) ex else fold(ex, m, n, h))
      })
    }
    eRdd.unpersist(false)
    last.mapValues { case (_, n, ex) => (n, ex) }
  }

  /** The set bits of a one-mask round `delta` as `(id, bit + 1, h)`
    * rows, bits `0 until nBits` — the nodes a sweep's sources reached
    * at hop `h`. */
  def bitArrivals(delta: RDD[(Long, Array[Long])], nBits: Int, h: Long): RDD[(Long, Long, Long)] =
    delta.flatMap { case (id, d) =>
      (0 until nBits).iterator
        .filter(b => ((d(0) >> b) & 1L) == 1L)
        .map(b => (id, b + 1L, h))
    }

  /** The final mask state of [[maskLoopRdd]] as a DataFrame
    * `(id, m0..m{K-1}[, x0..x{E-1}])`. */
  def maskStateDf(
      session: SparkSession,
      state: RDD[(Long, (Array[Long], Array[Long]))],
      nMasks: Int,
      nExtras: Int = 0): DataFrame = {
    val schema = StructType(
      StructField("id", LongType, nullable = false) +:
        ((0 until nMasks).map(s => StructField(s"m$s", LongType, nullable = false)) ++
          (0 until nExtras).map(x => StructField(s"x$x", LongType, nullable = false))))
    val rows = state.map { case (id, (m, ex)) => Row.fromSeq(id +: (m.toSeq ++ ex.toSeq)) }
    session.createDataFrame(rows, schema)
  }
}
