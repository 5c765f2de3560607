package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Parity

/** Deterministic cardinality sketches.
  *
  * Engine built-ins (`approx_count_distinct` = HyperLogLog++) can never
  * hash-match a cross-engine oracle — every engine uses its own hash and
  * its own bias tables. A K-minimum-values (KMV) sketch over the shared
  * [[Parity]] 40-bit hash is different: the k smallest distinct hash
  * values are a deterministic function of the input, so the estimate
  * `(k−1) · 2⁴⁰ / h_k` is bit-identical on any engine (integer
  * arithmetic end to end). Same estimator family as HLL (order
  * statistics of hashed values), with ~1/√k relative error.
  *
  * Scale shape: one distinct (shuffle on the value), then a top-k —
  * Spark plans `orderBy(h).limit(k)` as TakeOrdered (per-partition
  * heads, merged on the driver), never a global sort; the sketch row
  * itself is O(k).
  */
object Sketches {

  /** KMV width: 256 minima ≈ 6% standard error. */
  val KmvK = 256

  /** KMV distinct-count sketch over the corpus' word-trigram shingles,
    * next to the exact count it estimates: one row
    * (n_exact, n_mins, kth_hash, kmv_estimate). When the universe is
    * smaller than k the sketch holds every hash and the estimate is the
    * exact hash count.
    */
  def kmvDistinctShingles(docs: DataFrame, k: Int = KmvK): DataFrame = {
    // the ACTUAL range of tokenH40 (fpA * TokP2 + fpB < TokP * TokP2),
    // not 2^40 — using the nominal bit width would bias every estimate
    // ~+4.6% high (hashes never reach the top of the 40-bit space)
    val space = Parity.TokP * Parity.TokP2
    val distinctShingles = docs
      .select(
        explode(graft.functions.ShingleStrings(Parity.splitWords(col("text")), distinct = true))
          .as("g"))
      .distinct()
    val hashes = distinctShingles.select(Parity.tokenH40(col("g")).as("h")).distinct()
    val mins = hashes.orderBy(col("h")).limit(k)
    val a = mins.agg(count(lit(1)).as("n_mins"), max(col("h")).as("kth_hash"))
    val e = distinctShingles.agg(count(lit(1)).as("n_exact"))
    e.crossJoin(a)
      .select(
        col("n_exact"),
        col("n_mins"),
        col("kth_hash"),
        when(col("n_mins") < k, col("n_mins"))
          .otherwise(expr(s"(${k - 1} * ${space}L) div kth_hash"))
          .as("kmv_estimate"))
  }

  /** GROUPED KMV: distinct-token estimate per `source` — the per-split
    * vocabulary report a curation dashboard shows, one sketch row per
    * group next to the exact count it estimates.
    *
    * Scale shape: the (source, hash) pre-distinct collapses duplicate
    * tokens with a map-side partial before its exchange; the per-group
    * k minima then come from a typed bounded-heap
    * [[graft.functions.KMinAggregator]] whose buffer also carries the
    * exact count — ONE aggregate with a map-side partial, so at most k
    * hashes (plus one counter) per source cross the final exchange. A
    * hot source never concentrates its whole distinct-hash set on one
    * task, and there is no per-group sort anywhere. The oracle keeps
    * the equivalent rank formulation (the k smallest of a set are the
    * same set however you find them), so the row is bit-identical.
    */
  def kmvPerSource(docs: DataFrame, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val space = Parity.TokP * Parity.TokP2
    val pairs = docs
      .select(col("source"), explode(Parity.tokens(col("text"))).as("t"))
      .select(col("source"), Parity.tokenH40(col("t")).as("h"))
      .distinct()
    val agg = new graft.functions.KMinAggregator(k)
    pairs
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn)
      .map { case (source, (nExact, nMins, kth)) => (source, nExact, nMins, kth) }
      .toDF("source", "n_exact", "n_mins", "kth_hash")
      .select(
        col("source"),
        col("n_exact"),
        col("n_mins"),
        col("kth_hash"),
        when(col("n_mins") < k, col("n_mins"))
          .otherwise(expr(s"(${k - 1} * ${space}L) div kth_hash"))
          .as("kmv_estimate"))
  }

  /** CROSS-SOURCE Jaccard from MERGEABLE KMV sketches (Beyer et al.
    * 2007, "On synopses for distinct-value estimation under multiset
    * operations"): each source keeps its k-min token-hash SET (one
    * bounded aggregate — the [[kmvPerSource]] sketch with the minima
    * kept); a source PAIR is then estimated entirely from the two
    * k-row sketches — union sketch U = k smallest of minsA ∪ minsB,
    * |A∪B| from U's kth hash, J ≈ |{h ∈ U : h ∈ A ∧ h ∈ B}| / |U|.
    * `exact_jaccard` rides along as the eval column (the recall-column
    * discipline of `ann_*_recall`).
    *
    * This is THE 100 TB shape for cross-corpus overlap: the corpus is
    * scanned once per source to build k-long sketches, and every
    * pairwise comparison after that touches only sketch rows —
    * |sources|² array intersections of ≤ k elements, no re-scan, no
    * hash self-join. (The exact eval column does pay one bounded
    * self-join on the hash key — per-hash fan-out ≤ |sources| — and is
    * what a production run drops.)
    */
  def kmvJaccardMatrix(docs: DataFrame, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val space = Parity.TokP * Parity.TokP2
    val pairs = Phys.materialized(
      docs
        .select(col("source"), explode(Parity.tokens(col("text"))).as("t"))
        .select(col("source"), Parity.tokenH40(col("t")).as("h"))
        .distinct())
    val agg = new graft.functions.KMinSetAggregator(k)
    val sketches = pairs
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn)
      .map { case (source, (nExact, mins)) => (source, nExact, mins) }
      .toDF("source", "n_exact", "mins")
    val a = sketches.select(
      col("source").as("source_a"), col("n_exact").as("n_a"), col("mins").as("mins_a"))
    val b = sketches.select(
      col("source").as("source_b"), col("n_exact").as("n_b"), col("mins").as("mins_b"))
    val u = slice(array_sort(array_union(col("mins_a"), col("mins_b"))), 1, k)
    val est = broadcast(a)
      .crossJoin(broadcast(b))
      .filter(col("source_a") < col("source_b"))
      .withColumn("u", u)
      .withColumn("n_u", size(col("u")).cast("long"))
      .withColumn(
        "n_both",
        size(filter(
          col("u"),
          h => array_contains(col("mins_a"), h) && array_contains(col("mins_b"), h)))
          .cast("long"))
      .select(
        col("source_a"),
        col("source_b"),
        when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"(${k - 1} * ${space}L) div element_at(u, cast(n_u as int))"))
          .as("union_est"),
        round(col("n_both").cast("double") / col("n_u").cast("double"), 6).as("est_jaccard"))
    val inter = pairs.alias("x")
      .join(pairs.alias("y"), col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val ex = a.select(col("source_a"), col("n_a"))
      .crossJoin(b.select(col("source_b"), col("n_b")))
      .filter(col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left_outer")
      .select(
        col("source_a"),
        col("source_b"),
        round(
          coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).cast("double"),
          6).as("exact_jaccard"))
    est.join(ex, Seq("source_a", "source_b"))
  }

  /** DuckDB mirror of [[kmvJaccardMatrix]] (rank formulation of the
    * per-source minima — the k smallest of a set are the same set
    * however found). */
  def kmvJaccardMatrixSql(k: Int = 64): String = {
    val space = Parity.TokP * Parity.TokP2
    val h = Parity.tokenH40Sql("t")
    s"""WITH tok AS (
       |  SELECT source, unnest(${Parity.tokensSql("text")}) AS t FROM documents),
       |pair AS (SELECT DISTINCT source, $h AS h FROM tok),
       |ranked AS (
       |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM pair),
       |mins AS (
       |  SELECT source, list(h ORDER BY h) AS mins
       |  FROM ranked WHERE rn <= $k GROUP BY source),
       |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM pair GROUP BY source),
       |est AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         a.mins AS mins_a, b.mins AS mins_b,
       |         list_sort(list_distinct(a.mins || b.mins))[1:$k] AS u
       |  FROM mins a JOIN mins b ON a.source < b.source),
       |est2 AS (
       |  SELECT source_a, source_b,
       |         CAST(len(u) AS BIGINT) AS n_u, u[len(u)] AS kth,
       |         CAST(len(list_filter(u, x ->
       |           list_contains(mins_a, x) AND list_contains(mins_b, x))) AS BIGINT) AS n_both
       |  FROM est),
       |inter AS (
       |  SELECT x.source AS source_a, y.source AS source_b, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM pair x JOIN pair y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT e.source_a, e.source_b,
       |       CASE WHEN e.n_u < $k THEN e.n_u
       |            ELSE (${k - 1} * $space) // e.kth END AS union_est,
       |       round(CAST(e.n_both AS DOUBLE) / CAST(e.n_u AS DOUBLE), 6) AS est_jaccard,
       |       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |             CAST(ea.n_exact + eb.n_exact - coalesce(i.n_inter, 0) AS DOUBLE), 6)
       |         AS exact_jaccard
       |FROM est2 e
       |JOIN ex ea ON ea.source = e.source_a
       |JOIN ex eb ON eb.source = e.source_b
       |LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
       |ORDER BY e.source_a, e.source_b""".stripMargin
  }

  // ---- Count-min sketch ----------------------------------------------------

  /** CMS geometry: depth 4 × width 512 = 2048 counter cells. Width sets
    * the overestimate bound (ε ≈ e/w of the total mass lands on each
    * cell in expectation); depth sets the failure probability of that
    * bound (δ = e^−d). 4×512 on the harness vocabulary keeps top-20
    * estimates within a few percent while the sketch is ~16 KB.
    */
  val CmsDepth = 4
  val CmsWidth = 512L

  /** Row-j CMS bucket of a 40-bit token hash: an affine permutation mod
    * [[Parity.BigP]] folded to the width. `h` is reduced mod BigP FIRST
    * so the product stays < 2^62 — the same overflow discipline as
    * [[graft.operators.TextOps]]' shard hash; DuckDB BIGINT arithmetic
    * is then bit-identical.
    */
  private def cmsBucket(j: Int, h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (lit(Parity.permA(j)) * (h % lit(Parity.BigP)) + lit(Parity.permB(j))) % lit(Parity.BigP) % lit(
      CmsWidth)

  private def cmsBucketSql(j: Int, h: String): String =
    s"((${Parity.permA(j)} * ($h % ${Parity.BigP}) + ${Parity.permB(j)}) % ${Parity.BigP}) % $CmsWidth"

  /** Count-min sketch frequency estimation (Cormode & Muthukrishnan
    * 2005, J. Algorithms 55): every token increments one counter per
    * hash row; a point estimate is the MIN over its d counters —
    * overestimates only (collisions add, never subtract). Emitted next
    * to the exact frequencies it approximates: the exact top-`topN`
    * tokens with their CMS estimates and the overestimate delta, so the
    * sketch's error is a measured column, not a claim.
    *
    * Scale shape at 100 TB: the sketch build is ONE hash aggregate into
    * d·w = 2048 cells with a map-side partial (each task folds its
    * tokens into a 16 KB array before the exchange — this is why CMS
    * exists: the full histogram needs memory ∝ vocabulary, the sketch
    * O(d·w)). Here the build goes through the word histogram the probe
    * side needs anyway, which is count-identical (sum of per-token
    * freqs = token stream length). The probe is a broadcast-sized join
    * of topN·d rows against the 2048-cell table.
    */
  def cmsHeavyHitters(docs: DataFrame, topN: Int = 20): DataFrame = {
    // materialized: the exact histogram feeds BOTH the cell build and
    // the top-N probe — without the checkpoint the corpus would be
    // tokenized twice (the scan, not the vocab-sized histogram, is the
    // dominant cost at scale)
    val hist = Phys.materialized(
      docs
        .select(explode(Parity.tokens(col("text"))).as("t"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("freq")))
    def withBuckets(df: DataFrame): DataFrame =
      df.withColumn("h", Parity.tokenH40(col("t")))
        .select(
          df.columns.map(col) :+
            posexplode(array((0 until CmsDepth).map(j => cmsBucket(j, col("h"))): _*))
              .as(Seq("j", "bucket")): _*)
    val cells = withBuckets(hist)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("freq")).as("cell"))
    val top = hist.orderBy(desc("freq"), col("t")).limit(topN)
    withBuckets(top)
      .join(cells, Seq("j", "bucket"))
      .groupBy(col("t"), col("freq"))
      .agg(min(col("cell")).as("cms_estimate"))
      .select(
        col("t").as("token"),
        col("freq").as("exact_freq"),
        col("cms_estimate"),
        (col("cms_estimate") - col("freq")).as("overcount"))
  }

  /** [[cmsHeavyHitters]] mirrored cell-for-cell. */
  def cmsHeavyHittersSql(topN: Int = 20): String = {
    val h = Parity.tokenH40Sql("t")
    val bucketRows = (0 until CmsDepth)
      .map(j => s"SELECT t, freq, $j AS j, ${cmsBucketSql(j, "h")} AS bucket FROM hh")
      .mkString("\nUNION ALL\n")
    s"""WITH hist AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(${Parity.tokensSql("text")}) AS t FROM documents)
       |  GROUP BY t),
       |hh AS (SELECT t, freq, $h AS h FROM hist),
       |buck AS (
       |$bucketRows),
       |cells AS (
       |  SELECT j, bucket, CAST(sum(freq) AS BIGINT) AS cell FROM buck GROUP BY j, bucket),
       |top AS (SELECT t, freq FROM hist ORDER BY freq DESC, t LIMIT $topN),
       |probe AS (
       |  SELECT b.t, b.freq, c.cell
       |  FROM (SELECT t, freq, j, bucket FROM buck WHERE t IN (SELECT t FROM top)) b
       |  JOIN cells c ON c.j = b.j AND c.bucket = b.bucket)
       |SELECT t AS token, freq AS exact_freq,
       |       min(cell) AS cms_estimate, min(cell) - freq AS overcount
       |FROM probe GROUP BY t, freq
       |ORDER BY token""".stripMargin
  }

  /** Join-cardinality estimation from per-side count-min sketches (the
    * AMS/CMS inner-product estimator, Cormode & Muthukrishnan 2005 §4.2;
    * the technique query optimizers use to size a join BEFORE running
    * it): each side's key frequencies fold into d×w counters, the
    * estimate is `min_j Σ_b c1[j][b]·c2[j][b]` — an overestimate only,
    * with expected slack ≤ `n1·n2 / w` per row. Emitted next to the
    * exact join count and the slack bound, so the estimator's error is a
    * measured column (the `cmsHeavyHitters` discipline).
    *
    * Scale shape at 100 TB: each sketch build is one map-side-partial
    * aggregate into d·w = 2048 cells — the whole point is that the two
    * relations are never joined; the estimate costs two scans and a
    * 2048-row join. The exact count here rides the orderkey equi-join
    * the suite already proves; in production you'd run the sketch side
    * alone.
    */
  def joinSizeCms(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def sketch(keys: DataFrame): DataFrame =
      keys
        .select(
          posexplode(array((0 until CmsDepth).map(j => cmsBucket(j, col("k"))): _*))
            .as(Seq("j", "bucket")))
        .groupBy(col("j"), col("bucket"))
        .agg(count(lit(1)).as("c"))
    val co = sketch(orders.select(col("o_orderkey").as("k")))
    val cl = sketch(lineitem.select(col("l_orderkey").as("k")))
    val est = co
      .alias("co")
      .join(cl.alias("cl"), col("co.j") === col("cl.j") && col("co.bucket") === col("cl.bucket"))
      .groupBy(col("co.j"))
      .agg(sum(col("co.c") * col("cl.c")).as("ip"))
      .agg(min(col("ip")).as("est_cms"))
    val exact = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    val ns = orders
      .agg(count(lit(1)).as("n1"))
      .crossJoin(lineitem.agg(count(lit(1)).as("n2")))
    // three single-row aggregates composed in-plan (1-row broadcast
    // nested loops), no driver-side collect
    est
      .crossJoin(exact)
      .crossJoin(ns)
      .select(
        col("est_cms"),
        col("exact_rows"),
        expr("est_cms * 1000000 div exact_rows").as("ratio_ppm"),
        expr(s"n1 * n2 div $CmsWidth").as("slack_bound"))
  }

  /** Histogram bucket count for [[selectivityHist]]. */
  val SelBuckets = 16L

  /** Range-predicate selectivity estimation from an equi-width histogram
    * (the Selinger-style optimizer statistic, System R 1979; what
    * `ANALYZE` feeds a cost model): `o_totalprice` in integer cents
    * folds into [[SelBuckets]] equi-width buckets, and the estimate for
    * `price BETWEEN lo AND hi` is Σ over buckets of
    * `count · overlap / width` — full buckets count whole, boundary
    * buckets interpolate linearly (uniform-within-bucket assumption).
    * All arithmetic is integer (cents, milli-rows): both engines compute
    * the identical estimate, and the error against the exact count is a
    * measured column, not a claim — the [[joinSizeCms]] discipline
    * applied to the optimizer's OTHER cardinality question.
    *
    * Scale shape: one scan builds the 16-row histogram (map-side
    * partial); min/max/width enter as a cross-joined 1-row aggregate —
    * no driver collect. The exact count rides the same scan family here
    * for the audit; in production only the histogram probe runs (16
    * rows, O(1)).
    */
  def selectivityHist(
      orders: DataFrame,
      loCents: Long = 5000000L,
      hiCents: Long = 15000000L): DataFrame = {
    val b = SelBuckets
    val c = orders.select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("p"))
    val mm = c.agg(
      min(col("p")).as("mn"),
      max(col("p")).as("mx"),
      expr(s"(max(p) - min(p)) div $b + 1").as("w"))
    val h = c
      .crossJoin(broadcast(mm))
      .select(least(expr("(p - mn) div w"), lit(b - 1)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"))
    val est = h
      .crossJoin(broadcast(mm))
      .withColumn(
        "overlap",
        greatest(
          lit(0L),
          least(lit(hiCents), col("mn") + (col("b") + 1) * col("w") - 1) -
            greatest(lit(loCents), col("mn") + col("b") * col("w")) + 1))
      // integer milli-rows: `div`, never `/` (which is double division)
      .select(expr("cnt * overlap * 1000 div w").as("contrib_milli"))
      .agg(sum(col("contrib_milli")).as("est_milli"))
    val exact = c
      .filter(col("p") >= loCents && col("p") <= hiCents)
      .agg(count(lit(1)).as("exact_rows"))
    est
      .crossJoin(exact)
      .select(
        expr("est_milli div 1000").as("est_rows"),
        col("exact_rows"),
        expr("abs(est_milli div 1000 - exact_rows) * 1000000 div exact_rows").as("err_ppm"))
  }

  /** [[selectivityHist]] mirrored bucket-for-bucket. */
  def selectivityHistSql(loCents: Long = 5000000L, hiCents: Long = 15000000L): String = {
    val b = SelBuckets
    s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS p FROM orders),
       |mm AS (SELECT min(p) AS mn, max(p) AS mx, (max(p) - min(p)) // $b + 1 AS w FROM c),
       |h AS (
       |  SELECT least((p - mn) // w, ${b - 1}) AS b, CAST(count(*) AS BIGINT) AS cnt
       |  FROM c CROSS JOIN mm GROUP BY 1),
       |ov AS (
       |  SELECT cnt,
       |         greatest(CAST(0 AS BIGINT),
       |           least($hiCents, mn + (b + 1) * w - 1) - greatest($loCents, mn + b * w) + 1)
       |           AS overlap, w
       |  FROM h CROSS JOIN mm),
       |e AS (SELECT CAST(sum(cnt * overlap * 1000 // w) AS BIGINT) AS est_milli FROM ov),
       |x AS (SELECT CAST(count(*) AS BIGINT) AS exact_rows FROM c
       |      WHERE p BETWEEN $loCents AND $hiCents)
       |SELECT est_milli // 1000 AS est_rows, exact_rows,
       |       abs(est_milli // 1000 - exact_rows) * 1000000 // exact_rows AS err_ppm
       |FROM e CROSS JOIN x""".stripMargin
  }

  /** KMV sample size for [[groupByCardKmv]]. */
  val GbKmvK = 64

  /** GROUP-BY output-cardinality estimation from a k-minimum-values
    * sketch (Bar-Yossef et al. 2002) — the optimizer's third sizing
    * question after [[joinSizeCms]] (join rows) and
    * [[selectivityHist]] (filter rows): how many groups will the hash
    * aggregate produce? The k smallest distinct key-hash values under a
    * fixed affine permutation give `(k−1)·P / h_(k)`; when the key has
    * fewer than k distinct values the sketch IS the exact answer. Same
    * deterministic-hash discipline as every sketch here: both engines
    * compute the identical estimate, the error is a measured column.
    *
    * Scale shape: a TakeOrdered top-k over the hashed key column — one
    * scan, k·partitions driver traffic, never a global sort; the exact
    * count-distinct rides along as the audit column only.
    */
  def groupByCardKmv(orders: DataFrame, k: Int = GbKmvK): DataFrame = {
    val h = (lit(Parity.permA(7)) * (col("o_custkey") % lit(Parity.BigP)) +
      lit(Parity.permB(7))) % lit(Parity.BigP)
    val mins = orders
      .select(h.as("h"))
      .distinct()
      .orderBy(col("h"))
      .limit(k)
    val est = mins.agg(count(lit(1)).as("kk"), max(col("h")).as("kth"))
    val exact = orders.agg(countDistinct(col("o_custkey")).as("exact_groups"))
    est
      .crossJoin(exact)
      .select(
        when(col("kk") < k, col("kk"))
          .otherwise(expr(s"(kk - 1) * ${Parity.BigP} div kth"))
          .as("est_groups"),
        col("exact_groups"),
        expr(
          s"abs((CASE WHEN kk < $k THEN kk ELSE (kk - 1) * ${Parity.BigP} div kth END)" +
            " - exact_groups) * 1000000 div exact_groups").as("err_ppm"))
  }

  /** [[groupByCardKmv]] mirrored hash-for-hash. */
  def groupByCardKmvSql(k: Int = GbKmvK): String =
    s"""WITH hs AS (
       |  SELECT DISTINCT (${Parity.permA(7)} * (o_custkey % ${Parity.BigP}) +
       |                   ${Parity.permB(7)}) % ${Parity.BigP} AS h
       |  FROM orders),
       |mins AS (SELECT h FROM hs ORDER BY h LIMIT $k),
       |e AS (SELECT CAST(count(*) AS BIGINT) AS kk, CAST(max(h) AS BIGINT) AS kth FROM mins),
       |x AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_groups FROM orders)
       |SELECT CAST(CASE WHEN kk < $k THEN kk
       |            ELSE (kk - 1) * ${Parity.BigP} // kth END AS BIGINT) AS est_groups,
       |       exact_groups,
       |       abs((CASE WHEN kk < $k THEN kk ELSE (kk - 1) * ${Parity.BigP} // kth END)
       |           - exact_groups) * 1000000 // exact_groups AS err_ppm
       |FROM e CROSS JOIN x""".stripMargin

  /** [[joinSizeCms]] mirrored cell-for-cell. */
  def joinSizeCmsSql(): String = {
    def rows(src: String) = (0 until CmsDepth)
      .map(j => s"SELECT $j AS j, ${cmsBucketSql(j, "k")} AS bucket, " +
        s"CAST(count(*) AS BIGINT) AS c FROM $src GROUP BY 1, 2")
      .mkString("\nUNION ALL\n")
    s"""WITH ko AS (SELECT o_orderkey AS k FROM orders),
       |kl AS (SELECT l_orderkey AS k FROM lineitem),
       |co AS (${rows("ko")}),
       |cl AS (${rows("kl")}),
       |ip AS (
       |  SELECT co.j, CAST(sum(co.c * cl.c) AS BIGINT) AS ip
       |  FROM co JOIN cl ON co.j = cl.j AND co.bucket = cl.bucket GROUP BY co.j),
       |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_cms FROM ip),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact_rows
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |ns AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n1,
       |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n2)
       |SELECT est_cms, exact_rows,
       |       est_cms * 1000000 // exact_rows AS ratio_ppm,
       |       n1 * n2 // $CmsWidth AS slack_bound
       |FROM est CROSS JOIN ex CROSS JOIN ns""".stripMargin
  }

  // ---- HyperLogLog ---------------------------------------------------------

  /** HLL register count: 64 registers ≈ 13% standard error (1.04/√m).
    * Deliberately coarse — the point of the operator is the REGISTER
    * SHAPE (fixed m-cell max-merge state), and the harness corpus'
    * per-source shingle universe (~1.3k) must sit well above the 2.5·m
    * small-range threshold so the raw estimator is in its design regime.
    */
  val HllM = 64

  /** Max register value: the sub-register hash space is
    * `TokP·TokP2 / 64 < 2^34`, so a non-zero suffix has bin-length
    * ≤ 34 and rho = 35 − len(bin(w)) ∈ [1, 34]; w = 0 ⇒ 35.
    */
  val HllRMax = 35

  /** alpha_64 = 0.7213/(1 + 1.079/64) ≈ 0.70921, carried at 1e4 fixed
    * point (0.7092). The ~0.003% truncation is far below the 13%
    * standard error of m = 64.
    */
  val HllAlpha1e4 = 7092L

  /** HyperLogLog-style distinct-shingle estimate per `source`, next to
    * the exact count (Flajolet et al. 2007, AofA — the stochastic-
    * averaging estimator over max-of-rho registers; the engine-portable
    * twist is the same as [[kmvDistinctShingles]]: registers are built
    * on the shared [[Parity]] 40-bit hash with rho extracted by integer
    * `bin()` string length, and the harmonic mean is evaluated in fixed
    * point, so the estimate is bit-identical across engines — no libm,
    * no doubles).
    *
    * Register math: `j = h % 64`, `w = h div 64`, `rho(w) = 35 −
    * len(bin(w))` (w = 0 ⇒ 35); register `M_j = max rho`. The harmonic
    * mean `Σ_j 2^{−M_j}` is scaled by `2^35` into the integer
    * `S = Σ_j 2^{35−M_j}` (absent registers contribute `2^35`, i.e.
    * M = 0), giving `E = alpha·m²·2^35 / S` — evaluated as one 64-bit
    * integer division (numerator ≈ 9.98e17 < 2^63).
    *
    * Why this exists next to KMV: the KMV sketch needs a distinct +
    * top-k; HLL state is an m-cell MAX — idempotent, so the build skips
    * the pre-distinct entirely and the exchange carries at most m rows
    * per source however hot the source is. This is the degenerate-skew
    * distinct-count shape at 100 TB. The raw estimator is emitted
    * (n_zero_regs makes the small-range regime visible instead of
    * silently switching to linear counting — ln() would break
    * cross-engine parity).
    */
  def hllPerSource(docs: DataFrame): DataFrame = {
    val m = HllM
    val rMax = HllRMax
    // alpha·m²·2^35 — the constant numerator of the estimator
    val num = HllAlpha1e4 * m * m * (1L << rMax)
    val hashes = docs.select(
      col("source"),
      explode(graft.functions.ShingleH40s(Parity.splitWords(col("text")), distinct = true)).as("h"))
    // max-merge registers: map-side partial max, at most m rows/source
    val regs = hashes
      .select(
        col("source"),
        (col("h") % m).as("j"),
        expr(s"h div $m").as("w"))
      .select(
        col("source"),
        col("j"),
        when(col("w") === 0L, lit(rMax.toLong))
          .otherwise(lit(rMax.toLong) - length(expr("bin(w)")))
          .as("rho"))
      .groupBy(col("source"), col("j"))
      .agg(max(col("rho")).as("m_j"))
    val sk = regs
      .groupBy(col("source"))
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($rMax - m_j AS INT))")).as("s_hit"),
        count(lit(1)).as("n_hit"))
      .select(
        col("source"),
        (lit(m.toLong) - col("n_hit")).as("n_zero_regs"),
        (col("s_hit") + (lit(m.toLong) - col("n_hit")) * lit(1L << rMax)).as("s_total"))
    // the exact column the sketch estimates (the thing it replaces at scale)
    val exact = hashes.groupBy(col("source")).agg(count_distinct(col("h")).as("n_exact"))
    exact
      .join(sk, Seq("source"))
      .select(
        col("source"),
        col("n_exact"),
        col("n_zero_regs"),
        expr(s"${num}L div (10000 * s_total)").as("hll_estimate"),
        expr(s"abs(${num}L div (10000 * s_total) - n_exact) * 1000 div n_exact")
          .as("err_permille"))
  }

  /** [[hllPerSource]] mirrored register-for-register. `shingleSql`
    * must produce the per-doc DISTINCT shingle list of column `text`
    * (the caller owns the tokenization fragment, as with the KMV
    * oracle).
    */
  def hllPerSourceSql(shingleSql: String, fromDocs: String): String = {
    val m = HllM
    val rMax = HllRMax
    val num = HllAlpha1e4 * m * m * (1L << rMax)
    val h = Parity.tokenH40Sql("g")
    s"""WITH sh AS (SELECT source, unnest($shingleSql) AS g FROM $fromDocs),
       |hs AS (SELECT source, $h AS h FROM sh),
       |rho AS (
       |  SELECT source, h % $m AS j,
       |         CASE WHEN h // $m = 0 THEN $rMax
       |              ELSE $rMax - length(bin(h // $m)) END AS rho
       |  FROM hs),
       |regs AS (SELECT source, j, max(rho) AS m_j FROM rho GROUP BY source, j),
       |sk AS (
       |  SELECT source,
       |         CAST($m - count(*) AS BIGINT) AS n_zero_regs,
       |         CAST(sum(CAST(1 AS BIGINT) << ($rMax - m_j)) +
       |              ($m - count(*)) * (CAST(1 AS BIGINT) << $rMax) AS BIGINT) AS s_total
       |  FROM regs GROUP BY source),
       |ex AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact FROM hs GROUP BY source)
       |SELECT source, n_exact, n_zero_regs,
       |       $num // (10000 * s_total) AS hll_estimate,
       |       abs($num // (10000 * s_total) - n_exact) * 1000 // n_exact AS err_permille
       |FROM ex JOIN sk USING (source)""".stripMargin
  }

  // ---- table profiling -----------------------------------------------------

  /** Register-value hashing for INTEGER keys needs real avalanche: an
    * affine LCG alone keeps an arithmetic progression's structured
    * trailing bits (measured +60–100% HLL error on consecutive keys),
    * and the polynomial string fold is linear in the last digit (same
    * failure, opposite sign). The profile therefore mixes with two
    * LCG-mod-BigP rounds interleaved with xor-shift folds — every step
    * is integer *, %, xor, >> that both engines evaluate identically
    * (DuckDB spells xor `xor(a,b)`). Output lives in [0, 2^31);
    * register space 2^31/64 < 2^25 ⇒ rho = 26 − len(bin(w)), cap 26.
    * Measured on consecutive/strided keys: errors inside the 13%
    * standard-error band for m = 64.
    */
  private val ProfRMax = 26

  private def mixCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x1 = (lit(1103515245L) * (v % lit(Parity.BigP)) + lit(12345L)) % lit(Parity.BigP)
    val x2 = x1.bitwiseXOR(shiftright(x1, 13))
    val x3 = (lit(69069L) * x2 + lit(1L)) % lit(Parity.BigP)
    x3.bitwiseXOR(shiftright(x3, 7))
  }

  /** PER-COLUMN PROFILE of the fact table in ONE pass: the table is
    * unpivoted (`stack`) to (column, value) rows and a single grouped
    * aggregate emits row count, null count, exact distinct count, and
    * an HLL register estimate per column — the new-source data-profiling
    * report a pipeline runs before trusting a feed.
    *
    * Scale shape: the unpivot is a narrow map (k rows out per input
    * row, no shuffle); the profile is one hash aggregate per (column,
    * register) — at most 64 register rows per column cross the final
    * exchange next to the exact-distinct verification column (which is
    * itself the thing the sketch replaces at 100 TB; drop it there and
    * the profile never shuffles more than k·64 rows). Same estimator
    * discipline as [[hllPerSource]]: integer registers over the shared
    * LCG hash, fixed-point harmonic mean, no libm.
    */
  def profileLineitem(lineitem: DataFrame): DataFrame = {
    val m = HllM
    val num = HllAlpha1e4 * m * m * (1L << ProfRMax)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    // INVARIANT: every profiled column must be integral-valued.
    // CAST(DECIMAL AS BIGINT) truncates toward zero in Spark but rounds
    // half-up in DuckDB — parity for l_quantity holds only because
    // TPC-H quantities are whole numbers. A non-integral column added
    // here must be wrapped CAST(round(c) AS BIGINT) on BOTH engines
    // (or profiled at a fixed-point scale) before it can be hashed.
    val stackArgs = cols.map(c => s"'$c', CAST($c AS BIGINT)").mkString(", ")
    val kv = lineitem.selectExpr(s"stack(${cols.length}, $stackArgs) AS (col, v)")
    val hashed = kv.select(col("col"), col("v"), mixCol(col("v")).as("h"))
    val regs = hashed
      .filter(col("v").isNotNull)
      .select(
        col("col"),
        (col("h") % m).as("j"),
        expr(s"h div $m").as("w"))
      .select(
        col("col"),
        col("j"),
        when(col("w") === 0L, lit(ProfRMax.toLong))
          .otherwise(lit(ProfRMax.toLong) - length(expr("bin(w)")))
          .as("rho"))
      .groupBy(col("col"), col("j"))
      .agg(max(col("rho")).as("m_j"))
    val sk = regs
      .groupBy(col("col"))
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($ProfRMax - m_j AS INT))")).as("s_hit"),
        count(lit(1)).as("n_hit"))
      .select(
        col("col"),
        (col("s_hit") + (lit(m.toLong) - col("n_hit")) * lit(1L << ProfRMax)).as("s_total"))
    val stats = hashed
      .groupBy(col("col"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        count_distinct(col("v")).as("n_distinct"))
    stats
      .join(sk, Seq("col"))
      .select(
        col("col").as("column"),
        col("n_rows"),
        col("n_nulls"),
        col("n_distinct"),
        expr(s"${num}L div (10000 * s_total)").as("hll_estimate"),
        expr(s"abs(${num}L div (10000 * s_total) - n_distinct) * 1000 div n_distinct")
          .as("err_permille"))
  }

  /** [[profileLineitem]] mirrored: UNION-ALL unpivot, same hash, same
    * registers, same fixed-point estimator. */
  def profileLineitemSql(): String = {
    val m = HllM
    val num = HllAlpha1e4 * m * m * (1L << ProfRMax)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    val unpivot = cols
      .map(c => s"SELECT '$c' AS col, CAST($c AS BIGINT) AS v FROM lineitem")
      .mkString("\nUNION ALL\n")
    s"""WITH kv AS (
       |$unpivot),
       |h1 AS (SELECT col, v, (1103515245 * (v % ${Parity.BigP}) + 12345) % ${Parity.BigP} AS x FROM kv),
       |h2 AS (SELECT col, v, xor(x, x >> 13) AS x FROM h1),
       |h3 AS (SELECT col, v, (69069 * x + 1) % ${Parity.BigP} AS x FROM h2),
       |hs AS (SELECT col, v, xor(x, x >> 7) AS h FROM h3),
       |rho AS (
       |  SELECT col, h % $m AS j,
       |         CASE WHEN h // $m = 0 THEN $ProfRMax
       |              ELSE $ProfRMax - length(bin(h // $m)) END AS rho
       |  FROM hs WHERE v IS NOT NULL),
       |regs AS (SELECT col, j, max(rho) AS m_j FROM rho GROUP BY col, j),
       |sk AS (
       |  SELECT col,
       |         CAST(sum(CAST(1 AS BIGINT) << ($ProfRMax - m_j)) +
       |              ($m - count(*)) * (CAST(1 AS BIGINT) << $ProfRMax) AS BIGINT) AS s_total
       |  FROM regs GROUP BY col),
       |st AS (
       |  SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |         CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
       |  FROM hs GROUP BY col)
       |SELECT col AS "column", n_rows, n_nulls, n_distinct,
       |       $num // (10000 * s_total) AS hll_estimate,
       |       abs($num // (10000 * s_total) - n_distinct) * 1000 // n_distinct AS err_permille
       |FROM st JOIN sk USING (col)
       |ORDER BY "column"""".stripMargin
  }

  /** [[kmvPerSource]], mirrored on the same hash and estimator. */
  def kmvPerSourceSql(k: Int = 64): String = {
    val space = Parity.TokP * Parity.TokP2
    val h = Parity.tokenH40Sql("t")
    s"""WITH tok AS (
       |  SELECT source, unnest(${Parity.tokensSql("text")}) AS t FROM documents),
       |pair AS (SELECT DISTINCT source, $h AS h FROM tok),
       |ranked AS (
       |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM pair),
       |mins AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_mins, max(h) AS kth_hash
       |  FROM ranked WHERE rn <= $k GROUP BY source),
       |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM pair GROUP BY source)
       |SELECT source, n_exact, n_mins, kth_hash,
       |       CASE WHEN n_mins < $k THEN n_mins
       |            ELSE (${k - 1} * $space) // kth_hash END AS kmv_estimate
       |FROM mins JOIN ex USING (source)""".stripMargin
  }

  // ---- Poisson-bootstrap confidence intervals ------------------------------

  /** Bootstrap resample count. */
  val BootB = 32

  /** Cumulative Poisson(1) probabilities P(X ≤ k), k = 0..7 — the
    * inverse-CDF thresholds of the Poisson bootstrap (weight = number
    * of thresholds at or below the draw; mass beyond 8 is < 1e-9).
    * Computed once; the IDENTICAL doubles are embedded as literals in
    * both engines (shortest-round-trip formatting), so the weights are
    * bit-deterministic.
    */
  private[operators] val PoissonCum: Seq[Double] = {
    var fact = 1.0
    var sum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      sum += 1.0 / fact
      sum * math.exp(-1.0)
    }
  }

  /** Poisson-bootstrap CI for the corpus mean tokens-per-document
    * (Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams" — the bootstrap that needs NO resampled copies of the
    * data): every document draws [[BootB]] independent Poisson(1)
    * weights from salted hash-grid uniforms, giving B simultaneous
    * resample means from ONE corpus scan — 2B+2 integer sums, all
    * map-side partial, one output row. The CI is the 2nd-smallest /
    * 2nd-largest resample mean (≈ 94% coverage at B = 32), read by
    * sorting the 32-element mean array inside the projection.
    *
    * This is how a curation pipeline reports corpus metrics with
    * uncertainty at 100 TB: no shuffle of the data, no second pass, no
    * driver-side resampling.
    */
  def bootstrapTokensCi(docs: DataFrame, b: Int = BootB): DataFrame = {
    require(b >= 4 && b <= 64, s"resamples in [4, 64], got $b")
    val nt = size(Parity.tokens(col("text"))).cast("long").as("nt")
    val weightCols = (0 until b).map { i =>
      val seed = 100L + i
      val u = (pmod(
        (pmod(col("doc_id"), lit(2147483648L)) + lit(seed)) * lit(2654435761L),
        lit(1000000007L)) + 1L).cast("double") / lit(1000000008.0d)
      PoissonCum.map(c => when(u >= lit(c), 1L).otherwise(0L)).reduce(_ + _).as(s"w$i")
    }
    val base = docs.select(nt +: weightCols: _*)
    val aggs = count(lit(1)).as("n_docs") +: sum(col("nt")).as("tot") +:
      (0 until b).flatMap(i =>
        Seq(sum(col(s"w$i") * col("nt")).as(s"s$i"), sum(col(s"w$i")).as(s"c$i")))
    val means = array((0 until b).map(i =>
      round(col(s"s$i").cast("double") / greatest(col(s"c$i"), lit(1L)).cast("double"), 6)): _*)
    base
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n_docs"),
        round(col("tot").cast("double") / col("n_docs").cast("double"), 6).as("mean_tokens"),
        element_at(array_sort(means), 2).as("ci_lo"),
        element_at(array_sort(means), b - 1).as("ci_hi"))
  }

  /** [[bootstrapTokensCi]] mirrored — same thresholds, same hash grid,
    * same sorted-array CI read.
    */
  def bootstrapTokensCiSql(b: Int = BootB): String = {
    val toksSql = Parity.tokensSql("text")
    val ws = (0 until b)
      .map { i =>
        val seed = 100L + i
        val u = s"((((doc_id % 2147483648 + 2147483648) % 2147483648 + $seed) " +
          s"* 2654435761) % 1000000007 + 1) / 1000000008.0"
        PoissonCum
          .map(c => s"(CASE WHEN $u >= $c THEN 1 ELSE 0 END)")
          .mkString("(", " + ", s") AS w$i")
      }
      .mkString(",\n         ")
    val sums = (0 until b)
      .map(i => s"CAST(sum(w$i * nt) AS BIGINT) AS s$i, CAST(sum(w$i) AS BIGINT) AS c$i")
      .mkString(",\n         ")
    val meanList = (0 until b)
      .map(i => s"round(CAST(s$i AS DOUBLE) / CAST(greatest(c$i, 1) AS DOUBLE), 6)")
      .mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
       |w AS (SELECT nt,
       |         $ws
       |      FROM d),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS tot,
       |         $sums
       |      FROM w),
       |m AS (SELECT n_docs, tot, list_sort($meanList) AS ms FROM a)
       |SELECT n_docs, round(CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens,
       |       ms[2] AS ci_lo, ms[${b - 1}] AS ci_hi
       |FROM m""".stripMargin
  }

  // ---- Bloom filter accuracy ------------------------------------------------

  /** Bloom bit-array size (power of two) and hash count. */
  val BloomM = 131072L
  val BloomK = 3

  /** Measured Bloom-filter false-positive rate next to the textbook
    * prediction `(1 − (1−1/m)^{kn})^k` — the estimator-quality row for
    * the remaining sketch family ([[cmsHeavyHitters]] measures CMS
    * overcount, [[hllPerSource]] HLL error, [[groupByCardKmv]] KMV;
    * `bloom_semi_join` USES a Bloom filter, this row calibrates one).
    * Members are the even order keys, probes the odd ones — disjoint by
    * construction, so every probe hit is a false positive.
    *
    * Determinism: bit positions are the shared LCG permutation hashes
    * mod [[BloomM]]; the measured side is pure integer counting; the
    * prediction is ONE fixed double expression.
    *
    * Scale shape: the filter is built as a DISTINCT bit-position table
    * (k narrow maps + one distinct ≤ m rows); probes explode to k
    * (probe, position) rows and left-join the bit table keyed on
    * position; one final aggregate. Nothing is all-pairs; the bit table
    * is bounded by m.
    *
    * Output: one row `(n_members, n_probes, m, k, bits_set, fp_count,
    * fpp_ppm, theory_ppm)`.
    */
  def bloomFpp(orders: DataFrame): DataFrame = {
    import graft.functions.Parity
    val keys = orders.select(col("o_orderkey").cast("long").as("x")).distinct()
    // avalanche-mix each key ONCE before deriving the k positions: an
    // affine LCG alone keeps the consecutive-orderkey lattice structure
    // and the measured FPP lands 7× over the independence prediction
    // (same failure mixCol documents for the HLL registers)
    val members = keys.filter(col("x") % 2 === 0L).select(mixCol(col("x")).as("mx"))
    val probes = keys.filter(col("x") % 2 === 1L).select(col("x"), mixCol(col("x")).as("mx"))
    def pos(i: Int, x: org.apache.spark.sql.Column) =
      (lit(Parity.permA(i)) * x + lit(Parity.permB(i))) % lit(Parity.BigP) % lit(BloomM)
    val bits = members
      .select(explode(array((0 until BloomK).map(i => pos(i, col("mx"))): _*)).as("b"))
      .distinct()
      .withColumn("set", lit(1L))
    val nM = members.agg(count(lit(1)).as("n_members"))
    val probeHits = probes
      .select(col("x"), explode(array((0 until BloomK).map(i => pos(i, col("mx"))): _*)).as("b"))
      .join(bits, Seq("b"), "left")
      .groupBy(col("x"))
      .agg(min(coalesce(col("set"), lit(0L))).as("all_set"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(col("all_set")).as("fp_count"))
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    probeHits
      .crossJoin(broadcast(nM))
      .crossJoin(broadcast(nBits))
      .select(
        col("n_members"),
        col("n_probes"),
        lit(BloomM).as("m"),
        lit(BloomK.toLong).as("k"),
        col("bits_set"),
        col("fp_count"),
        expr("fp_count * 1000000 div n_probes").as("fpp_ppm"),
        // exp(e·ln b) instead of pow(b, e): big-exponent pow() diverges
        // between libms (552079 vs 552029 ppm at sf0.1); ln/exp agree,
        // and the outer cube is explicit multiplication
        expr(
          s"CAST(round((CAST(1 AS DOUBLE) - exp($BloomK * CAST(n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * (CAST(1 AS DOUBLE) - exp($BloomK * CAST(n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * (CAST(1 AS DOUBLE) - exp($BloomK * CAST(n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * 1000000) AS BIGINT)")
          .as("theory_ppm"))
  }

  /** [[bloomFpp]] mirrored. */
  def bloomFppSql(): String = {
    import graft.functions.Parity
    def pos(i: Int, x: String) =
      s"(${Parity.permA(i)} * $x + ${Parity.permB(i)}) % ${Parity.BigP} % $BloomM"
    val mixCtes =
      s"""m1 AS (SELECT x, (1103515245 * (x % ${Parity.BigP}) + 12345) % ${Parity.BigP} AS x1 FROM keys),
         |m2 AS (SELECT x, xor(x1, x1 >> 13) AS x2 FROM m1),
         |m3 AS (SELECT x, (69069 * x2 + 1) % ${Parity.BigP} AS x3 FROM m2),
         |mixed AS (SELECT x, xor(x3, x3 >> 7) AS mx FROM m3)""".stripMargin
    val memberPos =
      (0 until BloomK).map(i => s"SELECT ${pos(i, "mx")} AS b FROM members").mkString(" UNION ALL ")
    val probePos =
      (0 until BloomK)
        .map(i => s"SELECT x, ${pos(i, "mx")} AS b FROM probes")
        .mkString(" UNION ALL ")
    s"""WITH keys AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS x FROM orders),
       |$mixCtes,
       |members AS (SELECT mx FROM mixed WHERE x % 2 = 0),
       |probes AS (SELECT x, mx FROM mixed WHERE x % 2 = 1),
       |bits AS (SELECT DISTINCT b FROM ($memberPos)),
       |ph AS (
       |  SELECT p.x, min(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END) AS all_set
       |  FROM ($probePos) p LEFT JOIN bits ON bits.b = p.b
       |  GROUP BY p.x),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |         CAST(sum(all_set) AS BIGINT) AS fp_count
       |  FROM ph),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM members),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
       |SELECT nm.n_members, agg.n_probes,
       |       CAST($BloomM AS BIGINT) AS m, CAST($BloomK AS BIGINT) AS k,
       |       nb.bits_set, agg.fp_count,
       |       agg.fp_count * 1000000 // agg.n_probes AS fpp_ppm,
       |       CAST(round((CAST(1 AS DOUBLE) - exp($BloomK * CAST(nm.n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * (CAST(1 AS DOUBLE) - exp($BloomK * CAST(nm.n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * (CAST(1 AS DOUBLE) - exp($BloomK * CAST(nm.n_members AS DOUBLE) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $BloomM))) * 1000000) AS BIGINT) AS theory_ppm
       |FROM agg CROSS JOIN nm CROSS JOIN nb""".stripMargin
  }

  // ---- join-order choice from the statistics --------------------------------

  /** The optimizer decision the statistics exist FOR: given the 3-table
    * chain customer ⨝(custkey) orders ⨝(orderkey) lineitem, estimate
    * each candidate first join with the System-R uniform formula
    * `|A|·|B| / max(ndv_A, ndv_B)` (cross products cost the raw
    * product), measure the TRUE size of each candidate exactly, and
    * mark the chosen (minimum-estimate) start. With three relations the
    * Selinger DP degenerates to exactly this first-join choice, so the
    * row shows the decision AND the estimator error that drives it —
    * the companion of `join_size_cms` (sketch estimate) and
    * `opt_selectivity_hist` (filter estimate).
    *
    * Exactness: the true equi-join sizes come from Σ_k cntA(k)·cntB(k)
    * over per-key count histograms (one keyed aggregate per side, one
    * keyed join — the join is COUNTED, never materialized); the true
    * cross size is the arithmetic product. All integers.
    *
    * Output: 3 rows `(first_join, est_rows, actual_rows, err_ppm,
    * chosen)`.
    */
  def joinOrderChoice(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val c = customer.agg(
      count(lit(1)).as("cn"),
      countDistinct(col("c_custkey")).as("c_ndv"))
    val o = orders.agg(
      count(lit(1)).as("on"),
      countDistinct(col("o_custkey")).as("o_ndv_ck"),
      countDistinct(col("o_orderkey")).as("o_ndv_ok"))
    val l = lineitem.agg(
      count(lit(1)).as("ln"),
      countDistinct(col("l_orderkey")).as("l_ndv"))
    val actCO = customer
      .groupBy(col("c_custkey").as("k"))
      .agg(count(lit(1)).as("a"))
      .join(orders.groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("b")), Seq("k"))
      .agg(coalesce(sum(col("a") * col("b")), lit(0L)).as("act_co"))
    val actOL = orders
      .groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("a"))
      .join(lineitem.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("b")), Seq("k"))
      .agg(coalesce(sum(col("a") * col("b")), lit(0L)).as("act_ol"))
    c.crossJoin(broadcast(o))
      .crossJoin(broadcast(l))
      .crossJoin(broadcast(actCO))
      .crossJoin(broadcast(actOL))
      .withColumn("est_co", expr("cn * on div greatest(c_ndv, o_ndv_ck)"))
      .withColumn("est_ol", expr("on * ln div greatest(o_ndv_ok, l_ndv)"))
      .withColumn("est_cl", expr("cn * ln"))
      // exactly ONE candidate is chosen under every tie pattern: rank by
      // (est_rows, fixed candidate order co < ol < cl) — co wins any tie
      // it is part of, ol beats only cl on a tie, cl must win strictly
      .select(explode(array(
        struct(
          lit("customer*orders").as("first_join"),
          col("est_co").as("est_rows"),
          col("act_co").as("actual_rows"),
          (col("est_co") <= col("est_ol") && col("est_co") <= col("est_cl")).as("chosen")),
        struct(
          lit("orders*lineitem").as("first_join"),
          col("est_ol").as("est_rows"),
          col("act_ol").as("actual_rows"),
          (col("est_ol") < col("est_co") && col("est_ol") <= col("est_cl")).as("chosen")),
        struct(
          lit("customer*lineitem").as("first_join"),
          col("est_cl").as("est_rows"),
          col("est_cl").as("actual_rows"),
          (col("est_cl") < col("est_co") && col("est_cl") < col("est_ol")).as("chosen")))).as("s"))
      .select(col("s.first_join"), col("s.est_rows"), col("s.actual_rows"), col("s.chosen"))
      .withColumn("err_ppm",
        expr("abs(est_rows - actual_rows) * 1000000 div greatest(actual_rows, 1)"))
      .select(col("first_join"), col("est_rows"), col("actual_rows"), col("err_ppm"), col("chosen"))
  }

  /** [[joinOrderChoice]] mirrored. */
  def joinOrderChoiceSql(): String =
    s"""WITH c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS cn,
       |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS c_ndv
       |  FROM customer),
       |o AS (
       |  SELECT CAST(count(*) AS BIGINT) AS onn,
       |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_ndv_ck,
       |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS o_ndv_ok
       |  FROM orders),
       |l AS (
       |  SELECT CAST(count(*) AS BIGINT) AS lnn,
       |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS l_ndv
       |  FROM lineitem),
       |aco AS (
       |  SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS act_co
       |  FROM (SELECT c_custkey AS k, count(*) AS n FROM customer GROUP BY 1) a
       |  JOIN (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) b USING (k)),
       |aol AS (
       |  SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS act_ol
       |  FROM (SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1) a
       |  JOIN (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1) b USING (k)),
       |e AS (
       |  SELECT cn * onn // greatest(c_ndv, o_ndv_ck) AS est_co,
       |         onn * lnn // greatest(o_ndv_ok, l_ndv) AS est_ol,
       |         cn * lnn AS est_cl, act_co, act_ol
       |  FROM c CROSS JOIN o CROSS JOIN l CROSS JOIN aco CROSS JOIN aol),
       |rows0 AS (
       |  SELECT 'customer*orders' AS first_join, est_co AS est_rows, act_co AS actual_rows,
       |         est_co <= est_ol AND est_co <= est_cl AS chosen FROM e
       |  UNION ALL
       |  SELECT 'orders*lineitem', est_ol, act_ol,
       |         est_ol < est_co AND est_ol <= est_cl FROM e
       |  UNION ALL
       |  SELECT 'customer*lineitem', est_cl, est_cl,
       |         est_cl < est_co AND est_cl < est_ol FROM e)
       |SELECT first_join, est_rows, actual_rows,
       |       abs(est_rows - actual_rows) * 1000000 // greatest(actual_rows, 1) AS err_ppm,
       |       chosen
       |FROM rows0""".stripMargin
}
