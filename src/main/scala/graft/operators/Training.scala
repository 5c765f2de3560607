package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed model training as engine queries: the two canonical
  * full-batch shapes — a closed-form linear solve and fixed-round
  * gradient descent — each reduced to sufficient statistics that
  * aggregate with map-side partials, so the only thing that ever
  * crosses an exchange is O(features²) numbers per task, whatever the
  * row count.
  *
  * Engine portability (the house discipline): every per-row
  * contribution is rounded to an integer BEFORE it is summed — integer
  * sums are order-independent, so the reduction tree Spark picks (or
  * DuckDB's single-threaded fold) cannot change the answer. The only
  * floating-point arithmetic is on the aggregated statistics, where
  * both engines evaluate the identical expression once. No exp/log —
  * the logistic link uses the rational "fast sigmoid"
  * `σ(z) ≈ 0.5 + z / (2·(1+|z|))`, which is pure +,·,/ and therefore
  * bit-identical cross-engine (libm's exp is not).
  */
object Training {

  // ---- OLS via normal equations -------------------------------------------

  /** The 3×3 Cramer solve over the aggregated normal-equation sums,
    * shared textually between the Spark plan and the DuckDB oracle (the
    * fragment is dialect-neutral: CAST + arithmetic). Columns expected
    * in scope: n, sq, sd, sqq, sqd, sdd, sy, sqy, sdy (exact integer
    * sums; y carried in milli-units).
    */
  private val linregDoubles: String =
    """CAST(n AS DOUBLE) AS a11, CAST(sq AS DOUBLE) AS a12, CAST(sd AS DOUBLE) AS a13,
      |CAST(sqq AS DOUBLE) AS a22, CAST(sqd AS DOUBLE) AS a23, CAST(sdd AS DOUBLE) AS a33,
      |CAST(sy AS DOUBLE) AS c1, CAST(sqy AS DOUBLE) AS c2, CAST(sdy AS DOUBLE) AS c3""".stripMargin

  private val linregDet: String =
    "(a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13))"
  private val linregDet0: String =
    "(c1 * (a22 * a33 - a23 * a23) - a12 * (c2 * a33 - a23 * c3) + a13 * (c2 * a23 - a22 * c3))"
  private val linregDet1: String =
    "(a11 * (c2 * a33 - a23 * c3) - c1 * (a12 * a33 - a23 * a13) + a13 * (a12 * c3 - c2 * a13))"
  private val linregDet2: String =
    "(a11 * (a22 * c3 - c2 * a23) - a12 * (a12 * c3 - c2 * a13) + c1 * (a12 * a23 - a22 * a13))"

  /** Betas come out in milli-price units (y was scaled by 1000) → /1000;
    * the +1e-9 nudge before round(…, 6) is the engine's established
    * tie-dodge for cross-engine decimal rounding of doubles.
    */
  private def beta(det: String): String = s"round($det / $linregDet / 1000.0 + 1e-9, 6)"

  /** Ordinary least squares `l_extendedprice ~ b0 + b1·l_quantity +
    * b2·(100·l_discount)`, solved in closed form via the normal
    * equations: ONE aggregation computes the 9 sufficient statistics
    * (n, Σx_i, Σx_i·x_j, Σx_i·y), the 3×3 system is solved by Cramer's
    * rule on the aggregated row. This is how a linear model trains at
    * 100 TB — the data is touched once, the exchange carries 9 numbers,
    * and there is no iteration.
    *
    * Determinism: features are exact integers (quantity is integral,
    * discount is percent points, the target is rounded to milli-units),
    * so the statistics are exact 64-bit sums — identical in any
    * aggregation order — and the double Cramer solve runs once on
    * identical inputs. Sum magnitudes stay < 2^53 through SF 1; beyond
    * that the sums switch to DECIMAL(38,0) (Spark and DuckDB both sum
    * decimals exactly) — a type change, not a shape change.
    *
    * Output: one row `(n_rows, beta0, beta1, beta2)`.
    */
  def linregNormal(lineitem: DataFrame): DataFrame = {
    val sums = lineitem
      .select(
        expr("CAST(l_quantity AS BIGINT)").as("q"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("d"),
        expr("CAST(round(l_extendedprice * 1000) AS BIGINT)").as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sq"),
        sum(col("d")).as("sd"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("q") * col("d")).as("sqd"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("y")).as("sy"),
        sum(col("q") * col("y")).as("sqy"),
        sum(col("d") * col("y")).as("sdy"))
    sums
      .select(col("n") +: linregDoubles.split(",").map(s => expr(s.trim)): _*)
      .select(
        col("n").as("n_rows"),
        expr(beta(linregDet0)).as("beta0"),
        expr(beta(linregDet1)).as("beta1"),
        expr(beta(linregDet2)).as("beta2"))
  }

  /** [[linregNormal]] mirrored: same integer statistics, same Cramer
    * text. */
  def linregNormalSql: String =
    s"""WITH f AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |         CAST(round(l_discount * 100) AS BIGINT) AS d,
       |         CAST(round(l_extendedprice * 1000) AS BIGINT) AS y
       |  FROM lineitem),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(d) AS BIGINT) AS sd,
       |         CAST(sum(q * q) AS BIGINT) AS sqq, CAST(sum(q * d) AS BIGINT) AS sqd,
       |         CAST(sum(d * d) AS BIGINT) AS sdd,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(q * y) AS BIGINT) AS sqy, CAST(sum(d * y) AS BIGINT) AS sdy
       |  FROM f),
       |m AS (SELECT n, $linregDoubles FROM sums)
       |SELECT n AS n_rows,
       |       ${beta(linregDet0)} AS beta0,
       |       ${beta(linregDet1)} AS beta1,
       |       ${beta(linregDet2)} AS beta2
       |FROM m""".stripMargin

  // ---- logistic regression via fixed-round gradient descent ---------------

  /** Learning-rate denominator: w ← w − round(grad_sum / (LrDen · n)),
    * i.e. a 0.1 step on the MEAN gradient. round() (half away from
    * zero) instead of integer div because gradients are signed and
    * Spark's `div` truncates while DuckDB's `//` floors — they disagree
    * on negatives.
    */
  val LogregLrDen = 10.0

  /** Long-document label threshold (chars). The corpus' `lang` column
    * carries NO feature signal (measured: en and non-en have identical
    * token/char statistics — it is assigned independently of the text),
    * so the trained demonstration predicts a label with a real monotone
    * relation to the features: document length.
    */
  val LogregLenThreshold = 300L

  /** Feature/label extraction: predict "is long document" from token
    * count and 'e'-character count, both CENTERED by their integer
    * means (two passes; the means use `div`, which both engines agree
    * on for non-negative sums). Centering is what makes full-batch GD
    * converge in 3 rounds — with raw features the intercept direction
    * is so badly conditioned the model stalls at the majority class
    * (measured 51% vs 98% centered). Integer features in, integers
    * out — the determinism anchor.
    */
  private def logregRaw(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"CASE WHEN n_chars > $LogregLenThreshold THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .as("y"),
      size(graft.functions.Parity.tokens(col("text"))).cast("long").as("x1r"),
      expr("CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT)").as("x2r"))

  /** Integer feature means (one 1-row aggregate, collected — the same
    * scalar-control category as a convergence counter).
    */
  private def logregMeans(raw: DataFrame): (Long, Long) = {
    val r = raw
      .agg(
        expr("sum(x1r) div count(*)").as("m1"),
        expr("sum(x2r) div count(*)").as("m2"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def logregFeatures(docs: DataFrame): DataFrame = {
    val raw = logregRaw(docs)
    val (m1, m2) = logregMeans(raw)
    raw.select(col("y"), (col("x1r") - lit(m1)).as("x1"), (col("x2r") - lit(m2)).as("x2"))
  }

  /** Shared oracle CTE chain: raw integer features (with doc_id), the
    * integer means, the centered frame, and the unrolled GD rounds —
    * both the trainer's and the stored-apply's oracle build on it.
    */
  /** The raw integer-feature CTE body (doc_id, y, x1r, x2r) — shared by
    * the training chain and the cross-validation eval scan.
    */
  private def logregRawSql(toksSql: String): String =
    s"""SELECT doc_id,
       |         CASE WHEN n_chars > $LogregLenThreshold THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y,
       |         CAST(len($toksSql) AS BIGINT) AS x1r,
       |         CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x2r
       |  FROM documents""".stripMargin

  /** `sfx` suffixes every CTE name (so several independent training
    * chains — e.g. one per CV fold — can share one WITH); `rawWhere`
    * restricts the training rows (" WHERE ..." text). Defaults keep the
    * original names and the full corpus.
    */
  private def logregCtes(
      toksSql: String,
      iters: Int,
      sfx: String = "",
      rawWhere: String = ""): String = {
    def grad(prev: String, k: Int): String = {
      val r = residual(s"w.w0", s"w.w1", s"w.w2")
      s"""g$k$sfx AS (
         |  SELECT w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2, nn$sfx.n AS n,
         |         CAST(sum(CAST(round($r * 1000000) AS BIGINT)) AS BIGINT) AS g0,
         |         CAST(sum(CAST(round($r * x1 * 1000000) AS BIGINT)) AS BIGINT) AS g1,
         |         CAST(sum(CAST(round($r * x2 * 1000000) AS BIGINT)) AS BIGINT) AS g2
         |  FROM f$sfx CROSS JOIN $prev w CROSS JOIN nn$sfx
         |  GROUP BY w.w0, w.w1, w.w2, nn$sfx.n),
         |w$k$sfx AS (
         |  SELECT pw0 - CAST(round(CAST(g0 AS DOUBLE) / ($LogregLrDen * n)) AS BIGINT) AS w0,
         |         pw1 - CAST(round(CAST(g1 AS DOUBLE) / ($LogregLrDen * n)) AS BIGINT) AS w1,
         |         pw2 - CAST(round(CAST(g2 AS DOUBLE) / ($LogregLrDen * n)) AS BIGINT) AS w2
         |  FROM g$k$sfx)""".stripMargin
    }
    val rounds = (1 to iters).map(k => grad(s"w${k - 1}$sfx", k)).mkString(",\n")
    s"""WITH raw$sfx AS (
       |  ${logregRawSql(toksSql)}$rawWhere),
       |mm$sfx AS (
       |  SELECT CAST(sum(x1r) // count(*) AS BIGINT) AS m1,
       |         CAST(sum(x2r) // count(*) AS BIGINT) AS m2
       |  FROM raw$sfx),
       |f$sfx AS (SELECT y, x1r - mm$sfx.m1 AS x1, x2r - mm$sfx.m2 AS x2 FROM raw$sfx CROSS JOIN mm$sfx),
       |nn$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f$sfx),
       |w0$sfx AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2),
       |$rounds""".stripMargin
  }

  /** `p − y` under the fast sigmoid at weights (micro-units) w0,w1,w2 —
    * dialect-neutral fragment over columns y, x1, x2 and a double `z`.
    */
  private def residual(w0: String, w1: String, w2: String): String = {
    val z = s"(CAST($w0 + $w1 * x1 + $w2 * x2 AS DOUBLE) / 1000000.0)"
    s"(0.5 + $z / (2.0 * (1.0 + abs($z))) - CAST(y AS DOUBLE))"
  }

  /** Full-batch logistic regression by `iters` rounds of synchronous
    * gradient descent, weights carried in integer micro-units. Each
    * round is ONE aggregation: the per-row gradient contribution
    * `(σ(w·x) − y)·x_j` is rounded to micro-units and summed per
    * feature (map-side partial — 3 longs cross the exchange), then the
    * driver applies `w_j ← w_j − round(Σ/(10·n))` — the scalar control
    * read every iterative operator here uses (the SSSP convergence
    * counter pattern). At scale the same loop runs mini-batched per
    * round; the aggregate shape is unchanged.
    *
    * σ is the rational fast sigmoid (no exp — see object doc), and the
    * micro-unit rounding makes every gradient an exact integer, so the
    * trained weights are bit-identical to the unrolled DuckDB oracle.
    *
    * Output: one row `(n_rows, w0_micro, w1_micro, w2_micro,
    * n_correct)` — weights after `iters` rounds plus the training-set
    * accuracy count under the final weights (`p > 0.5 ⇔ z > 0`).
    */
  /** The GD loop over a (y, x1, x2) feature frame: one gradient
    * aggregate per round, scalar driver update. Shared by the in-query
    * trainer and the stored-model writer.
    */
  private def trainWeights(f: DataFrame, n: Long, iters: Int): Array[Long] = {
    var w = Array(0L, 0L, 0L)
    (1 to iters).foreach { _ =>
      val r = residual(s"${w(0)}", s"${w(1)}", s"${w(2)}")
      val g = f
        .agg(
          sum(expr(s"CAST(round($r * 1000000) AS BIGINT)")).as("g0"),
          sum(expr(s"CAST(round($r * x1 * 1000000) AS BIGINT)")).as("g1"),
          sum(expr(s"CAST(round($r * x2 * 1000000) AS BIGINT)")).as("g2"))
        .head()
      // MicroInts.round0 (HALF_UP), NOT math.round: Scala's math.round
      // is half-toward-+infinity, which disagrees with Spark SQL round()
      // and DuckDB round() (both half away from zero) on negative .5
      // means — a signed mean gradient landing exactly on one would
      // silently de-sync the trained weights from the oracle
      w = w.zipWithIndex.map { case (wj, j) =>
        wj - graft.functions.MicroInts.round0(g.getLong(j).toDouble / (LogregLrDen * n))
      }
    }
    w
  }

  def logregGd(docs: DataFrame, iters: Int = 3): DataFrame = {
    val f = logregFeatures(docs).persist()
    val n = f.count()
    val w = trainWeights(f, n, iters)
    val z = s"(CAST(${w(0)} + ${w(1)} * x1 + ${w(2)} * x2 AS DOUBLE) / 1000000.0)"
    val out = f.agg(
      count(lit(1)).as("n_rows"),
      lit(w(0)).as("w0_micro"),
      lit(w(1)).as("w1_micro"),
      lit(w(2)).as("w2_micro"),
      sum(expr(s"CASE WHEN ($z > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("n_correct"))
    f.unpersist()
    out
  }

  /** Train on `docs` and persist the model artifact — weights AND the
    * feature means they were trained against (a centered model scores
    * garbage without its centering constants; they are part of the
    * model, the classic serving-skew bug). One tiny parquet row.
    */
  def writeLogregModel(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      iters: Int = 3): String = {
    import spark.implicits._
    val raw = logregRaw(docs).persist()
    val (m1, m2) = logregMeans(raw)
    val f = raw.select(col("y"), (col("x1r") - lit(m1)).as("x1"), (col("x2r") - lit(m2)).as("x2"))
    val n = raw.count()
    val w = trainWeights(f, n, iters)
    raw.unpersist()
    val dir = graft.sources.Staging.freshDir("logreg-model")
    Seq((w(0), w(1), w(2), m1, m2))
      .toDF("w0", "w1", "w2", "m1", "m2")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
    dir
  }

  /** The production apply path: READ the stored weights (never the
    * training pass) and score every document. The score
    * `z = w0 + w1·(x1−m1) + w2·(x2−m2)` is an exact 64-bit integer in
    * micro-units — no doubles anywhere in serving — and the plan is one
    * corpus scan + projection: no gradient aggregate, no mean
    * aggregate, no training stage of any kind (pinned in
    * PlanAuditSpec). Output per doc: `(doc_id, label, score_micro,
    * pred)`.
    */
  def logregApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String): DataFrame = {
    val m = spark.read.parquet(modelDir).head()
    val (w0, w1, w2, m1, m2) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3), m.getLong(4))
    logregRaw(docs).select(
      col("doc_id"),
      col("y").as("label"),
      (lit(w0) + lit(w1) * (col("x1r") - lit(m1)) + lit(w2) * (col("x2r") - lit(m2)))
        .as("score_micro"),
      expr(s"CASE WHEN $w0 + $w1 * (x1r - $m1) + $w2 * (x2r - $m2) > 0 " +
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("pred"))
  }

  /** [[logregApplyStored]]'s oracle: the training CTEs reproduce the
    * stored weights (bit-identical — proven by train_logreg), then the
    * integer score is applied per document.
    */
  def logregApplyStoredSql(toksSql: String, iters: Int = 3): String = {
    val ctes = logregCtes(toksSql, iters)
    s"""$ctes
       |SELECT r.doc_id, r.y AS label,
       |       w.w0 + w.w1 * (r.x1r - mm.m1) + w.w2 * (r.x2r - mm.m2) AS score_micro,
       |       CASE WHEN w.w0 + w.w1 * (r.x1r - mm.m1) + w.w2 * (r.x2r - mm.m2) > 0
       |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred
       |FROM raw r CROSS JOIN w$iters w CROSS JOIN mm
       |ORDER BY r.doc_id""".stripMargin
  }

  /** [[logregGd]] with the driver loop unrolled: iteration k's weights
    * are a 1-row CTE cross-joined into iteration k+1's gradient
    * aggregate — textually the same residual, rounding, and update
    * arithmetic.
    */
  def logregGdSql(toksSql: String, iters: Int = 3): String = {
    val zf = s"(CAST(w.w0 + w.w1 * x1 + w.w2 * x2 AS DOUBLE) / 1000000.0)"
    s"""${logregCtes(toksSql, iters)}
       |SELECT nn.n AS n_rows, w.w0 AS w0_micro, w.w1 AS w1_micro, w.w2 AS w2_micro,
       |       CAST(sum(CASE WHEN ($zf > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM f CROSS JOIN w$iters w CROSS JOIN nn
       |GROUP BY nn.n, w.w0, w.w1, w.w2""".stripMargin
  }

  // ---- fastText-style hashed-feature quality classifier -------------------

  /** Hashed-feature bucket count for the bag-of-tokens classifier
    * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification": hash the vocabulary into a FIXED feature width so
    * the model size never depends on the corpus). 16 buckets keeps the
    * unrolled cross-engine oracle tractable; the plan shape is
    * width-independent (one conditional-sum aggregate row per doc).
    */
  val FtDim = 16
  val FtIters = 5

  /** Per-doc label + hashed bag-of-tokens features:
    * y = "stopword-dense prose" (≥ 1/14 ≈ 7% stopwords — the median of
    * the harness corpus, so the label is balanced; in production this
    * is the quality label distilled from a teacher signal),
    * x(j) = # tokens hashing into bucket j under the shared 40-bit
    * token hash mod [[FtDim]]. One explode + one per-doc conditional-sum
    * aggregate; token-less docs keep all-zero features via the outer
    * join. Everything integer — exact on both engines.
    */
  private def ftRaw(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      graft.functions.Parity.tokens(col("text")).as("ts"))
    val lab = base.select(
      col("doc_id"),
      when(
        size(col("ts")) > 0 &&
          size(filter(col("ts"), t => t.isin(TextOps.Stopwords: _*))) * 14 >= size(col("ts")),
        lit(1L)).otherwise(lit(0L)).as("y"))
    val buckets = base
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .select(col("doc_id"), pmod(graft.functions.Parity.tokenH40(col("t")), lit(FtDim)).as("b"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("x1r"),
        (1 until FtDim).map(j =>
          sum(when(col("b") === j, 1L).otherwise(0L)).as(s"x${j + 1}r")): _*)
    lab
      .join(buckets, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id") +: col("y") +:
          (1 to FtDim).map(j => coalesce(col(s"x${j}r"), lit(0L)).as(s"x${j}r")): _*)
  }

  private def ftMeans(raw: DataFrame): Array[Long] = {
    val r = raw
      .agg(
        expr("sum(x1r) div count(*)").as("m1"),
        (2 to FtDim).map(j => expr(s"sum(x${j}r) div count(*)").as(s"m$j")): _*)
      .head()
    (0 until FtDim).map(r.getLong).toArray
  }

  /** `p − y` under the fast sigmoid at the given micro-unit weight
    * fragments (intercept first) over columns y, x1..x[[FtDim]].
    */
  private def ftResidual(ws: Seq[String]): String = {
    val lin = ws.head + ws.tail.zipWithIndex
      .map { case (w, i) => s" + $w * x${i + 1}" }
      .mkString
    val z = s"(CAST($lin AS DOUBLE) / 1000000.0)"
    s"(0.5 + $z / (2.0 * (1.0 + abs($z))) - CAST(y AS DOUBLE))"
  }

  /** [[trainWeights]] at [[FtDim]]+1 weights: one gradient aggregate per
    * round ([[FtDim]]+1 exact-integer sums, map-side partial), scalar
    * driver update — identical discipline, wider vector.
    */
  private def ftTrainWeights(f: DataFrame, n: Long, iters: Int): Array[Long] = {
    var w = Array.fill(FtDim + 1)(0L)
    (1 to iters).foreach { _ =>
      val r = ftResidual(w.map(_.toString).toSeq)
      val g = f
        .agg(
          sum(expr(s"CAST(round($r * 1000000) AS BIGINT)")).as("g0"),
          (1 to FtDim).map(j =>
            sum(expr(s"CAST(round($r * x$j * 1000000) AS BIGINT)")).as(s"g$j")): _*)
        .head()
      w = w.zipWithIndex.map { case (wj, j) =>
        wj - graft.functions.MicroInts.round0(g.getLong(j).toDouble / (LogregLrDen * n))
      }
    }
    w
  }

  private def ftFeatures(raw: DataFrame, ms: Array[Long]): DataFrame =
    raw.select(
      col("y") +: (1 to FtDim).map(j => (col(s"x${j}r") - lit(ms(j - 1))).as(s"x$j")): _*)

  /** Train the hashed-feature classifier in-query: [[FtIters]] GD
    * rounds over the centered bucket counts, output one row —
    * `(n_rows, w0_micro..w{FtDim}_micro, n_correct)`.
    */
  def fasttextGd(docs: DataFrame, iters: Int = FtIters): DataFrame = {
    val raw = Phys.materialized(ftRaw(docs))
    val ms = ftMeans(raw)
    val f = ftFeatures(raw, ms)
    val n = raw.count()
    val w = ftTrainWeights(f, n, iters)
    val lin = s"${w(0)}" + (1 to FtDim).map(j => s" + ${w(j)} * x$j").mkString
    val z = s"(CAST($lin AS DOUBLE) / 1000000.0)"
    val aggCols = count(lit(1)).as("n_rows") +:
      (0 to FtDim).map(j => lit(w(j)).as(s"w${j}_micro")) :+
      sum(expr(s"CASE WHEN ($z > 0.0) = (y = 1) THEN 1 ELSE 0 END")).as("n_correct")
    f.agg(aggCols.head, aggCols.tail: _*)
  }

  /** Train once, persist weights AND centering means (one tiny row —
    * the [[writeLogregModel]] serving-skew rule at [[FtDim]] wide).
    */
  def writeFasttextModel(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      iters: Int = FtIters): String = {
    val raw = Phys.materialized(ftRaw(docs))
    val ms = ftMeans(raw)
    val n = raw.count()
    val w = ftTrainWeights(ftFeatures(raw, ms), n, iters)
    val dir = graft.sources.Staging.freshDir("fasttext-model")
    import spark.implicits._
    Seq((w.toSeq, ms.toSeq))
      .toDF("w", "m")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
    dir
  }

  /** Serve the stored classifier: the score is an exact integer fold of
    * the stored weights over the hashed bucket counts — the plan is the
    * feature aggregate plus a projection; no mean aggregate, no
    * gradient stage (pinned in PlanAuditSpec). Output per doc:
    * `(doc_id, label, score_micro, pred)`.
    */
  def fasttextApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String): DataFrame = {
    val m = spark.read.parquet(modelDir).head()
    val w = m.getSeq[Long](0)
    val ms = m.getSeq[Long](1)
    val score = (1 to FtDim).foldLeft(lit(w(0)): org.apache.spark.sql.Column) {
      case (acc, j) => acc + lit(w(j)) * (col(s"x${j}r") - lit(ms(j - 1)))
    }
    ftRaw(docs).select(
      col("doc_id"),
      col("y").as("label"),
      score.as("score_micro"),
      when(score > 0L, lit(1L)).otherwise(lit(0L)).as("pred"))
  }

  /** Shared oracle CTE chain for the hashed-feature classifier: label +
    * bucket counts, integer means, centered frame, unrolled GD rounds.
    */
  private def ftCtes(iters: Int, srcWhere: String = ""): String = {
    val toksSql = graft.functions.Parity.tokensSql("text")
    val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    val h = graft.functions.Parity.tokenH40Sql("t")
    val xrCols = (1 to FtDim)
      .map(j => s"CAST(sum(CASE WHEN b = ${j - 1} THEN 1 ELSE 0 END) AS BIGINT) AS x${j}r")
      .mkString(",\n         ")
    val rawCols = (1 to FtDim).map(j => s"coalesce(b.x${j}r, 0) AS x${j}r").mkString(", ")
    val mmCols = (1 to FtDim)
      .map(j => s"CAST(sum(x${j}r) // count(*) AS BIGINT) AS m$j")
      .mkString(",\n         ")
    val fCols = (1 to FtDim).map(j => s"x${j}r - mm.m$j AS x$j").mkString(", ")
    val w0Cols = (0 to FtDim).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")
    def grad(prev: String, k: Int): String = {
      val r = ftResidual((0 to FtDim).map(j => s"w.w$j"))
      val pw = (0 to FtDim).map(j => s"w.w$j AS pw$j").mkString(", ")
      val gs = ((s"CAST(sum(CAST(round($r * 1000000) AS BIGINT)) AS BIGINT) AS g0") +:
        (1 to FtDim).map(j =>
          s"CAST(sum(CAST(round($r * x$j * 1000000) AS BIGINT)) AS BIGINT) AS g$j"))
        .mkString(",\n         ")
      val upd = (0 to FtDim)
        .map(j => s"pw$j - CAST(round(CAST(g$j AS DOUBLE) / ($LogregLrDen * n)) AS BIGINT) AS w$j")
        .mkString(",\n         ")
      val gb = (0 to FtDim).map(j => s"w.w$j").mkString(", ")
      s"""g$k AS (
         |  SELECT $pw, nn.n AS n,
         |         $gs
         |  FROM f CROSS JOIN $prev w CROSS JOIN nn
         |  GROUP BY $gb, nn.n),
         |w$k AS (
         |  SELECT $upd
         |  FROM g$k)""".stripMargin
    }
    val rounds = (1 to iters).map(k => grad(s"w${k - 1}", k)).mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS ts FROM documents$srcWhere),
       |lab AS (
       |  SELECT doc_id,
       |         CAST(CASE WHEN len(ts) > 0 AND
       |                        14 * len(list_filter(ts, t -> t IN ($stopList))) >= len(ts)
       |                   THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM tk),
       |bt AS (SELECT doc_id, $h % $FtDim AS b
       |       FROM (SELECT doc_id, unnest(ts) AS t FROM tk)),
       |bx AS (SELECT doc_id,
       |         $xrCols
       |       FROM bt GROUP BY doc_id),
       |raw AS (SELECT l.doc_id, l.y, $rawCols
       |        FROM lab l LEFT JOIN bx b USING (doc_id)),
       |mm AS (SELECT $mmCols
       |       FROM raw),
       |f AS (SELECT y, $fCols FROM raw CROSS JOIN mm),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS (SELECT $w0Cols),
       |$rounds""".stripMargin
  }

  /** [[fasttextGd]]'s oracle: the unrolled GD rounds at [[FtDim]]+1
    * weights.
    */
  def fasttextGdSql(iters: Int = FtIters): String = {
    val lin = "w.w0" + (1 to FtDim).map(j => s" + w.w$j * x$j").mkString
    val zf = s"(CAST($lin AS DOUBLE) / 1000000.0)"
    val wCols = (0 to FtDim).map(j => s"w.w$j AS w${j}_micro").mkString(", ")
    val gb = (0 to FtDim).map(j => s"w.w$j").mkString(", ")
    s"""${ftCtes(iters)}
       |SELECT nn.n AS n_rows, $wCols,
       |       CAST(sum(CASE WHEN ($zf > 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM f CROSS JOIN w$iters w CROSS JOIN nn
       |GROUP BY nn.n, $gb""".stripMargin
  }

  /** Oracle for the STREAMING quality gate
    * ([[graft.streaming.StreamOps.docQualityGateOverParquet]]): train on
    * the static slice (`doc_id < firstNewId`), score every arriving doc
    * as one weight-lookup fold over its token hashes (the exact same
    * integer score as [[fasttextApplyStored]], rewritten as
    * `w0 − Σ wj·mj + Σ_tokens w[bucket(t)]`), roll up accepts per
    * source.
    */
  def fasttextGateSql(firstNewId: Long, iters: Int = FtIters): String = {
    val h = graft.functions.Parity.tokenH40Sql("t")
    val wList = (1 to FtDim).map(j => s"w.w$j").mkString("[", ", ", "]")
    val mdot = (1 to FtDim).map(j => s"w.w$j * mm.m$j").mkString(" + ")
    s"""${ftCtes(iters, s" WHERE doc_id < $firstNewId")},
       |arr AS (SELECT doc_id, source, ${graft.functions.Parity.tokensSql("text")} AS ts
       |        FROM documents WHERE doc_id >= $firstNewId),
       |sc AS (
       |  SELECT a.doc_id, a.source,
       |         w.w0 - ($mdot) + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(a.ts, t -> $wList[CAST(($h % $FtDim) + 1 AS INT)])),
       |             (x, y) -> x + y) AS score_micro
       |  FROM arr a CROSS JOIN w$iters w CROSS JOIN mm)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN score_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       |       min(doc_id) AS first_id
       |FROM sc GROUP BY source ORDER BY source""".stripMargin
  }

  /** [[fasttextApplyStored]]'s oracle: the training CTEs reproduce the
    * stored weights, then the integer score is applied per document.
    */
  def fasttextApplyStoredSql(iters: Int = FtIters): String = {
    val score = "w.w0" + (1 to FtDim).map(j => s" + w.w$j * (r.x${j}r - mm.m$j)").mkString
    s"""${ftCtes(iters)}
       |SELECT r.doc_id, r.y AS label,
       |       $score AS score_micro,
       |       CAST(CASE WHEN $score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM raw r CROSS JOIN w$iters w CROSS JOIN mm
       |ORDER BY r.doc_id""".stripMargin
  }

  // ---- multinomial naive Bayes (closed-form, one-pass trainer) ------------

  /** Multinomial naive Bayes predicting `lang` from tokens — the third
    * trainer shape next to the closed-form linear solve and fixed-round
    * GD: the model IS an aggregation. Training touches the corpus once
    * (one explode + a (lang, term) hash aggregate with map-side
    * partials); everything else — per-class token totals, the global
    * vocabulary size, class priors — reduces from that table. Add-one
    * smoothing; out-of-vocabulary mass `ln(1/(T_l + V))` is part of the
    * model, not the serving code (the [[graft.operators.TextOps.writeLmModel]]
    * rule).
    *
    * Cross-engine exactness: per-(lang, term) log-probabilities and the
    * class priors are rounded to 9 dp; the per-(doc, class) sum folds
    * those identical values in token-position order (the
    * [[graft.operators.TextOps.unigramScore]] discipline); the argmax is
    * over 6-dp-rounded scores with ties to the smaller class label.
    */
  private def nbTerms(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("lang"),
      posexplode(graft.functions.Parity.tokens(col("text"))).as(Seq("pos", "term")))

  /** Training pass: (vocab (lang, term, lnp), classes (lang, prior_lnp,
    * oov_lnp)). Both outputs are model-sized (vocabulary / #classes), so
    * serving broadcasts them.
    */
  private def nbModel(docs: DataFrame): (DataFrame, DataFrame) = {
    val counts = nbTerms(docs).groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    val tl = counts.groupBy(col("lang")).agg(sum(col("c")).as("t_l"))
    val v = counts.agg(count_distinct(col("term")).as("v"))
    val vocab = counts
      .join(tl, Seq("lang"))
      .crossJoin(broadcast(v))
      .select(
        col("lang"),
        col("term"),
        round(log((col("c") + 1).cast("double") / (col("t_l") + col("v")).cast("double")), 9)
          .as("lnp"))
    val nn = docs.agg(count(lit(1)).as("n"))
    val classes = docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_l"))
      .join(tl, Seq("lang"), "left_outer")
      .crossJoin(broadcast(nn))
      .crossJoin(broadcast(v))
      .select(
        col("lang"),
        round(log(col("n_l").cast("double") / col("n").cast("double")), 9).as("prior_lnp"),
        round(log(lit(1.0) / (coalesce(col("t_l"), lit(0L)) + col("v")).cast("double")), 9)
          .as("oov_lnp"))
    (vocab, classes)
  }

  /** Serving: every doc scored against every class — tokens cross the
    * (few-row, broadcast) class table, look up the (broadcast,
    * vocabulary-sized) log-prob table with per-class OOV fallback, fold
    * per (doc, class) in token order, add the prior, and take the
    * argmax as a `min(struct(-score, lang))` hash aggregate (map-side
    * partial — no window, no extra exchange; ties to the smaller
    * label). Output: (doc_id, pred_lang, score, correct).
    */
  private def nbScore(docs: DataFrame, vocab: DataFrame, classes: DataFrame): DataFrame = {
    val scoreRows = nbTerms(docs)
      .drop("lang")
      .crossJoin(broadcast(classes.select(col("lang"), col("oov_lnp"))))
      .join(broadcast(vocab), Seq("lang", "term"), "left_outer")
      .select(
        col("doc_id"),
        col("pos"),
        col("lang"),
        coalesce(col("lnp"), col("oov_lnp")).as("lnp_eff"))
    val perDocLang = scoreRows
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp_eff")))), s =>
            s("lnp_eff")),
          lit(0.0d),
          (acc, x) => acc + x).as("sum_lnp"))
    docs
      .select(col("doc_id"), col("lang").as("actual"))
      .crossJoin(broadcast(classes.select(col("lang"), col("prior_lnp"))))
      .join(perDocLang, Seq("doc_id", "lang"), "left_outer")
      .select(
        col("doc_id"),
        col("actual"),
        col("lang"),
        round(col("prior_lnp") + coalesce(col("sum_lnp"), lit(0.0d)), 6).as("score"))
      .groupBy(col("doc_id"), col("actual"))
      .agg(min(struct((-col("score")).as("ns"), col("lang"))).as("sel"))
      .select(
        col("doc_id"),
        col("sel.lang").as("pred_lang"),
        (-col("sel.ns")).as("score"),
        (col("sel.lang") === col("actual")).as("correct"))
  }

  /** Train-and-apply in one query (the `train_logreg` shape). */
  def naiveBayes(docs: DataFrame): DataFrame = {
    val (vocab, classes) = nbModel(docs)
    nbScore(docs, vocab, classes)
  }

  /** Train once, persist: one artifact with vocabulary rows
    * (lang, term, lnp, prior_lnp = NULL) plus one NULL-term row per
    * class carrying the OOV mass in `lnp` and the class prior — the
    * vocabulary-sized model-as-table shape of [[graft.operators.TextOps.writeLmModel]].
    */
  def writeNbModel(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): String = {
    val (vocab, classes) = nbModel(docs)
    val dir = graft.sources.Staging.freshDir("nb-model")
    vocab
      .select(col("lang"), col("term"), col("lnp"), lit(null).cast("double").as("prior_lnp"))
      .unionByName(classes.select(
        col("lang"),
        lit(null).cast("string").as("term"),
        col("oov_lnp").as("lnp"),
        col("prior_lnp")))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
    dir
  }

  /** The production apply path: READ the stored model — the plan contains
    * the artifact scan and the corpus scan, no (lang, term) training
    * aggregate of any kind.
    */
  def naiveBayesApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String): DataFrame = {
    val m = spark.read.parquet(modelDir)
    val vocab = m.filter(col("term").isNotNull).select(col("lang"), col("term"), col("lnp"))
    val classes = m
      .filter(col("term").isNull)
      .select(col("lang"), col("prior_lnp"), col("lnp").as("oov_lnp"))
    nbScore(docs, vocab, classes)
  }

  /** Shared oracle CTEs: training + scoring, mirroring [[nbModel]] and
    * [[nbScore]] operation for operation (window-ranked argmax — same
    * deterministic winner as the min-struct aggregate).
    */
  private def nbSql(): String = {
    val toks = graft.functions.Parity.tokensSql("text")
    s"""WITH tok0 AS (SELECT doc_id, lang, $toks AS ts FROM documents),
       |term AS (
       |  SELECT doc_id, lang, pos, ts[CAST(pos AS INT)] AS term
       |  FROM (SELECT doc_id, lang, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tok0)),
       |counts AS (SELECT lang, term, count(*) AS c FROM term GROUP BY 1, 2),
       |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t_l FROM counts GROUP BY 1),
       |v AS (SELECT count(DISTINCT term) AS v FROM counts),
       |vocab AS (
       |  SELECT c.lang, c.term,
       |         round(ln(CAST(c.c + 1 AS DOUBLE) / CAST(t.t_l + v.v AS DOUBLE)), 9) AS lnp
       |  FROM counts c JOIN tl t USING (lang) CROSS JOIN v),
       |nn AS (SELECT count(*) AS n FROM documents),
       |classes AS (
       |  SELECT d.lang,
       |         round(ln(CAST(count(*) AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9) AS prior_lnp,
       |         round(ln(1.0 / CAST(coalesce(t.t_l, 0) + v.v AS DOUBLE)), 9) AS oov_lnp
       |  FROM documents d CROSS JOIN nn CROSS JOIN v
       |  LEFT JOIN tl t ON t.lang = d.lang
       |  GROUP BY d.lang, nn.n, t.t_l, v.v),
       |sr AS (
       |  SELECT t.doc_id, t.pos, cl.lang,
       |         coalesce(vb.lnp, cl.oov_lnp) AS lnp_eff
       |  FROM term t CROSS JOIN classes cl
       |  LEFT JOIN vocab vb ON vb.lang = cl.lang AND vb.term = t.term),
       |pdl AS (
       |  SELECT doc_id, lang,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lnp_eff ORDER BY pos)),
       |                     (a, b) -> a + b) AS sum_lnp
       |  FROM sr GROUP BY 1, 2),
       |base AS (
       |  SELECT d.doc_id, d.lang AS actual, cl.lang,
       |         round(cl.prior_lnp + coalesce(p.sum_lnp, CAST(0.0 AS DOUBLE)), 6) AS score
       |  FROM documents d CROSS JOIN classes cl
       |  LEFT JOIN pdl p ON p.doc_id = d.doc_id AND p.lang = cl.lang),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
       |  FROM base)
       |SELECT doc_id, lang AS pred_lang, score, lang = actual AS correct
       |FROM rk WHERE rn = 1""".stripMargin
  }

  def naiveBayesSql(): String = nbSql() + "\nORDER BY doc_id"

  /** Stored-serving oracle = the same CTEs (the artifact is proven to
    * EQUAL the inline training tables by the planted-model spec; the
    * oracle proves the scores). */
  def naiveBayesStoredSql(): String = naiveBayesSql()

  /** Calibration table for the stored quality classifier: equal-count
    * score deciles (ties broken by doc_id) with the observed positive
    * rate per bin — the reliability read that decides whether the
    * score can be THRESHOLDED at a target precision. Monotone rate ≈
    * well-calibrated ranking; a flat stretch = the score carries no
    * signal there. The decile rank is the exact ntile form (corpus
    * sort); at 100 TB the same bins come from quantile THRESHOLDS
    * (the binned-quantile pattern) applied as a broadcast compare.
    *
    * Output: `(bin, n, n_pos, lo_micro, hi_micro, rate_ppm)`.
    */
  def fasttextCalibration(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      bins: Int = 10): DataFrame = {
    val served = fasttextApplyStored(spark, docs, writeFasttextModel(spark, docs))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro"), col("doc_id"))
    served
      .withColumn("bin", org.apache.spark.sql.functions.ntile(bins).over(w).cast("long"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("label")).as("n_pos"),
        min(col("score_micro")).as("lo_micro"),
        max(col("score_micro")).as("hi_micro"))
      .withColumn("rate_ppm", expr("n_pos * 1000000 div n"))
  }

  /** Isotonic (monotone non-decreasing) calibration of the trained
    * fastText score, fit over [[fasttextCalibration]]'s reliability
    * bins by the exact minimax closed form of weighted isotonic
    * regression: `iso_i = max_{j≤i} min_{k≥i} avg(y over bins j..k)`
    * (the pool-adjacent-violators optimum, written as a bounded
    * minimax instead of the sequential PAV sweep so both engines
    * compute it identically with no iteration). Where the empirical
    * bin rates dip out of order — sampling noise in a finite
    * calibration set — the fit pools them; the output is the monotone
    * score→probability map a production scorer serves, next to the
    * raw reliability diagram.
    *
    * Scale shape: everything after the calibration aggregate operates
    * on the BINS-row table (a bounded model artifact, like the GBM
    * histogram): prefix sums over `bins` rows, a (j,k) range self-join
    * of ≤ bins² rows, two bounded grouped aggregates. The corpus cost
    * is [[fasttextCalibration]]'s — one stored-model scoring pass.
    *
    * Output: one row per bin `(bin, n, n_pos, rate_ppm, iso_ppm)`,
    * `iso_ppm` non-decreasing in `bin`.
    */
  def isotonicCalibration(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      bins: Int = 10): DataFrame = {
    val cal = Phys.materialized(
      fasttextCalibration(spark, docs, bins)
        .select(col("bin"), col("n"), col("n_pos"), col("rate_ppm")))
    // windows/joins below are over the `bins`-row artifact, not the corpus
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val p = cal
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cs", sum(col("n_pos")).over(w))
    val ranges = p
      .alias("j")
      .join(p.alias("k"), col("j.bin") <= col("k.bin"))
      .select(
        col("j.bin").as("jb"),
        col("k.bin").as("kb"),
        (expr("CAST(k.cs - (j.cs - j.n_pos) AS DOUBLE)") /
          expr("CAST(k.cn - (j.cn - j.n) AS DOUBLE)")).as("a"))
    val iso = ranges
      .join(cal.select(col("bin").as("ib")), col("jb") <= col("ib") && col("kb") >= col("ib"))
      .groupBy(col("jb"), col("ib"))
      .agg(min(col("a")).as("mja"))
      .groupBy(col("ib").as("bin"))
      .agg(max(col("mja")).as("iso"))
    cal
      .join(iso, Seq("bin"))
      .withColumn("iso_ppm", expr("CAST(round(iso * 1000000) AS BIGINT)"))
      .drop("iso")
  }

  /** [[isotonicCalibration]] mirrored: the same minimax over the
    * calibration-bin CTE. */
  def isotonicCalibrationSql(bins: Int = 10, iters: Int = FtIters): String =
    s"""WITH cal AS (${fasttextCalibrationSql(bins, iters)}),
       |p AS (
       |  SELECT bin, n, n_pos,
       |         CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
       |         CAST(sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
       |  FROM cal),
       |r AS (
       |  SELECT j.bin AS jb, k.bin AS kb,
       |         CAST(k.cs - (j.cs - j.n_pos) AS DOUBLE)
       |           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
       |  FROM p j JOIN p k ON j.bin <= k.bin),
       |t AS (
       |  SELECT r.jb, i.bin AS ib, min(r.a) AS mja
       |  FROM r JOIN p i ON r.jb <= i.bin AND r.kb >= i.bin
       |  GROUP BY 1, 2),
       |iso AS (SELECT ib AS bin, max(mja) AS iso FROM t GROUP BY 1)
       |SELECT cal.bin, cal.n, cal.n_pos, cal.rate_ppm,
       |       CAST(round(iso.iso * 1000000) AS BIGINT) AS iso_ppm
       |FROM cal JOIN iso USING (bin)""".stripMargin

  /** [[fasttextCalibration]] mirrored over the training CTEs. */
  def fasttextCalibrationSql(bins: Int = 10, iters: Int = FtIters): String = {
    val score = "w.w0" + (1 to FtDim).map(j => s" + w.w$j * (r.x${j}r - mm.m$j)").mkString
    s"""${ftCtes(iters)},
       |sc AS (SELECT r.doc_id, r.y AS label, $score AS s
       |       FROM raw r CROSS JOIN w$iters w CROSS JOIN mm),
       |b AS (SELECT label, s,
       |             CAST(ntile($bins) OVER (ORDER BY s, doc_id) AS BIGINT) AS bin
       |      FROM sc)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(label) AS BIGINT) AS n_pos,
       |       CAST(min(s) AS BIGINT) AS lo_micro, CAST(max(s) AS BIGINT) AS hi_micro,
       |       CAST(sum(label) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS rate_ppm
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ---- gradient-boosted decision stumps ------------------------------------

  /** Boosting rounds for [[gbmStumps]]. */
  val GbmRounds = 3

  /** Gradient-boosted depth-1 regression trees over the quantity →
    * price relation, by the HISTOGRAM method every production GBM
    * (LightGBM/XGBoost hist) uses: per round, ONE hash aggregate
    * builds the per-feature-value residual histogram (≤ 50 groups),
    * the split search runs driver-side over that bounded table
    * (prefix sums in value order; score = L²/n_L + R²/n_R maximized,
    * IEEE-identical in both engines, ties → smaller threshold), and
    * the chosen stump's truncated-integer-mean predictions are
    * subtracted to form the next round's residuals — everything the
    * data touches is exact 64-bit integer milli-units, so the model
    * is bit-identical cross-engine. The fourth trainer shape (trees)
    * next to GD (logreg/fastText), closed-form (linreg, NB), and
    * Lloyd (k-means).
    *
    * Scale shape: per round one map-side-partial aggregate over the
    * fact table + a ≤ 50-row driver argmin + one narrow residual map
    * (checkpointed) — row count never touches driver memory.
    *
    * Output: one row per round —
    * `(round, split_q, n_left, n_right, left_milli, right_milli)`.
    * A round with no valid split (≤ 1 distinct quantity) stops
    * boosting; the output then holds only the rounds produced so far,
    * which is also what the SQL mirror's cascading empty CTEs emit.
    */
  def gbmStumps(lineitem: DataFrame, rounds: Int = GbmRounds): DataFrame = {
    val spark = lineitem.sparkSession
    var resid = Phys.materialized(
      lineitem.select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_extendedprice * 1000) AS BIGINT)").as("y")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    var r = 0
    var halted = false
    while (r < rounds && !halted) {
      r += 1
      val hist = resid
        .groupBy(col("q"))
        .agg(sum(col("y")).as("s"), count(lit(1)).as("n"))
        .orderBy(col("q"))
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
      val ts = hist.map(_._2).sum
      val tn = hist.map(_._3).sum
      var ls = 0L
      var ln = 0L
      var best: Option[(Double, Long, Long, Long, Long, Long)] = None
      hist.dropRight(1).foreach { case (t, s, n) =>
        ls += s; ln += n
        val (rs, rn) = (ts - ls, tn - ln)
        if (ln > 0 && rn > 0) {
          val score = ls.toDouble * ls.toDouble / ln.toDouble +
            rs.toDouble * rs.toDouble / rn.toDouble
          if (best.isEmpty || score > best.get._1) best = Some((score, t, ls, ln, rs, rn))
        }
      }
      best match {
        // no valid split (≤ 1 distinct quantity, or empty input): stop
        // boosting and emit the rounds produced so far — the SQL
        // mirror's empty-b$r CTE cascades to the same prefix, so both
        // engines agree on degenerate input
        case None => halted = true
        case Some((_, t, bls, bln, brs, brn)) =>
          val (lm, rm) = (bls / bln, brs / brn) // trunc toward zero ≡ SQL div
          out += ((r.toLong, t, bln, brn, lm, rm))
          resid = Phys.materialized(
            resid.select(
              col("q"),
              (col("y") - when(col("q") <= t, lit(lm)).otherwise(lit(rm))).as("y")))
      }
    }
    import spark.implicits._
    out.toSeq.toDF("round", "split_q", "n_left", "n_right", "left_milli", "right_milli")
  }

  /** Persist the trained stump table as a parquet artifact. */
  def writeGbmModel(
      spark: org.apache.spark.sql.SparkSession,
      lineitem: DataFrame): String = {
    val dir = graft.sources.Staging.freshDir("gbm-model")
    gbmStumps(lineitem).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Serve the STORED stump ensemble: the ≤ [[GbmRounds]]-row artifact
    * folds into one literal CASE chain (`pred(q) = Σ_r stump_r(q)`), so
    * scoring is a single narrow projection over one fact-table scan —
    * no training stage, no join (the scalar-artifact discipline).
    * Output: the model's fit on the corpus —
    * `(n_rows, sum_abs_resid_milli)`.
    */
  def gbmApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      lineitem: DataFrame,
      modelDir: String): DataFrame = {
    val stumps = spark.read.parquet(modelDir).orderBy(col("round")).collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getLong(5))) // (t, lm, rm)
    // an empty artifact (boosting halted before round 1 on degenerate
    // input) serves the zero model — matches the SQL mirror's empty CTEs
    val pred =
      if (stumps.isEmpty) lit(0L)
      else
        stumps
          .map { case (t, lm, rm) => when(col("q") <= t, lit(lm)).otherwise(lit(rm)) }
          .reduce(_ + _)
    lineitem
      .select(
        col("l_quantity").cast("long").as("q"),
        expr("CAST(round(l_extendedprice * 1000) AS BIGINT)").as("y"))
      .select(abs(col("y") - pred).as("ar"))
      .agg(count(lit(1)).as("n_rows"), sum(col("ar")).as("sum_abs_resid_milli"))
  }

  /** [[gbmApplyStored]]'s oracle: retrain via the [[gbmStumpsSql]] CTEs
    * and score with the same summed CASE chain.
    */
  def gbmApplyStoredSql(rounds: Int = GbmRounds): String = {
    val inner = gbmStumpsSql(rounds)
    // reuse the training CTE chain; the final residual table r{rounds}
    // already IS y − pred, so the fit readout is one aggregate over it
    val upToCtes = inner.substring(0, inner.lastIndexOf("SELECT CAST(1 AS BIGINT)"))
      .stripSuffix("\n")
    s"""$upToCtes
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(abs(y)) AS BIGINT) AS sum_abs_resid_milli
       |FROM r$rounds""".stripMargin
  }

  /** [[gbmStumps]] mirrored: unrolled per-round CTEs — histogram,
    * window prefix in value order, the same double split score, the
    * same truncated-integer means, residual update via CASE.
    */
  def gbmStumpsSql(rounds: Int = GbmRounds): String = {
    def roundCtes(r: Int): String =
      s"""h$r AS (SELECT q, CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |        FROM r${r - 1} GROUP BY q),
         |tot$r AS (SELECT CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM h$r),
         |c$r AS (SELECT q AS t,
         |               CAST(sum(s) OVER (ORDER BY q) AS BIGINT) AS ls,
         |               CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS ln,
         |               ts, tn
         |        FROM h$r CROSS JOIN tot$r),
         |sc$r AS (SELECT t, ls, ln, ts - ls AS rs, tn - ln AS rn,
         |                (CAST(ls AS DOUBLE) * CAST(ls AS DOUBLE)) / CAST(ln AS DOUBLE) +
         |                (CAST(ts - ls AS DOUBLE) * CAST(ts - ls AS DOUBLE)) /
         |                  CAST(tn - ln AS DOUBLE) AS score
         |         FROM c$r WHERE ln > 0 AND tn - ln > 0),
         |b$r AS MATERIALIZED (
         |  SELECT t, ls // ln AS lm, rs // rn AS rm, ln AS nl, rn AS nr
         |  FROM sc$r ORDER BY score DESC, t LIMIT 1),
         |r$r AS MATERIALIZED (
         |  SELECT q, y - (CASE WHEN q <= b$r.t THEN b$r.lm ELSE b$r.rm END) AS y
         |  FROM r${r - 1} CROSS JOIN b$r)""".stripMargin
    val ctes = (1 to rounds).map(roundCtes).mkString(",\n")
    val rows = (1 to rounds)
      .map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, t AS split_q, nl AS n_left, nr AS n_right, " +
          s"lm AS left_milli, rm AS right_milli FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH r0 AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |         CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000) AS BIGINT) AS y
       |  FROM lineitem),
       |$ctes
       |$rows
       |ORDER BY round""".stripMargin
  }

  // ---- ranking evaluation: exact AUC ---------------------------------------

  /** AUC (area under the ROC curve) of the trained logreg scorer,
    * computed EXACTLY as the Mann-Whitney rank statistic with the
    * standard tie correction — no trapezoid sweep, no float ranks:
    *
    *   2U = 2·#(score_pos > score_neg) + #(score_pos = score_neg)
    *   auc_ppm = 2U · 500000 div (P·N)
    *
    * The pair counts are NEVER enumerated pairwise: scores collapse to
    * a per-distinct-score histogram `(score, p_s, n_s)` first, then one
    * ordered cumulative over that bounded histogram gives
    * #(pos > neg) = Σ_s p_s · cumneg(<s). The model's scores are exact
    * 64-bit integers (micro-units), so tie groups are well-defined —
    * the reason float-scoring engines can't do exact AUC.
    *
    * Scale shape: one corpus scan (scoring) + one hash aggregate to
    * |distinct scores| rows; the window runs over the bounded
    * histogram, not the corpus. The training pass is the same 3-round
    * GD proven bit-identical by `train_logreg`.
    *
    * Output: one row `(n_pos, n_neg, n_tie_pairs, auc_ppm)`.
    */
  def logregAuc(docs: DataFrame, iters: Int = 3): DataFrame = {
    val raw = logregRaw(docs).persist()
    val (m1, m2) = logregMeans(raw)
    val f = raw.select(col("y"), (col("x1r") - lit(m1)).as("x1"), (col("x2r") - lit(m2)).as("x2"))
    val n = raw.count()
    val w = trainWeights(f, n, iters)
    val scored = raw.select(
      col("y"),
      (lit(w(0)) + lit(w(1)) * (col("x1r") - lit(m1)) + lit(w(2)) * (col("x2r") - lit(m2)))
        .as("score"))
    raw.unpersist()
    val hist = scored
      .groupBy(col("score"))
      .agg(
        sum(col("y")).as("p_s"),
        sum(lit(1L) - col("y")).as("n_s"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("cumneg", coalesce(sum(col("n_s")).over(win), lit(0L)))
      .agg(
        sum(col("p_s")).as("n_pos"),
        sum(col("n_s")).as("n_neg"),
        sum(col("p_s") * col("n_s")).as("n_tie_pairs"),
        expr("(2 * sum(p_s * cumneg) + sum(p_s * n_s)) * 500000 div (sum(p_s) * sum(n_s))")
          .as("auc_ppm"))
  }

  /** [[logregAuc]] mirrored: the shared training CTEs reproduce the
    * weights, then the identical histogram-cumulative rank statistic.
    */
  def logregAucSql(toksSql: String, iters: Int = 3): String =
    s"""${logregCtes(toksSql, iters)},
       |scored AS (
       |  SELECT r.y,
       |         w.w0 + w.w1 * (r.x1r - mm.m1) + w.w2 * (r.x2r - mm.m2) AS score
       |  FROM raw r CROSS JOIN w$iters w CROSS JOIN mm),
       |hist AS (
       |  SELECT score, CAST(sum(y) AS BIGINT) AS p_s,
       |         CAST(sum(1 - y) AS BIGINT) AS n_s
       |  FROM scored GROUP BY score),
       |cum AS (
       |  SELECT p_s, n_s,
       |         coalesce(sum(n_s) OVER (ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
       |  FROM hist)
       |SELECT CAST(sum(p_s) AS BIGINT) AS n_pos, CAST(sum(n_s) AS BIGINT) AS n_neg,
       |       CAST(sum(p_s * n_s) AS BIGINT) AS n_tie_pairs,
       |       CAST((2 * sum(p_s * cumneg) + sum(p_s * n_s)) * 500000
       |         // (sum(p_s) * sum(n_s)) AS BIGINT) AS auc_ppm
       |FROM cum""".stripMargin

  /** Precision/recall operating points of the trained logreg scorer at
    * ten ranking-decile cuts — the curve a threshold-picking user reads
    * next to [[logregAuc]]'s single scalar.
    *
    * Each decile d's operating point is the tie-group boundary where
    * the top ceil(d·N/10) ranked rows end: keep-all-rows-with
    * score ≥ that group's score. Anchoring to the tie-group edge (not
    * an arbitrary within-group cut) is what keeps tp/fp exact and
    * engine-independent when a tie group straddles the decile line.
    *
    * Scale shape: identical to [[logregAuc]] — one scoring scan, one
    * hash aggregate to the bounded distinct-score histogram, a window
    * over the histogram, then a 10-row broadcast cut table probes it;
    * nothing row-grain crosses an exchange after the aggregate.
    *
    * Output: 10 rows `(decile, thr_score, n_kept, tp, precision_ppm,
    * recall_ppm)` — precision = tp/kept, recall = tp/P, exact ppm.
    */
  def logregPrCurve(docs: DataFrame, iters: Int = 3): DataFrame = {
    val raw = logregRaw(docs).persist()
    val (m1, m2) = logregMeans(raw)
    val f = raw.select(col("y"), (col("x1r") - lit(m1)).as("x1"), (col("x2r") - lit(m2)).as("x2"))
    val n = raw.count()
    val w = trainWeights(f, n, iters)
    val scored = raw.select(
      col("y"),
      (lit(w(0)) + lit(w(1)) * (col("x1r") - lit(m1)) + lit(w(2)) * (col("x2r") - lit(m2)))
        .as("score"))
    raw.unpersist()
    val hist = scored
      .groupBy(col("score"))
      .agg(sum(col("y")).as("p_s"), sum(lit(1L) - col("y")).as("n_s"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cumpos", sum(col("p_s")).over(win))
      .withColumn("cumall", sum(col("p_s") + col("n_s")).over(win))
    val tot = hist.agg(
      sum(col("p_s")).as("p_tot"),
      sum(col("p_s") + col("n_s")).as("n_tot"))
    val cuts = broadcast(
      docs.sparkSession
        .range(1, 11)
        .select(col("id").as("decile"))
        .crossJoin(tot)
        .select(
          col("decile"),
          expr("(decile * n_tot + 9) div 10").as("cut_n"),
          col("p_tot")))
    cum
      .join(
        cuts,
        col("cut_n") > col("cumall") - (col("p_s") + col("n_s")) &&
          col("cut_n") <= col("cumall"))
      .select(
        col("decile"),
        col("score").as("thr_score"),
        col("cumall").as("n_kept"),
        col("cumpos").as("tp"),
        expr("cumpos * 1000000 div cumall").as("precision_ppm"),
        expr("cumpos * 1000000 div p_tot").as("recall_ppm"))
      .orderBy(col("decile"))
  }

  /** [[logregPrCurve]] mirrored: shared training CTEs, the identical
    * histogram cumulative, and the same tie-group-boundary cut rule.
    */
  def logregPrCurveSql(toksSql: String, iters: Int = 3): String =
    s"""${logregCtes(toksSql, iters)},
       |scored AS (
       |  SELECT r.y,
       |         w.w0 + w.w1 * (r.x1r - mm.m1) + w.w2 * (r.x2r - mm.m2) AS score
       |  FROM raw r CROSS JOIN w$iters w CROSS JOIN mm),
       |hist AS (
       |  SELECT score, CAST(sum(y) AS BIGINT) AS p_s,
       |         CAST(sum(1 - y) AS BIGINT) AS n_s
       |  FROM scored GROUP BY score),
       |cum AS (
       |  SELECT score, p_s, n_s,
       |         CAST(sum(p_s) OVER (ORDER BY score DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumpos,
       |         CAST(sum(p_s + n_s) OVER (ORDER BY score DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumall
       |  FROM hist),
       |tot AS (
       |  SELECT CAST(sum(p_s) AS BIGINT) AS p_tot,
       |         CAST(sum(p_s + n_s) AS BIGINT) AS n_tot
       |  FROM hist),
       |cuts AS (
       |  SELECT CAST(d AS BIGINT) AS decile,
       |         (CAST(d AS BIGINT) * n_tot + 9) // 10 AS cut_n, p_tot
       |  FROM generate_series(1, 10) t(d) CROSS JOIN tot)
       |SELECT c.decile, u.score AS thr_score, u.cumall AS n_kept, u.cumpos AS tp,
       |       u.cumpos * 1000000 // u.cumall AS precision_ppm,
       |       u.cumpos * 1000000 // c.p_tot AS recall_ppm
       |FROM cuts c JOIN cum u
       |  ON c.cut_n > u.cumall - (u.p_s + u.n_s) AND c.cut_n <= u.cumall
       |ORDER BY c.decile""".stripMargin

  // ---- k-fold cross-validation ---------------------------------------------

  /** K-fold cross-validated accuracy of the logreg trainer — the
    * honest generalization readout next to [[logregGd]]'s training-set
    * count: for each fold, the model trains on the OTHER folds (its
    * centering means too — no statistics leak from the held-out rows)
    * and is scored on the held-out third. Folds are the deterministic
    * `doc_id % folds` split, prediction is the exact integer rule
    * `z > 0` at micro-unit weights — every count cross-engine exact.
    *
    * Scale shape: K independent runs of the same one-aggregate-per-
    * round GD loop, each over (K−1)/K of the corpus, plus one scoring
    * scan per fold — cost ≈ K× the single trainer, no new shuffle
    * shapes. K stays a small constant (3 here) at any corpus size.
    *
    * Output: `folds` rows `(fold, n_train, n_eval, n_correct,
    * acc_ppm)` ordered by fold.
    */
  def logregCv(docs: DataFrame, folds: Int = 3, iters: Int = 3): DataFrame = {
    val raw = logregRaw(docs).persist()
    val perFold = (0 until folds).map { fd =>
      val tr = raw.filter(col("doc_id") % folds =!= fd)
      val (m1, m2) = logregMeans(tr)
      val f =
        tr.select(col("y"), (col("x1r") - lit(m1)).as("x1"), (col("x2r") - lit(m2)).as("x2"))
      val n = tr.count()
      val w = trainWeights(f, n, iters)
      raw
        .filter(col("doc_id") % folds === fd)
        .select(
          col("y"),
          (lit(w(0)) + lit(w(1)) * (col("x1r") - lit(m1)) + lit(w(2)) * (col("x2r") - lit(m2)))
            .as("z"))
        .agg(
          count(lit(1)).as("n_eval"),
          sum(when((col("z") > 0L) === (col("y") === 1L), 1L).otherwise(0L)).as("n_correct"))
        .select(
          lit(fd.toLong).as("fold"),
          lit(n).as("n_train"),
          col("n_eval"),
          col("n_correct"))
    }
    val out = perFold.reduce(_ unionByName _)
    raw.unpersist()
    out
      .select(
        col("fold"),
        col("n_train"),
        col("n_eval"),
        col("n_correct"),
        expr("n_correct * 1000000 div n_eval").as("acc_ppm"))
      .orderBy(col("fold"))
  }

  /** [[logregCv]] mirrored: one suffixed training chain per fold (the
    * fold's own centering means — the no-leakage contract is in the
    * SQL text), scored on the held-out rows of the shared raw scan.
    */
  def logregCvSql(toksSql: String, folds: Int = 3, iters: Int = 3): String = {
    val chains = (0 until folds)
      .map { fd =>
        logregCtes(toksSql, iters, sfx = s"_$fd", rawWhere = s" WHERE doc_id % $folds <> $fd")
          .stripPrefix("WITH ")
      }
      .mkString(",\n")
    val evals = (0 until folds)
      .map { fd =>
        s"""SELECT CAST($fd AS BIGINT) AS fold, nn_$fd.n AS n_train,
           |       CAST(count(*) AS BIGINT) AS n_eval,
           |       CAST(sum(CASE WHEN
           |         ((w.w0 + w.w1 * (r.x1r - mm_$fd.m1) + w.w2 * (r.x2r - mm_$fd.m2)) > 0)
           |           = (r.y = 1)
           |         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
           |FROM rawall r CROSS JOIN w${iters}_$fd w CROSS JOIN mm_$fd CROSS JOIN nn_$fd
           |WHERE r.doc_id % $folds = $fd
           |GROUP BY nn_$fd.n""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"""WITH rawall AS (
       |  ${logregRawSql(toksSql)}),
       |$chains
       |SELECT fold, n_train, n_eval, n_correct,
       |       n_correct * 1000000 // n_eval AS acc_ppm
       |FROM ($evals)
       |ORDER BY fold""".stripMargin
  }

  // ---- SGNS node embeddings (the matrix-state trainer shape) ---------------

  /** The rational fast-sigmoid fragment over a double expression. */
  private def sig(z: String): String = s"(0.5 + ($z) / (2.0 * (1.0 + abs($z))))"

  /** Skip-Gram with Negative Sampling over a (center, context, n)
    * co-occurrence table — word2vec's objective (Mikolov et al. 2013)
    * run as full-batch synchronous GD, the trainer family's FIFTH state
    * shape: parameters are per-ENTITY vectors (two |V|×d milli-unit
    * matrices, center and context), not a scalar model — the shape
    * every embedding trainer at 100 TB has, where the model itself is a
    * distributed table updated by keyed joins.
    *
    * Determinism end-to-end: init is an LCG of (id, dim); the one
    * negative per pair is EXACT categorical choice by
    * `hash(center, context) mod |V|` over the dense node index; every
    * per-pair gradient component is rounded to an integer milli-unit
    * BEFORE the per-entity sum (order-free reduction); σ is the
    * rational fast sigmoid — so the trained matrix is bit-identical to
    * the unrolled DuckDB oracle replaying the same rounds.
    *
    * Scale shape per round: pairs ⋈ U ⋈ V ⋈ (dense-index negative) ⋈ V
    * — all equi-joins on entity keys; the scored table is materialized
    * ONCE and feeds three keyed delta aggregates (center, context,
    * negative), each map-side partial; updates are |V|-row outer joins.
    * Nothing wider than the pair table ever shuffles. Like
    * [[trainLogreg]]'s 3 rounds, `iters` = 2 demonstrates the exact
    * mechanism, not convergence.
    *
    * Output: the trained center matrix `(id, u0..u{d−1})` in
    * milli-units.
    */
  def sgnsEmbeddings(pairs: DataFrame, dims: Int = 4, iters: Int = 2): DataFrame = {
    val BigP = 1000000007L
    def pA(i: Int) = (1103515245L * (i + 1) + 12345L) % BigP
    val p = Phys.materialized(
      pairs.select(col("center"), col("context"), col("n_pairs").as("n")))
    // dense node index via the distributed two-phase rank (ids are
    // unique, so the rank is deterministic) — not a single-partition
    // ORDER BY window over the |V|-scale vocabulary
    val nodes = Phys.materialized(
      Phys.globalRank(
        p.select(col("center").as("id"))
          .unionAll(p.select(col("context").as("id")))
          .distinct(),
        Seq(col("id")),
        "idx"))
    val nV = nodes.count()
    def init(tag: String, off: Int): DataFrame =
      nodes.select(
        col("id") +: (0 until dims).map(i =>
          expr(s"(id * ${pA(i + off)}) % $BigP % 201 - 100").as(s"$tag$i")): _*)
    var u = Phys.materialized(init("u", 0))
    var v = Phys.materialized(init("v", 10))
    val zp = s"(CAST(${(0 until dims).map(i => s"u$i * v$i").mkString(" + ")} AS DOUBLE) / 1000000.0)"
    val zn = s"(CAST(${(0 until dims).map(i => s"u$i * w$i").mkString(" + ")} AS DOUBLE) / 1000000.0)"
    (1 to iters).foreach { _ =>
      val scored = Phys.materialized(
        p.join(u.select(col("id").as("center") +: (0 until dims).map(i => col(s"u$i")): _*), Seq("center"))
          .join(
            v.select(col("id").as("context") +: (0 until dims).map(i => col(s"v$i")): _*),
            Seq("context"))
          .withColumn("nidx", expr(s"(center * 1103515245 + context * 12345) % $BigP % $nV"))
          .join(nodes.select(col("idx").as("nidx"), col("id").as("neg_id")), Seq("nidx"))
          .join(
            v.select(col("id").as("neg_id") +: (0 until dims).map(i => col(s"v$i").as(s"w$i")): _*),
            Seq("neg_id"))
          .withColumn("cp", expr(s"${sig(zp)} - 1.0"))
          .withColumn("cn", expr(sig(zn)))
          .select(
            Seq(col("center"), col("context"), col("neg_id")) ++
              (0 until dims).flatMap(i =>
                Seq(
                  expr(s"CAST(round(n * cp * v$i / 10.0) AS BIGINT)").as(s"dup$i"),
                  expr(s"CAST(round(n * cn * w$i / 10.0) AS BIGINT)").as(s"dun$i"),
                  expr(s"CAST(round(n * cp * u$i / 10.0) AS BIGINT)").as(s"dvp$i"),
                  expr(s"CAST(round(n * cn * u$i / 10.0) AS BIGINT)").as(s"dwn$i"))): _*))
      val du = scored
        .groupBy(col("center").as("id"))
        .agg(
          sum(col("dup0") + col("dun0")).as("d0"),
          (1 until dims).map(i => sum(col(s"dup$i") + col(s"dun$i")).as(s"d$i")): _*)
      val dv = scored
        .select(col("context").as("id") +: (0 until dims).map(i => col(s"dvp$i").as(s"d$i")): _*)
        .unionAll(
          scored.select(
            col("neg_id").as("id") +: (0 until dims).map(i => col(s"dwn$i").as(s"d$i")): _*))
        .groupBy(col("id"))
        .agg(sum(col("d0")).as("d0"), (1 until dims).map(i => sum(col(s"d$i")).as(s"d$i")): _*)
      u = Phys.materialized(
        u.join(du, Seq("id"), "left_outer")
          .select(
            col("id") +: (0 until dims).map(i =>
              (col(s"u$i") - coalesce(col(s"d$i"), lit(0L))).as(s"u$i")): _*))
      v = Phys.materialized(
        v.join(dv, Seq("id"), "left_outer")
          .select(
            col("id") +: (0 until dims).map(i =>
              (col(s"v$i") - coalesce(col(s"d$i"), lit(0L))).as(s"v$i")): _*))
    }
    u
  }

  /** [[sgnsEmbeddings]] mirrored: the same rounds unrolled, scored
    * tables and updates MATERIALIZED per round. `pairsSql` must yield
    * (center, context, n_pairs). */
  def sgnsEmbeddingsSql(pairsSql: String, dims: Int = 4, iters: Int = 2): String = {
    val BigP = 1000000007L
    def pA(i: Int) = (1103515245L * (i + 1) + 12345L) % BigP
    def cols(tag: String) = (0 until dims).map(i => s"$tag$i").mkString(", ")
    val zp = s"(CAST(${(0 until dims).map(i => s"u$i * v$i").mkString(" + ")} AS DOUBLE) / 1000000.0)"
    val zn = s"(CAST(${(0 until dims).map(i => s"u$i * w$i").mkString(" + ")} AS DOUBLE) / 1000000.0)"
    val head = Seq(
      s"p AS MATERIALIZED (SELECT center, context, n_pairs AS n FROM ($pairsSql))",
      """nodes AS MATERIALIZED (
        |  SELECT id, row_number() OVER (ORDER BY id) - 1 AS idx
        |  FROM (SELECT center AS id FROM p UNION SELECT context FROM p))""".stripMargin,
      // the modulus hoisted to a one-row CTE: a scalar subquery inside
      // the join condition re-evaluates per probe row
      "nv AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes)",
      s"""u0t AS MATERIALIZED (SELECT id, ${(0 until dims)
           .map(i => s"(id * ${pA(i)}) % $BigP % 201 - 100 AS u$i")
           .mkString(", ")} FROM nodes)""",
      s"""v0t AS MATERIALIZED (SELECT id, ${(0 until dims)
           .map(i => s"(id * ${pA(i + 10)}) % $BigP % 201 - 100 AS v$i")
           .mkString(", ")} FROM nodes)""")
    val rounds = (1 to iters).flatMap { r =>
      val (uPrev, vPrev) = (s"u${r - 1}t", s"v${r - 1}t")
      Seq(
        s"""sc$r AS MATERIALIZED (
           |  SELECT center, context, neg_id,
           |         ${(0 until dims)
             .flatMap(i =>
               Seq(
                 s"CAST(round(n * cp * v$i / 10.0) AS BIGINT) AS dup$i",
                 s"CAST(round(n * cn * w$i / 10.0) AS BIGINT) AS dun$i",
                 s"CAST(round(n * cp * u$i / 10.0) AS BIGINT) AS dvp$i",
                 s"CAST(round(n * cn * u$i / 10.0) AS BIGINT) AS dwn$i"))
             .mkString(",\n         ")}
           |  FROM (
           |    SELECT j.*, ${sig(zp)} - 1.0 AS cp, ${sig(zn)} AS cn
           |    FROM (
           |      SELECT p.center, p.context, p.n, nn.id AS neg_id,
           |             ${(0 until dims).map(i => s"uu.u$i AS u$i").mkString(", ")},
           |             ${(0 until dims).map(i => s"vv.v$i AS v$i").mkString(", ")},
           |             ${(0 until dims).map(i => s"vw.v$i AS w$i").mkString(", ")}
           |      FROM p
           |      CROSS JOIN nv
           |      JOIN $uPrev uu ON uu.id = p.center
           |      JOIN $vPrev vv ON vv.id = p.context
           |      JOIN nodes nn ON nn.idx = (p.center * 1103515245 + p.context * 12345)
           |                        % $BigP % nv.c
           |      JOIN $vPrev vw ON vw.id = nn.id) j))""".stripMargin,
        s"""du$r AS MATERIALIZED (
           |  SELECT center AS id, ${(0 until dims)
             .map(i => s"CAST(sum(dup$i + dun$i) AS BIGINT) AS d$i")
             .mkString(", ")}
           |  FROM sc$r GROUP BY 1)""".stripMargin,
        s"""dv$r AS MATERIALIZED (
           |  SELECT id, ${(0 until dims).map(i => s"CAST(sum(d$i) AS BIGINT) AS d$i").mkString(", ")}
           |  FROM (SELECT context AS id, ${(0 until dims).map(i => s"dvp$i AS d$i").mkString(", ")} FROM sc$r
           |        UNION ALL
           |        SELECT neg_id, ${(0 until dims).map(i => s"dwn$i").mkString(", ")} FROM sc$r)
           |  GROUP BY 1)""".stripMargin,
        s"""u${r}t AS MATERIALIZED (
           |  SELECT u.id, ${(0 until dims)
             .map(i => s"u.u$i - coalesce(d.d$i, 0) AS u$i")
             .mkString(", ")}
           |  FROM $uPrev u LEFT JOIN du$r d ON d.id = u.id)""".stripMargin,
        s"""v${r}t AS MATERIALIZED (
           |  SELECT v.id, ${(0 until dims)
             .map(i => s"v.v$i - coalesce(d.d$i, 0) AS v$i")
             .mkString(", ")}
           |  FROM $vPrev v LEFT JOIN dv$r d ON d.id = v.id)""".stripMargin)
    }
    s"""WITH ${(head ++ rounds).mkString(",\n")}
       |SELECT id, ${cols("u")} FROM u${iters}t""".stripMargin
  }

  // ---- embedding link-prediction evaluation --------------------------------

  /** Link-prediction AUC of trained node embeddings — the standard
    * extrinsic eval of a [[sgnsEmbeddings]] run (Grover & Leskovec 2016
    * §4.3 evaluate node2vec embeddings exactly this way): positives are
    * the graph's own edges, negatives are one deterministically
    * corrupted pair per positive (the tail re-drawn by the same hash →
    * node-index map the SGNS negative sampler uses), each pair scores
    * the integer dot product `Σ uᵢ(a)·uᵢ(b)`, and the AUC is the
    * tie-corrected Mann-Whitney rank statistic computed over the score
    * histogram — `2U = Σ_s pos_s·(2·cumneg_<s + neg_s)` stays integral,
    * so the result is bit-identical on any engine (micro-units).
    *
    * Pairs whose endpoint the walk corpus never reached (no embedding
    * row) drop out of the inner joins on BOTH sides — the eval covers
    * the embedded subgraph, mirrored exactly in the oracle. A
    * "negative" that happens to be a real edge keeps its negative
    * label (the standard convention; with n_V candidate tails the
    * collision mass is ~deg/n_V).
    *
    * Scale shape: two vocab-keyed embedding joins (|E| rows through
    * each), one score-keyed histogram aggregate; the only sequential
    * term is the cumulative window over DISTINCT scores — histogram-
    * sized, not pair-sized (two-phase prefix sums at scale). No
    * all-pairs term.
    *
    * Output: one row `(n_pos, n_neg, auc_micro)`.
    */
  def embedLinkPredAuc(emb: DataFrame, edges: DataFrame, dims: Int = 4): DataFrame = {
    val BigP = 1000000007L
    val e = Phys.materialized(
      edges.filter(col("src") =!= col("dst")).select(col("src"), col("dst")).distinct())
    // same distributed dense index as the trainer's sampler (unique ids)
    val nodes = Phys.materialized(
      Phys.globalRank(emb.select(col("id")), Seq(col("id")), "idx"))
    val nV = nodes.count()
    val neg = e
      .withColumn("nidx", expr(s"(src * 1103515245 + dst * 54321) % $BigP % $nV"))
      .join(nodes.select(col("idx").as("nidx"), col("id").as("ndst")), Seq("nidx"))
      .select(col("src"), col("ndst").as("dst"), lit(0L).as("label"))
    val pairs = e.select(col("src"), col("dst"), lit(1L).as("label")).unionAll(neg)
    val ua = emb.select(
      col("id").as("src") +: (0 until dims).map(i => col(s"u$i").as(s"a$i")): _*)
    val ub = emb.select(
      col("id").as("dst") +: (0 until dims).map(i => col(s"u$i").as(s"b$i")): _*)
    val hist = pairs
      .join(ua, Seq("src"))
      .join(ub, Seq("dst"))
      .select(
        expr((0 until dims).map(i => s"a$i * b$i").mkString(" + ")).as("score"),
        col("label"))
      .groupBy(col("score"))
      .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
    val ws = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("cumneg", coalesce(sum(col("neg")).over(ws), lit(0L)))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cumneg") + col("neg"))).as("u2"))
      .select(
        col("n_pos"),
        col("n_neg"),
        expr("1000000 * u2 div (2 * n_pos * n_neg)").as("auc_micro"))
  }

  /** [[embedLinkPredAuc]] mirrored: the trained-embedding CTE nested
    * whole, the same hash-corrupted negatives, and the integer 2U rank
    * statistic over the score histogram.
    */
  def embedLinkPredAucSql(embSql: String, edgesSql: String, dims: Int = 4): String = {
    val dot = (0 until dims).map(i => s"a.u$i * b.u$i").mkString(" + ")
    s"""WITH emb AS MATERIALIZED ($embSql),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql) WHERE src <> dst),
       |nodes AS MATERIALIZED (
       |  SELECT id, CAST(row_number() OVER (ORDER BY id) AS BIGINT) - 1 AS idx FROM emb),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM nodes),
       |neg AS (
       |  SELECT e.src, n.id AS dst, CAST(0 AS BIGINT) AS label
       |  FROM edges e CROSS JOIN nn
       |  JOIN nodes n ON n.idx = (e.src * 1103515245 + e.dst * 54321) % 1000000007 % nn.nv),
       |pairs AS (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS label FROM edges
       |  UNION ALL SELECT src, dst, label FROM neg),
       |hist AS (
       |  SELECT $dot AS score,
       |         CAST(sum(p.label) AS BIGINT) AS pos,
       |         CAST(sum(1 - p.label) AS BIGINT) AS neg
       |  FROM pairs p JOIN emb a ON a.id = p.src JOIN emb b ON b.id = p.dst
       |  GROUP BY 1),
       |cum AS (
       |  SELECT pos, neg,
       |         coalesce(sum(neg) OVER (ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
       |  FROM hist),
       |agg AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
       |         CAST(sum(pos * (2 * cumneg + neg)) AS BIGINT) AS u2
       |  FROM cum)
       |SELECT n_pos, n_neg, 1000000 * u2 // (2 * n_pos * n_neg) AS auc_micro FROM agg""".stripMargin
  }

  // ---- stored SGNS artifact: train once, serve many ------------------------

  /** Train-once registry for the embedding matrix — the general
    * [[ModelCache]] discipline with an `sgns|` key family. Deterministic
    * training (LCG init, integer gradients) is what makes cross-process
    * reuse sound: same key ⇒ bit-identical matrix, whoever trained it.
    * An evaluation or similarity query never re-runs gradient rounds.
    */
  def sgnsModelDir(key: String)(train: => DataFrame): String =
    ModelCache.dir(s"sgns|$key")(train)

  /** Link-prediction AUC SERVED from the stored matrix: the
    * [[embedLinkPredAuc]] statistic with `emb` = one artifact scan — the
    * plan contains zero gradient rounds, zero walk generation; only the
    * artifact, the edge list, and the histogram rank aggregate.
    */
  def embedLinkPredStored(
      spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame,
      modelDir: String,
      dims: Int = 4): DataFrame =
    embedLinkPredAuc(spark.read.parquet(modelDir), edges, dims)

  /** Nearest-neighbor serving from the stored matrix — the point-lookup
    * production API of an embedding table: the query vector (here the
    * smallest-id node, a 1-row bounded lookup folded into literals) is
    * broadcast into a single artifact scan scoring the integer dot
    * product, top-k by `(score DESC, id)`. No training, no pair table;
    * at 100 TB this is one columnar scan of |V| rows per query batch
    * (or an ANN index probe — see [[Similarity]] — when |V| itself is
    * too large to scan per query).
    */
  def sgnsSimilarStored(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String,
      k: Int = 10,
      dims: Int = 4): DataFrame = {
    val emb = spark.read.parquet(modelDir)
    // bounded driver read: exactly one 5-long row, never data-scale
    val q = emb.orderBy(col("id")).limit(1).collect()(0)
    val qid = q.getAs[Long]("id")
    val dot = (0 until dims).map(i => col(s"u$i") * lit(q.getAs[Long](s"u$i"))).reduce(_ + _)
    emb
      .filter(col("id") =!= qid)
      .select(col("id"), dot.as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** [[sgnsSimilarStored]]'s oracle: retrain the matrix via the
    * [[sgnsEmbeddingsSql]] CTEs (bit-identical to the artifact by the
    * trainer's determinism), then the same min-id query row, dot-product
    * scores, and (score DESC, id) top-k.
    */
  def sgnsSimilarStoredSql(embSql: String, k: Int = 10, dims: Int = 4): String = {
    val dot = (0 until dims).map(i => s"e.u$i * q.u$i").mkString(" + ")
    s"""WITH emb AS MATERIALIZED ($embSql),
       |q AS (SELECT * FROM emb ORDER BY id LIMIT 1)
       |SELECT e.id, CAST($dot AS BIGINT) AS score
       |FROM emb e CROSS JOIN q
       |WHERE e.id <> q.id
       |ORDER BY score DESC, e.id
       |LIMIT $k""".stripMargin
  }

  // ---- split conformal prediction ------------------------------------------

  /** Split conformal prediction over the price~quantity regression:
    * train OLS on split A, take the ⌈0.9·(n+1)⌉-th smallest absolute
    * residual on calibration split B as the interval half-width q, and
    * MEASURE the fraction of a held-out test split C that ±q actually
    * covers — the distribution-free "is my model's uncertainty honest"
    * readout (Vovk et al.; Angelopoulos & Bates 2021 survey form). This
    * is the eval a production scorer ships next to its point
    * predictions: by exchangeability the expected coverage is ≥ 90%
    * regardless of how wrong the linear model is.
    *
    * Determinism: splits are `l_orderkey % 10` (0-5 train, 6-7 calib,
    * 8-9 test); sums are exact BIGINT; slope/intercept are ONE fixed
    * double expression; residuals round to integer micro-price-units
    * before ranking so the order statistic is an integer; the rank index
    * ⌈9(n+1)/10⌉ is pure integer arithmetic (never a 0.9·x float).
    *
    * Scale shape: three filtered passes over one scan lineage + ONE
    * distributed rank ([[Phys.globalRank]] — range-repartition +
    * zipWithIndex, never a single-partition ORDER BY window) to extract
    * the order statistic; everything else is broadcast-sized.
    *
    * Output: one row `(n_train, n_calib, n_test, q_idx, q_mic,
    * covered, coverage_ppm)`.
    */
  def conformalInterval(lineitem: DataFrame): DataFrame = {
    val f = lineitem.select(
      expr("CAST(l_quantity AS BIGINT)").as("x"),
      expr("CAST(round(l_extendedprice * 1000) AS BIGINT)").as("y"),
      expr("CAST(l_orderkey AS BIGINT) % 10").as("s"))
    val m = f
      .filter(col("s") <= 5)
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("n").as("n_train"),
        col("sx"),
        col("sy"),
        expr(
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
          .as("b"))
      .select(
        col("n_train"),
        col("b"),
        expr("(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n_train AS DOUBLE)").as("a"))
    val residMic =
      "CAST(round(abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 1000) AS BIGINT)"
    val cal = f
      .filter(col("s").isin(6L, 7L))
      .crossJoin(broadcast(m))
      .select(expr(residMic).as("r_mic"))
    // clamp to n_calib: for n_calib < 9 the ceil index would exceed the
    // table and silently collapse the result — the standard finite-sample
    // fallback is q = max residual (the n-th order statistic)
    val nq = cal.agg(
      count(lit(1)).as("n_calib"),
      expr("least((9 * (count(1) + 1) + 9) div 10, count(1))").as("q_idx"))
    val qRow = Phys
      .globalRank(cal, Seq(col("r_mic")), "rk")
      .crossJoin(broadcast(nq))
      .filter(col("rk") === col("q_idx") - 1)
      .select(col("n_calib"), col("q_idx"), col("r_mic").as("q_mic"))
    f.filter(col("s").isin(8L, 9L))
      .crossJoin(broadcast(m))
      .select(expr(residMic).as("r_mic"), col("n_train"))
      .crossJoin(broadcast(qRow))
      .agg(
        max(col("n_train")).as("n_train"),
        max(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_test"),
        max(col("q_idx")).as("q_idx"),
        max(col("q_mic")).as("q_mic"),
        sum(when(col("r_mic") <= col("q_mic"), 1L).otherwise(0L)).as("covered"))
      .withColumn("coverage_ppm", expr("covered * 1000000 div n_test"))
  }

  /** [[conformalInterval]] mirrored; the order statistic is ORDER
    * BY/OFFSET instead of the distributed rank — value-identical
    * (both take the q_idx-th smallest integer residual).
    */
  def conformalIntervalSql(): String =
    s"""WITH f AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x,
       |         CAST(round(l_extendedprice * 1000) AS BIGINT) AS y,
       |         CAST(l_orderkey AS BIGINT) % 10 AS s
       |  FROM lineitem),
       |tr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM f WHERE s <= 5),
       |m0 AS (
       |  SELECT n AS n_train, sx, sy,
       |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
       |  FROM tr),
       |m AS (
       |  SELECT n_train, b,
       |         (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n_train AS DOUBLE) AS a
       |  FROM m0),
       |cal AS (
       |  SELECT CAST(round(abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 1000) AS BIGINT) AS r_mic
       |  FROM f CROSS JOIN m WHERE s IN (6, 7)),
       |nq AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_calib,
       |         least((9 * (CAST(count(*) AS BIGINT) + 1) + 9) // 10,
       |               CAST(count(*) AS BIGINT)) AS q_idx
       |  FROM cal),
       |qv AS (
       |  SELECT nq.n_calib, nq.q_idx, r.r_mic AS q_mic
       |  FROM nq, (SELECT r_mic, row_number() OVER (ORDER BY r_mic) AS rn FROM cal) r
       |  WHERE r.rn = nq.q_idx),
       |te AS (
       |  SELECT CAST(round(abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 1000) AS BIGINT) AS r_mic,
       |         m.n_train
       |  FROM f CROSS JOIN m WHERE s IN (8, 9))
       |SELECT max(te.n_train) AS n_train, max(qv.n_calib) AS n_calib,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       max(qv.q_idx) AS q_idx, max(qv.q_mic) AS q_mic,
       |       CAST(sum(CASE WHEN te.r_mic <= qv.q_mic THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       |       CAST(sum(CASE WHEN te.r_mic <= qv.q_mic THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |         // CAST(count(*) AS BIGINT) AS coverage_ppm
       |FROM te CROSS JOIN qv""".stripMargin

  // ---- regression influence diagnostics (Cook's distance) -------------------

  /** Cook's distance of every lineitem row under the price~quantity OLS
    * — the closed-form influence function of linear regression (Cook
    * 1977): D_i = (r_i²/(p·s²))·(h_i/(1−h_i)²) with leverage
    * h_i = 1/n + (x_i−x̄)²/Sxx, p = 2. THE data-attribution primitive a
    * curation pipeline runs before trusting a fitted filter: the top-D
    * rows are the points whose removal moves the model most (the exact,
    * no-retraining form of what TracIn/influence-function methods
    * approximate for deep models).
    *
    * Exactness: sufficient statistics are exact BIGINT sums; residuals
    * round to whole units BEFORE the Σr² pass (r ≤ ~1e5 ⇒ Σr² < 2⁶³ at
    * any realistic SF); slope/leverage/D are fixed double expressions
    * over the aggregated scalars, identical in both engines.
    *
    * Scale shape: three scans of two columns (stats → Σr² → per-row D),
    * each reduction map-side partial; the readout is a bounded
    * TakeOrdered 20 by (d_nano DESC, keys). No window, no pair table.
    *
    * Output: 20 rows `(l_orderkey, l_linenumber, x, y_mic, r_u, h_ppb,
    * d_nano)`.
    */
  def cooksDistance(lineitem: DataFrame): DataFrame = {
    val f = lineitem.select(
      col("l_orderkey").cast("long").as("okey"),
      col("l_linenumber").cast("long").as("lno"),
      expr("CAST(l_quantity AS BIGINT)").as("x"),
      expr("CAST(round(l_extendedprice * 1000) AS BIGINT)").as("y_mic"))
    val m = f
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y_mic")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y_mic")).as("sxy"))
      .select(
        col("n"),
        col("sx"),
        col("sy"),
        col("sxx"),
        expr(
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
          .as("b"))
      .select(
        col("n"), col("sx"), col("sxx"), col("b"),
        expr("(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)")
          .as("a"))
    val rU = "CAST(round(abs(CAST(y_mic AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) / 1000) AS BIGINT)"
    val hD =
      "(1.0 / CAST(n AS DOUBLE) + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    // pin the 1-row model and Σr²: each is consumed by a later pass, and
    // an unpinned lineage would re-run the stats scan per consumer
    val mP = Phys.materialized(m)
    val s2 = Phys.materialized(
      f.crossJoin(broadcast(mP))
        .select(expr(rU).as("r_u"))
        .agg(sum(col("r_u") * col("r_u")).as("sr2")))
    f.crossJoin(broadcast(mP))
      .crossJoin(broadcast(s2))
      .select(
        col("okey").as("l_orderkey"),
        col("lno").as("l_linenumber"),
        col("x"),
        col("y_mic"),
        expr(rU).as("r_u"),
        expr(hD).as("h"),
        col("n"), col("sr2"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("x"), col("y_mic"), col("r_u"),
        expr("CAST(round(h * 1000000000) AS BIGINT)").as("h_ppb"),
        expr(
          "CAST(round(CAST(r_u AS DOUBLE) * CAST(r_u AS DOUBLE) / (2.0 * CAST(sr2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)) * (h / ((1.0 - h) * (1.0 - h))) * 1000000000) AS BIGINT)")
          .as("d_nano"))
      .orderBy(col("d_nano").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
  }

  /** [[cooksDistance]] mirrored: the identical sufficient-statistic →
    * residual → leverage → D chain; TakeOrdered = ORDER BY/LIMIT.
    */
  def cooksDistanceSql(): String = {
    val rU = "CAST(round(abs(CAST(y_mic AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) / 1000) AS BIGINT)"
    val hD =
      "(1.0 / CAST(n AS DOUBLE) + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    s"""WITH f AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       |         CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |         CAST(l_quantity AS BIGINT) AS x,
       |         CAST(round(l_extendedprice * 1000) AS BIGINT) AS y_mic
       |  FROM lineitem),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y_mic) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y_mic) AS BIGINT) AS sxy
       |  FROM f),
       |m0 AS (
       |  SELECT n, sx, sxx,
       |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
       |         sy
       |  FROM st),
       |m AS (
       |  SELECT n, sx, sxx, b,
       |         (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
       |  FROM m0),
       |s2 AS (
       |  SELECT CAST(sum($rU * $rU) AS BIGINT) AS sr2
       |  FROM f CROSS JOIN m),
       |rows0 AS (
       |  SELECT l_orderkey, l_linenumber, x, y_mic,
       |         $rU AS r_u, $hD AS h, n, sr2
       |  FROM f CROSS JOIN m CROSS JOIN s2)
       |SELECT l_orderkey, l_linenumber, x, y_mic, r_u,
       |       CAST(round(h * 1000000000) AS BIGINT) AS h_ppb,
       |       CAST(round(CAST(r_u AS DOUBLE) * CAST(r_u AS DOUBLE) / (2.0 * CAST(sr2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)) * (h / ((1.0 - h) * (1.0 - h))) * 1000000000) AS BIGINT) AS d_nano
       |FROM rows0
       |ORDER BY d_nano DESC, l_orderkey, l_linenumber
       |LIMIT 20""".stripMargin
  }

  // ---- pass@k (unbiased estimator, Chen et al. 2021) -------------------------

  /** Exact pass@k over a bounded per-task sample — the HumanEval-style
    * functional-correctness estimator every code/eval pipeline reports:
    * pass@k = 1 − C(n−c,k)/C(n,k), computed in its numerically-stable
    * product form ∏_{i=0}^{k−1}(n−c−i)/(n−i) (Chen et al. 2021, "of
    * which we evaluate the unbiased estimator"). Tasks are event types;
    * the per-task sample is the FIRST `nSamples` events by event_id (a
    * deterministic fixed-size draw); a sample passes when value >
    * `passValue`.
    *
    * Determinism: n and c are exact integers; the k-factor product is
    * ONE fixed double expression (identical text in both engines) with
    * each factor clamped at 0 (c > n−k ⇒ pass@k = 1 exactly).
    *
    * Scale shape: per-task rank-limit (k tasks are a bounded set; at a
    * 100 TB event log the same draw is a per-type bounded TopK
    * aggregator — the window form is the oracle-shared shape), then
    * k-row arithmetic.
    *
    * Output: one row per task `(event_type, n, c, pass1_ppm, pass5_ppm,
    * pass10_ppm)`.
    */
  def passAtK(events: DataFrame, nSamples: Int = 50, passValue: Double = 80.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("event_id"))
    def prodExpr(k: Int): String =
      (0 until k)
        .map(i => s"(CAST(greatest(n - c - $i, 0) AS DOUBLE) / CAST(n - $i AS DOUBLE))")
        .mkString(" * ")
    def passPpm(k: Int): String =
      // n < k: the estimator is undefined (a 0/0 factor) — NULL in both
      // engines rather than a NaN whose BIGINT cast diverges
      s"CASE WHEN n < $k THEN NULL ELSE CAST(round((1.0 - ${prodExpr(k)}) * 1000000) AS BIGINT) END"
    events
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nSamples)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") > passValue, 1L).otherwise(0L)).as("c"))
      .select(
        col("event_type"), col("n"), col("c"),
        expr(passPpm(1)).as("pass1_ppm"),
        expr(passPpm(5)).as("pass5_ppm"),
        expr(passPpm(10)).as("pass10_ppm"))
  }

  /** [[passAtK]] mirrored. */
  def passAtKSql(nSamples: Int = 50, passValue: Double = 80.0): String = {
    def prodExpr(k: Int): String =
      (0 until k)
        .map(i => s"(CAST(greatest(n - c - $i, 0) AS DOUBLE) / CAST(n - $i AS DOUBLE))")
        .mkString(" * ")
    def passPpm(k: Int): String =
      s"CASE WHEN n < $k THEN NULL ELSE CAST(round((1.0 - ${prodExpr(k)}) * 1000000) AS BIGINT) END"
    s"""WITH r AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
       |  FROM events),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN value > $passValue THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM r WHERE rn <= $nSamples GROUP BY event_type)
       |SELECT event_type, n, c,
       |       ${passPpm(1)} AS pass1_ppm,
       |       ${passPpm(5)} AS pass5_ppm,
       |       ${passPpm(10)} AS pass10_ppm
       |FROM g""".stripMargin
  }

  // ---- Bradley–Terry pairwise-preference ranking ----------------------------

  /** Bradley–Terry strengths from pairwise preferences — the ranking
    * model RLHF/arena pipelines fit over comparison data (Bradley &
    * Terry 1952; Hunter 2004's MM iteration θ_i ← W_i / Σ_j n_ij/(θ_i+θ_j),
    * the update Chatbot-Arena-style leaderboards run). Preferences are
    * derived deterministically from the event log: per user, each
    * ADJACENT pair of different-type events (ordered by ts, event_id)
    * is one comparison won by the higher-value side (ties skipped).
    *
    * Determinism: the win matrix is exact counts; each MM round's
    * denominator terms round to integer nanos BEFORE the (k-row) sum;
    * θ updates and the Σθ = k normalization are fixed double forms on
    * the rounded integers — 8 unrolled rounds, identical in both
    * engines. The k² win matrix is a BOUNDED artifact (k = #event
    * types), so the engine iterates it on the driver; the oracle
    * mirrors the identical arithmetic as unrolled CTEs.
    *
    * Scale shape: one lag window per user (the sessionize shape) → one
    * k²-row aggregate; everything after is k-row arithmetic.
    *
    * Output: one row per item `(event_type, wins, losses, theta_nano,
    * rnk)` — rnk by θ descending, ties by name.
    */
  def bradleyTerry(events: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = events.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("p_type", lag(col("event_type"), 1).over(w))
      .withColumn("p_value", lag(col("value"), 1).over(w))
      .filter(col("p_type").isNotNull && col("p_type") =!= col("event_type") &&
        col("p_value") =!= col("value"))
      .select(
        when(col("value") > col("p_value"), col("event_type")).otherwise(col("p_type"))
          .as("win_t"),
        when(col("value") > col("p_value"), col("p_type")).otherwise(col("event_type"))
          .as("lose_t"))
      .groupBy(col("win_t"), col("lose_t"))
      .agg(count(lit(1)).as("cnt"))
    // bounded k² artifact (k = #event types): the MM iteration runs on
    // the driver over these counts, mirroring the oracle's unrolled CTEs
    val wm = pairs.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val items = wm.keysIterator.flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct.sorted
    val k = items.size
    def nij(a: String, b: String): Long = wm.getOrElse((a, b), 0L) + wm.getOrElse((b, a), 0L)
    val wins = items.map(i => i -> items.filterNot(_ == i).map(j => wm.getOrElse((i, j), 0L)).sum).toMap
    var theta = items.map(_ -> 1000000000L).toMap
    (1 to rounds).foreach { _ =>
      val updated = items.map { i =>
        val sNano = items.filterNot(_ == i).map { j =>
          math.round(
            nij(i, j).toDouble / ((theta(i) + theta(j)).toDouble / 1.0e9) * 1.0e9)
        }.sum
        i -> (if (sNano == 0L) 0L
              else math.round(wins(i).toDouble * 1.0e18 / sNano.toDouble))
      }.toMap
      val total = updated.valuesIterator.sum
      theta =
        if (total == 0L) updated
        else updated.map { case (i, t) =>
          i -> math.round(t.toDouble * (k.toDouble * 1.0e9) / total.toDouble)
        }
    }
    val losses =
      items.map(i => i -> items.filterNot(_ == i).map(j => wm.getOrElse((j, i), 0L)).sum).toMap
    val ranked = items
      .map(i => (i, wins(i), losses(i), theta(i)))
      .sortBy { case (i, _, _, t) => (-t, i) }
      .zipWithIndex
      .map { case ((i, wn, ls, t), r) => (i, wn, ls, t, (r + 1).toLong) }
    import spark.implicits._
    ranked.toDF("event_type", "wins", "losses", "theta_nano", "rnk")
  }

  /** [[bradleyTerry]] mirrored: the win matrix from the same lag
    * window, then `rounds` unrolled MM CTEs doing the identical
    * nano-rounded arithmetic over the k-row item table.
    */
  def bradleyTerrySql(rounds: Int = 8): String = {
    // every round CTE is MATERIALIZED: the chain t_r → u_r → s_r → t_{r-1}
    // re-evaluates EXPONENTIALLY if left as views (each round references
    // its predecessor several times)
    def roundCte(r: Int): String =
      s"""s$r AS MATERIALIZED (
         |  SELECT nm.a AS t,
         |         CAST(sum(CAST(round(CAST(nm.n AS DOUBLE)
         |             / ((CAST(ta.th AS DOUBLE) + CAST(tb.th AS DOUBLE)) / 1e9) * 1e9)
         |           AS BIGINT)) AS BIGINT) AS s_nano
         |  FROM nmat nm
         |  JOIN t${r - 1} ta ON ta.t = nm.a
         |  JOIN t${r - 1} tb ON tb.t = nm.b
         |  GROUP BY nm.a),
         |u$r AS MATERIALIZED (
         |  SELECT s$r.t,
         |         CASE WHEN s_nano = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(round(CAST(w.w AS DOUBLE) * 1e18 / CAST(s_nano AS DOUBLE))
         |                AS BIGINT) END AS th
         |  FROM s$r JOIN wins w ON w.t = s$r.t),
         |t$r AS MATERIALIZED (
         |  SELECT t,
         |         CASE WHEN (SELECT sum(th) FROM u$r) = 0 THEN th
         |              ELSE CAST(round(CAST(th AS DOUBLE)
         |                * (CAST((SELECT count(*) FROM items) AS DOUBLE) * 1e9)
         |                / CAST((SELECT sum(th) FROM u$r) AS DOUBLE)) AS BIGINT) END AS th
         |  FROM u$r)""".stripMargin
    val ctes = (1 to rounds).map(roundCte).mkString(",\n")
    s"""WITH lagged AS (
       |  SELECT event_type, value,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_type,
       |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_value
       |  FROM events),
       |pw AS MATERIALIZED (
       |  SELECT CASE WHEN value > p_value THEN event_type ELSE p_type END AS win_t,
       |         CASE WHEN value > p_value THEN p_type ELSE event_type END AS lose_t,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM lagged
       |  WHERE p_type IS NOT NULL AND p_type <> event_type AND p_value <> value
       |  GROUP BY 1, 2),
       |items AS MATERIALIZED (
       |  SELECT DISTINCT win_t AS t FROM pw UNION SELECT DISTINCT lose_t FROM pw),
       |nmat AS MATERIALIZED (
       |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM (
       |    SELECT win_t AS a, lose_t AS b, cnt FROM pw
       |    UNION ALL SELECT lose_t, win_t, cnt FROM pw)
       |  GROUP BY a, b),
       |wins AS MATERIALIZED (
       |  SELECT i.t, CAST(coalesce(sum(pw.cnt), 0) AS BIGINT) AS w
       |  FROM items i LEFT JOIN pw ON pw.win_t = i.t GROUP BY i.t),
       |losses AS MATERIALIZED (
       |  SELECT i.t, CAST(coalesce(sum(pw.cnt), 0) AS BIGINT) AS l
       |  FROM items i LEFT JOIN pw ON pw.lose_t = i.t GROUP BY i.t),
       |t0 AS MATERIALIZED (SELECT t, CAST(1000000000 AS BIGINT) AS th FROM items),
       |$ctes
       |SELECT w.t AS event_type, w.w AS wins, l.l AS losses, f.th AS theta_nano,
       |       CAST(row_number() OVER (ORDER BY f.th DESC, w.t) AS BIGINT) AS rnk
       |FROM t$rounds f JOIN wins w ON w.t = f.t JOIN losses l ON l.t = f.t""".stripMargin
  }
}
