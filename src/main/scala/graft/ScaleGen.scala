package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe corpus builder (VERDICT r15 #8 / r14 #4): replicate EVERY
  * input table `mult`× into an output directory that [[Bench]] can run
  * against unchanged (`SPARK_GRAFT_SF_DIR=<out>`), giving the engine-only
  * full-inventory 10× scale point.
  *
  * Construction (replica k of 0..mult−1):
  *  - every BIGINT entity key (orderkey, partkey, suppkey, custkey,
  *    doc_id, vec_id, event_id, user_id) shifts by k·G with ONE global
  *    span G = max over all key domains + 1 — so intra-replica joins and
  *    the lineitem graph's deliberate orderkey/partkey conflation are
  *    preserved verbatim, and replicas are id-disjoint;
  *  - `nation`/`region` stay shared (25/5-row dimensions) — the layered
  *    customer graph glues its replicas at the nation nodes, a hub
  *    topology rather than disjoint copies (documented, not a bug);
  *  - `documents.text` gets a per-replica suffix token (replica 0
  *    verbatim) so the dedup families see ~10× organic near-duplicate
  *    growth instead of a ×100 quadratic exact-clone pair blowup that
  *    would measure the DATA construction, not the engine;
  *  - `embeddings.embedding` gets a tiny deterministic per-replica
  *    jitter for the same reason (exact-duplicate vectors pair
  *    quadratically in the semantic-dedup / ANN recall paths);
  *  - `events.ts` is untouched: the same time range at mult× density,
  *    the honest stress for every window/stream operator.
  *
  * Usage: runMain graft.ScaleGen [mult] [outDir] [sfDir]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val mult = if (args.length > 0) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else s"/root/scale${10}x"
    val sfDir =
      if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("32")
    def t(n: String): DataFrame = spark.read.parquet(s"$sfDir/$n.parquet")
    val g = Seq(
      t("lineitem").agg(greatest(max("l_orderkey"), max("l_partkey"), max("l_suppkey"))),
      t("orders").agg(greatest(max("o_orderkey"), max("o_custkey"))),
      t("customer").agg(max("c_custkey")),
      t("part").agg(max("p_partkey")),
      t("supplier").agg(max("s_suppkey")),
      t("documents").agg(max("doc_id")),
      t("embeddings").agg(max("vec_id")),
      t("events").agg(greatest(max("event_id"), max("user_id"))))
      .map(_.head().getLong(0))
      .max + 1L
    println(s"[scalegen] mult=$mult span=$g out=$outDir")
    def replicated(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = t(name)
      val out = (0 until mult).map(k => f(base, k)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name rows=${spark.read.parquet(s"$outDir/$name.parquet").count()}")
    }
    def sh(c: String, k: Int) = (col(c) + lit(k.toLong * g)).as(c)
    replicated("customer")((d, k) =>
      d.select(sh("c_custkey", k), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")))
    replicated("orders")((d, k) =>
      d.select(sh("o_orderkey", k), sh("o_custkey", k), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    replicated("lineitem")((d, k) =>
      d.select(sh("l_orderkey", k), sh("l_partkey", k), sh("l_suppkey", k),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    replicated("part")((d, k) =>
      d.select(sh("p_partkey", k), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice")))
    replicated("supplier")((d, k) =>
      d.select(sh("s_suppkey", k), col("s_name"), col("s_nationkey"), col("s_acctbal")))
    replicated("documents") { (d, k) =>
      val txt = if (k == 0) col("text") else concat(col("text"), lit(s" zrep$k"))
      val nc = if (k == 0) col("n_chars") else col("n_chars") + lit(s" zrep$k".length.toLong)
      d.select(sh("doc_id", k), txt.as("text"), col("lang"), col("source"), nc.as("n_chars"))
    }
    replicated("embeddings") { (d, k) =>
      val emb =
        if (k == 0) col("embedding")
        else
          expr(s"transform(embedding, (x, i) -> x + ${k}e-3f * CAST(i % 7 - 3 AS FLOAT))")
      d.select(sh("vec_id", k), emb.as("embedding"), col("label"))
    }
    replicated("events")((d, k) =>
      d.select(sh("event_id", k), col("ts"), sh("user_id", k), col("event_type"),
        col("value"), col("props")))
    Seq("nation", "region").foreach { n =>
      t(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      println(s"[scalegen] $n copied")
    }
    spark.stop()
  }
}
