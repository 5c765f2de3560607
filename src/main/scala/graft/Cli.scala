package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.GraphOps
import graft.sources.TextEdgeIO

/** Drop-in command-line equivalents of the reference's two entry points,
  * so a user of the reference can switch binaries without changing
  * invocations, input files, or output format:
  *
  *   - `SingleSourceSP.main(in, out, queryNode)`
  *     (`SingleSourceSP.java:296-311`) → [[SsspMain]];
  *   - `ReverseGraph.main(in, out)` (`ReverseGraph.java:207-229`) →
  *     [[ReverseGraphMain]].
  *
  * Same text record shapes in and out (SURVEY.md §1.1); the reference's
  * single-reducer final jobs (`SingleSourceSP.java:502`,
  * `ReverseGraph.java:225`) become `repartition(1).sortWithinPartitions`
  * at the sink only — everything before it runs at full parallelism, and
  * the one sink task does the sort. (`orderBy(...).coalesce(1)` would
  * add a range-sampling job that computes the whole upstream once more
  * before the sort.)
  */
private object CliSession {
  def apply(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
    // Precedence: never call .master() when spark-submit already set one
    // (builder config overrides --master and would silently pull a
    // cluster job onto the gateway); SPARK_MASTER overrides explicitly;
    // bare-JVM runs (sbt runMain) fall back to local[*].
    sys.env.get("SPARK_MASTER") match {
      case Some(m) => b.master(m)
      case None => if (!sys.props.contains("spark.master")) b.master("local[*]")
    }
    b.getOrCreate()
  }
}

/** `runMain graft.SsspMain <edges.txt> <outDir> <queryNode>` */
object SsspMain {

  /** The whole reference program against an existing session — used by
    * the CLI below and directly embeddable.
    */
  def run(spark: SparkSession, in: String, out: String, source: Long): Unit =
    TextEdgeIO.writeResult(
      TextEdgeIO.ssspFromFile(spark, in, source).repartition(1).sortWithinPartitions(col("id")),
      out)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SsspMain <input> <output> <queryNode>")
    val spark = CliSession("graft-sssp")
    try run(spark, args(0), args(1), args(2).toLong)
    finally spark.stop()
  }
}

/** `runMain graft.ReverseGraphMain <edges.tsv> <outDir>` */
object ReverseGraphMain {

  def run(spark: SparkSession, in: String, out: String): Unit =
    TextEdgeIO.writeAdjacency(
      GraphOps.reverseGraph(TextEdgeIO.readUnweightedEdges(spark, in))
        .repartition(1)
        .sortWithinPartitions(col("node")),
      out)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ReverseGraphMain <input> <output>")
    val spark = CliSession("graft-reverse")
    try run(spark, args(0), args(1))
    finally spark.stop()
  }
}
