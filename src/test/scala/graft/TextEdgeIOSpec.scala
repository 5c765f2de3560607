package graft

import java.nio.file.Files

import graft.operators.GraphOps
import graft.sources.TextEdgeIO

/** Reference text-format I/O: read the checked-in micro-graph fixtures,
  * run the full pipeline, round-trip node state through the reference's
  * record shapes (FIXTURES.md §3).
  */
class TextEdgeIOSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  test("sssp from reference-format edge file matches hand-computed distances") {
    // CLRS figure: dists from 0 are (0, 8, 9, 5, 7)
    val out = TextEdgeIO
      .ssspFromFile(spark, fixture("micrograph.txt"), source = 0L)
      .collect()
      .map(r => r.getLong(1) -> r.getDouble(2))
      .toMap
    assert(out === Map(0L -> 0.0, 1L -> 8.0, 2L -> 9.0, 3L -> 5.0, 4L -> 7.0))
  }

  test("header comment line is skipped (F1)") {
    assert(TextEdgeIO.readEdges(spark, fixture("micrograph.txt")).count() === 10)
  }

  test("unweighted tab variant reads with weight 1.0 and reverses correctly") {
    val edges = TextEdgeIO.readUnweightedEdges(spark, fixture("micrograph_unweighted.tsv"))
    assert(edges.count() === 5)
    val rev = GraphOps.reverseGraph(edges).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev(1L) === "0,3") // in-edges of 1 from 0 and 3, ascending
  }

  test("node-state text round-trip preserves every field") {
    val tmp = Files.createTempDirectory("nodestate").toString + "/state"
    val state = GraphOps.buildAdjacency(
      TextEdgeIO.readEdges(spark, fixture("micrograph.txt")),
      source = 0L)
    TextEdgeIO.writeNodeState(state, tmp)
    val back = TextEdgeIO.readNodeState(spark, tmp)
    val a = state.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).sortBy(_._1)
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).sortBy(_._1)
    assert(a === b)
  }

  test("edge sink + adjacency decode round-trip the edge list exactly") {
    val edges = TextEdgeIO.readEdges(spark, fixture("micrograph.txt"))
    val tmpE = Files.createTempDirectory("edgetxt").toString + "/edges"
    TextEdgeIO.writeEdges(edges, tmpE)
    val backE = TextEdgeIO.readEdges(spark, tmpE)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(backE) === asSet(edges))
    // node-state adjacency string → edges: the P2 inverse
    val decoded = TextEdgeIO.adjacencyEdges(GraphOps.buildAdjacency(edges, source = 0L))
    assert(asSet(decoded) === asSet(edges))
  }

  /** The lines of the one part file a single-reducer sink wrote to `dir`. */
  private def onePartLines(dir: String): Seq[String] = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, s"expected one part file in $dir")
    val src = scala.io.Source.fromFile(parts.head)
    try src.getLines().toList
    finally src.close()
  }

  test("CLI entry points reproduce the reference's program outputs") {
    // SingleSourceSP.main(in, out, queryNode) equivalent: one part file,
    // ids ascending, like the reference's single final reducer
    val ssspOut = Files.createTempDirectory("cli-sssp").toString + "/out"
    SsspMain.run(spark, fixture("micrograph.txt"), ssspOut, source = 0L)
    assert(onePartLines(ssspOut) === Seq("0\t0 0.0", "0\t1 8.0", "0\t2 9.0", "0\t3 5.0", "0\t4 7.0"))
    // ReverseGraph.main(in, out) equivalent on the tab fixture: one part
    // file, nodes ascending
    val revOut = Files.createTempDirectory("cli-rev").toString + "/out"
    ReverseGraphMain.run(spark, fixture("micrograph_unweighted.tsv"), revOut)
    // node\tsortedCsv (ReverseGraph.java:200)
    assert(onePartLines(revOut) === Seq("0\t4", "1\t0,3", "2\t1", "3\t0"))
  }

  test("result sink writes the reference's src\\tid dist lines") {
    val tmp = Files.createTempDirectory("result").toString + "/out"
    val result = TextEdgeIO.ssspFromFile(spark, fixture("micrograph.txt"), 0L)
    TextEdgeIO.writeResult(result, tmp)
    val lines = spark.read.text(tmp).collect().map(_.getString(0)).sorted
    assert(lines.contains("0\t3 5.0"))
    assert(lines.length === 5)
  }
}
