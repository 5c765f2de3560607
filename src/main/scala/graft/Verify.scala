package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Fault-injection flag (env or sysprop): adds a deliberately throwing
    * query so the err path can be checked END-TO-END — with the flag on,
    * the driver's compare must record an `err` for `fault_injection`
    * (the oracle entry exists, the parquet dir doesn't), never a silent
    * absence. Off by default; the 94-row green wall is unchanged.
    */
  private def faultEnabled: Boolean =
    sys.env.contains("GRAFT_VERIFY_FAULT") || sys.props.contains("graft.verify.fault")

  private val faultQuery: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberate fault (GRAFT_VERIFY_FAULT is set)")

  def effectiveQueries: Map[String, (SparkSession, String) => DataFrame] =
    if (faultEnabled) SparkEntry.queries + ("fault_injection" -> faultQuery)
    else SparkEntry.queries

  def effectiveOracles: Map[String, String] =
    if (faultEnabled) SparkEntry.oracleSql + ("fault_injection" -> "SELECT CAST(1 AS BIGINT) AS one")
    else SparkEntry.oracleSql

  /** The per-query dump loop: one failing query must never take down the
    * run (its dir is simply absent — the driver records err from the
    * oracle side) nor leak its cached/staged state into the next query.
    */
  def dump(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracles: Map[String, String]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.freeAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // MANIFEST SELF-CHECK: round 14's driver compare silently dropped a
    // registered query (graph_closeness_est had no correctness row, no
    // err, nothing) — so the dump now counts its own output dirs against
    // the registry and says so loudly, in stdout AND in a file the
    // compare side can cross-check. A query that failed above is listed
    // as missing here; a query missing WITHOUT a [verify] failure line
    // means the drop happened outside this process.
    val dumped = queries.keys.toSeq.sorted
      .filter(n => Files.exists(Paths.get(outDir, n, "_SUCCESS")))
    val missing = queries.keys.toSeq.sorted.diff(dumped)
    val manifest =
      s"""{"registered": ${queries.size}, "dumped": ${dumped.size}, """ +
        s""""missing": ${missing.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    println(s"[verify] dumped ${dumped.size} of ${queries.size} registered queries" +
      (if (missing.isEmpty) "" else s"; MISSING: ${missing.mkString(", ")}"))
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — local iteration
    // only (the driver always dumps the full map)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(cpus)
    val qs = only.fold(effectiveQueries)(n => effectiveQueries.filter(kv => n(kv._1)))
    val os = only.fold(effectiveOracles)(n => effectiveOracles.filter(kv => n(kv._1)))
    dump(spark, sfDir, outDir, qs, os)
    spark.stop()
  }
}
