package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{ReverseGraphMain, SparkEntry, SsspMain}
import graft.functions.Parity
import graft.operators.{Dedup, GraphOps}
import graft.sources.TextEdgeIO

/** The benchmark's child JVM. It holds one Spark session and runs ops sent
  * one line at a time on stdin (a closed loop: the parent sends the next op
  * only after this one has replied), and answers each with one `@@ {json}`
  * line on stdout.
  *
  * Every op calls only the engine's public entry points. A traced op is
  * composed from the same public calls its entry point makes, with one
  * span around each call; [[Tracker]] adds the Spark counts of every job to
  * the innermost span open when the job was submitted.
  *
  * Usage:
  *   Child serve <cores> <workDir>     run ops from stdin
  *   Child oracle-sql <out.json>       write the dedup oracle queries
  */
object Child {

  val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = args match {
    case Array("oracle-sql", out) =>
      val sql = SparkEntry.oracleSql
      // the signature kernel has no oracle entry of its own: this is the
      // `sigs` step of the dedup_clusters oracle
      val sigs = s"SELECT doc_id, ${Parity.minhashSigSql(Parity.tokenCodesSql("text"), Dedup.MinhashK)} " +
        "AS sig FROM documents"
      Files.writeString(
        Paths.get(out),
        Json.obj(
          Seq("dedup_clusters", "dedup_prefix_jaccard").map(n => n -> Json.str(sql(n))) :+
            ("minhash_signatures" -> Json.str(sigs))))
    case Array("serve", cores, workDir) => serve(cores.toInt, workDir)
    case _ =>
      System.err.println("usage: Child serve <cores> <workDir> | Child oracle-sql <out.json>")
      sys.exit(2)
  }

  /** One open or closed span: a public call inside an op. */
  final class Span(val id: Int, val name: String, val parent: Int) {
    val startNs: Long = System.nanoTime()
    val startMs: Long = System.currentTimeMillis()
    var endNs: Long = 0L
    var endMs: Long = 0L
    var childNs: Long = 0L
    def durS: Double = (endNs - startNs) / 1e9
    def selfS: Double = (endNs - startNs - childNs) / 1e9
  }

  private def serve(cores: Int, workDir: String): Unit = {
    // Spark and its libraries log to stderr; only replies go to stdout.
    val out = new PrintStream(System.out, true, StandardCharsets.UTF_8)
    System.setOut(System.err)
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracker = new Tracker
    spark.sparkContext.addSparkListener(tracker)
    out.println("@@ " + Json.obj(Seq("event" -> Json.str("ready"))))

    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line != "quit") {
      val f = line.split("\t")
      out.println("@@ " + runOp(spark, tracker, f(1), f(2), f(3) == "1", f.drop(4)))
      line = in.readLine()
    }
    spark.stop()
  }

  private def runOp(
      spark: SparkSession,
      tracker: Tracker,
      id: String,
      kind: String,
      traced: Boolean,
      a: Array[String]): String = {
    val sc = spark.sparkContext
    val spans = mutable.ArrayBuffer.empty[Span]
    var open: List[Span] = Nil

    def enter(name: String): Span = {
      val s = new Span(tracker.newSpanId(), name, open.headOption.map(_.id).getOrElse(-1))
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      s
    }
    def exit(s: Span): Unit = {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption.foreach(_.childNs += s.endNs - s.startNs)
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
    /** A span around one public call; untraced ops open only the root. */
    def span[A](name: String)(body: => A): A =
      if (!traced) body
      else {
        val s = enter(name)
        try body finally exit(s)
      }
    def docs: DataFrame = spark.read.parquet(a(0))
    def sink(df: DataFrame): Unit = span("sink.writeParquet")(df.write.mode("overwrite").parquet(a(1)))

    val root = enter(s"op.$kind")
    var err: Option[Throwable] = None
    try kind match {
      case "sssp" =>
        val source = a(2).toLong
        if (!traced) SsspMain.run(spark, a(0), a(1), source)
        else {
          // the body of SsspMain.run / TextEdgeIO.ssspFromFile, call by call
          val edges = span("sources.readEdges")(TextEdgeIO.readEdges(spark, a(0)))
          val state = span("graphops.sssp")(GraphOps.sssp(edges, source))
          val result = span("graphops.finalResult")(GraphOps.finalResult(state, source))
          span("sources.writeResult")(
            TextEdgeIO.writeResult(result.orderBy(col("id")).coalesce(1), a(1)))
        }
      case "reverse" =>
        if (!traced) ReverseGraphMain.run(spark, a(0), a(1))
        else {
          // the body of ReverseGraphMain.run, call by call
          val edges = span("sources.readUnweightedEdges")(TextEdgeIO.readUnweightedEdges(spark, a(0)))
          val rev = span("graphops.reverseGraph")(GraphOps.reverseGraph(edges))
          span("sources.writeAdjacency")(
            TextEdgeIO.writeAdjacency(rev.orderBy(col("node")).coalesce(1), a(1)))
        }
      case "clusters" =>
        val d = docs
        val pairs = span("dedup.minhashCandidatePairs")(Dedup.minhashCandidatePairs(d))
        sink(span("dedup.clusters")(Dedup.clusters(d, pairs)))
      case "pairs" =>
        sink(span("dedup.prefixFilterPairs")(Dedup.prefixFilterPairs(docs)))
      case "minhash_sig" =>
        sink(span("functions.minhashSignatures")(Dedup.minhashSignatures(docs)))
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    } catch {
      // StackOverflowError is a VirtualMachineError: NonFatal would miss it
      case t: Throwable => err = Some(t)
    }
    while (open.nonEmpty) exit(open.head)
    val stopped = sc.isStopped
    if (!stopped) {
      org.apache.spark.perfbench.Bus.drain(sc)
      // free every block the op left behind, outside its timed window
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val report = tracker.report(spans.toSeq)
    Json.obj(Seq(
      "id" -> Json.str(id),
      "ok" -> err.isEmpty.toString,
      "wall_s" -> Json.num(root.durS),
      "err" -> err.map(t => Json.str(t.getClass.getName)).getOrElse("null"),
      "msg" -> err.map(t => Json.str(String.valueOf(t.getMessage).take(300))).getOrElse("null"),
      "stopped" -> stopped.toString,
      "spans" -> report))
  }
}

/** Listener counts, keyed by the span a job's submitting thread had open. */
final class Tracker extends SparkListener {

  final class Counts {
    var jobs, stages, tasks, taskFailures = 0L
    var cpuNs, gcMs, schedMs = 0L
    var shuffleWriteBytes, shuffleWriteRecords, shuffleReadRecords = 0L
    var inputRecords, spillBytes, peakMem = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageIds = mutable.ArrayBuffer.empty[Int]
  }

  private var nextSpan = 0
  private val counts = mutable.Map.empty[Int, Counts]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageWallMs = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Child.SpanKey))).map(_.toInt).getOrElse(-1)

  private def c(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobSpan(e.jobId) = (span, e.time)
    c(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) => c(span).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    c(span).stages += 1
    c(span).stageIds += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime) stageWallMs(i.stageId) = t1 - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageSpan.getOrElse(e.stageId, -1))
    val info = e.taskInfo
    k.tasks += 1
    if (e.reason != Success) k.taskFailures += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      k.cpuNs += m.executorCpuTime
      k.gcMs += m.jvmGCTime
      k.schedMs += math.max(
        0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      k.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      k.inputRecords += m.inputMetrics.recordsRead
      k.spillBytes += m.diskBytesSpilled
      k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
    }
  }

  /** The op's spans with their counts, as a JSON list, root first; the
    * root also carries the op's task skew. Forgets the op's state.
    */
  def report(spans: Seq[Child.Span]): String = synchronized {
    val all = spans.map(s => s -> counts.remove(s.id).getOrElse(new Counts))
    // task skew: max ÷ median task time in the op's longest stage
    val opStages = all.flatMap(_._2.stageIds)
    val skew =
      if (opStages.isEmpty) 0.0
      else {
        val longest = opStages.maxBy(s => stageWallMs.getOrElse(s, 0L))
        val ts = stageTaskMs.getOrElse(longest, mutable.ArrayBuffer(0L)).sorted
        ts.last.toDouble / math.max(1L, ts(ts.size / 2))
      }
    opStages.foreach { s => stageSpan.remove(s); stageWallMs.remove(s); stageTaskMs.remove(s) }
    counts.remove(-1)
    Json.arr(all.map { case (s, k) =>
      // time inside the span with no job of the span running
      val jobs = k.jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      jobs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      Json.obj(Seq(
        "name" -> Json.str(s.name),
        "id" -> s.id.toString,
        "parent" -> s.parent.toString,
        "dur_s" -> Json.num(s.durS),
        "self_s" -> Json.num(s.selfS),
        "gap_s" -> Json.num(math.max(0.0, s.durS - covered / 1e3)),
        "jobs" -> k.jobs.toString,
        "stages" -> k.stages.toString,
        "tasks" -> k.tasks.toString,
        "task_failures" -> k.taskFailures.toString,
        "cpu_s" -> Json.num(k.cpuNs / 1e9),
        "gc_s" -> Json.num(k.gcMs / 1e3),
        "sched_delay_s" -> Json.num(k.schedMs / 1e3),
        "shuffle_write_bytes" -> k.shuffleWriteBytes.toString,
        "shuffle_write_records" -> k.shuffleWriteRecords.toString,
        "shuffle_read_records" -> k.shuffleReadRecords.toString,
        "input_records" -> k.inputRecords.toString,
        "spill_bytes" -> k.spillBytes.toString,
        "peak_mem_bytes" -> k.peakMem.toString,
        "job_s" -> Json.arr(k.jobIntervals.map { case (a, b) => Json.num((b - a) / 1e3) }.toSeq),
        "task_skew" -> Json.num(if (s.parent == -1) skew else 0.0)))
    })
  }
}

/** Just enough JSON writing for the reply lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
