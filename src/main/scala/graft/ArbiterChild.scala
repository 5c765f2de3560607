package graft
import scala.jdk.CollectionConverters._

/** Fresh-JVM measurement child for [[Bench]]: a long bench session's
  * JIT profile decays at the shared interpreted-eval call sites (see
  * PERF_NOTES rounds 6–7), inflating late measurements in ways the
  * same process cannot undo — so trustworthy numbers come from CHILD
  * JVMs that inherit the parent's classpath and module flags.
  *
  * Two modes:
  *  - `sweep`: one timed rep per query after the shared session warmup
  *    — the chunked-sweep unit. Splitting the ~140-query sweep across a
  *    few children bounds how much JIT decay any one measurement can
  *    accumulate, so the PUBLISHED per-query map is trustworthy, not
  *    just the arbiter's top-10.
  *  - `min2`: one untimed + two timed reps, min reported — the arbiter
  *    re-measurement for the slowest queries, matching the judge's
  *    warm-rep standalone methodology.
  */
object ArbiterChild {

  /** Child entry: `ArbiterChild <sfDir> <cpus> <mode> <query>...` —
    * prints one `[arbiter] <name> <sec>` line per query (`-1` for a
    * query that threw, so a broken query never looks fast), a
    * `[spill] <name> <memMB> <diskMB> <peakTaskMB>` line per query,
    * and a final `[loadmax] <v>` line (worst 1-min load sampled
    * between queries — the parent folds it into the published
    * load_max).
    */
  def main(args: Array[String]): Unit = {
    val (sfDir, cpus, mode, names) = (args(0), args(1), args(2), args.drop(3))
    // the child's whole reason to exist is clean numbers — if the host
    // is loaded (the sweep may have ended inside an ambient spike, as
    // r7's did), wait briefly for it to pass before measuring
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    var waited = 0
    while (loadAvg > 2.0 && waited < 180) { Thread.sleep(15000); waited += 15 }
    val spark = Harness.session(cpus, logLevel = "ERROR")
    Harness.warmup(spark, sfDir, "arbiter")
    Harness.freeAll(spark)
    var loadMax = loadAvg
    names.foreach { name =>
      try {
        // (wall sec, micro-batch work ms) per rep: a streaming query's
        // wall time conflates trigger-latch/poll waits with work, so the
        // work accumulator is published next to it for every `_stream`
        // query — the adjudicable number the round-12 regressions lacked
        def rep(): (Double, Long, Long, (Long, Long, Long)) = {
          streaming.StreamOps.streamWorkMs.set(0L)
          streaming.StreamOps.streamTriggers.set(0L)
          // spill accounting around every measured rep, so the sweep
          // artifact carries it for the whole inventory
          val sl = new Harness.SpillListener
          spark.sparkContext.addSparkListener(sl)
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events post async — drain before reading
          org.apache.spark.sql.graftbridge.CheckpointBridge.drainListenerBus(spark.sparkContext)
          spark.sparkContext.removeSparkListener(sl)
          Harness.freeAll(spark)
          (dt, streaming.StreamOps.streamWorkMs.get(), streaming.StreamOps.streamTriggers.get(),
            (sl.memSpilled.get(), sl.diskSpilled.get(), sl.peakExecMem.get()))
        }
        val dts = mode match {
          case "min2" =>
            // one untimed + two timed reps, report the min: plan-heavy
            // queries (40+ jobs of driver-side Catalyst work) need more
            // than one rep before the planner itself is JIT-warm —
            // measured 15 s → 5 s between rep 2 and rep 3 on ivfpq
            SparkEntry.queries(name)(spark, sfDir).count()
            Harness.freeAll(spark)
            (1 to 2).map(_ => rep())
          case _ =>
            Seq(rep())
        }
        loadMax = math.max(loadMax, loadAvg)
        val best = dts.minBy(_._1)
        println(f"[arbiter] $name ${best._1}%.3f")
        // work-ms AND trigger count of the best rep: the pair makes a
        // work inflation self-diagnosing (more batches vs slower batches)
        if (name.contains("_stream")) println(s"[work] $name ${best._2} ${best._3}")
        // spill accounting of the best rep (MB): mem-spilled,
        // disk-spilled, peak per-task execution memory
        val (sm, sd, pk) = best._4
        println(s"[spill] $name ${sm / 1048576} ${sd / 1048576} ${pk / 1048576}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[arbiter] $name failed: $e")
          println(s"[arbiter] $name -1")
      }
    }
    println(f"[loadmax] $loadMax%.3f")
    spark.stop()
  }

  /** One chunk's child results: per-query seconds (−1 = query threw),
    * per-stream-query (micro-batch work ms, completed trigger count),
    * per-query spill accounting (memMB, diskMB, peakTaskMB), plus the
    * worst ambient load the child saw.
    */
  final case class ChildResult(
      times: Map[String, Double],
      workMs: Map[String, (Long, Long)],
      spill: Map[String, (Long, Long, Long)],
      loadMax: Double)

  /** Fork the child against the parent's own classpath/flags; None on
    * any failure (spawn error, nonzero exit, timeout cap) so the
    * caller can fall back.
    */
  def runInChild(
      sfDir: String,
      cpus: String,
      names: Seq[String],
      mode: String = "min2",
      timeoutMin: Long = 15): Option[ChildResult] =
    if (names.isEmpty) Some(ChildResult(Map.empty, Map.empty, Map.empty, 0.0))
    else
      try {
        val javaBin = java.nio.file.Paths
          .get(System.getProperty("java.home"), "bin", "java")
          .toString
        // module --add-opens flags come from the parent's own JVM args
        // (sbt sets them; a bare child would fail on Spark's reflective
        // accesses)
        val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(a =>
            a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
              a.startsWith("--enable-native-access") || a.startsWith("-Xss"))
        // heap: the parent keeps ITS full -Xmx alive while the child runs,
        // so inheriting the parent's would double peak memory during the
        // measurement window — cap the child at min(parent, 32g), plenty
        // for an sf0.1 local sweep
        val parentXmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .collectFirst { case a if a.startsWith("-Xmx") => a }
        val childXmx = parentXmx match {
          case Some(x) if xmxBytes(x).exists(_ > 32L * 1024 * 1024 * 1024) => "-Xmx32g"
          case Some(x) => x
          case None => "-Xmx32g"
        }
        val cmd = Seq(javaBin) ++ inherited ++ Seq(childXmx) ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.ArbiterChild", sfDir, cpus, mode) ++
          names
        // both streams to files: an unread pipe would fill and deadlock
        // the child, and reading inline would defeat the waitFor cap
        val outFile = java.io.File.createTempFile("graft-arbiter", ".out")
        val errFile = java.io.File.createTempFile("graft-arbiter", ".err")
        val pb = new ProcessBuilder(cmd.asJava)
        pb.redirectOutput(outFile)
        pb.redirectError(errFile)
        val proc = pb.start()
        val done = proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
        try {
          // a systematically failing child silently degrades the bench to
          // the in-process numbers the whole redesign distrusts — so a
          // failure must never be quiet: surface the child's stderr tail
          // before falling back
          if (!done) { proc.destroyForcibly(); dumpErr(s"timeout after $timeoutMin min", errFile); None }
          else if (proc.exitValue() != 0) {
            dumpErr(s"exit ${proc.exitValue()}", errFile); None
          } else {
            val lines = java.nio.file.Files.readString(outFile.toPath).linesIterator.toSeq
            val times = lines
              .filter(_.startsWith("[arbiter] "))
              .map(_.stripPrefix("[arbiter] ").split(' '))
              .collect { case Array(n, t) => n -> t.toDouble }
              .toMap
            val works = lines
              .filter(_.startsWith("[work] "))
              .map(_.stripPrefix("[work] ").split(' '))
              .collect {
                case Array(n, w, t) => n -> (w.toLong, t.toLong)
                case Array(n, w) => n -> (w.toLong, -1L)
              }
              .toMap
            val spills = lines
              .filter(_.startsWith("[spill] "))
              .map(_.stripPrefix("[spill] ").split(' '))
              .collect { case Array(n, m, d, p) => n -> (m.toLong, d.toLong, p.toLong) }
              .toMap
            val lm = lines
              .collectFirst { case l if l.startsWith("[loadmax] ") => l.stripPrefix("[loadmax] ").toDouble }
              .getOrElse(0.0)
            Some(ChildResult(times, works, spills, lm))
          }
        } finally { outFile.delete(); errFile.delete(); () }
      } catch { case e: Throwable => System.err.println(s"[arbiter] child failed: $e"); None }

  /** `-Xmx<n>[kmg]` → bytes; None if unparseable (then left as-is). */
  private def xmxBytes(arg: String): Option[Long] = {
    val v = arg.stripPrefix("-Xmx").toLowerCase
    val (num, mult) = v.last match {
      case 'k' => (v.init, 1024L)
      case 'm' => (v.init, 1024L * 1024)
      case 'g' => (v.init, 1024L * 1024 * 1024)
      case 't' => (v.init, 1024L * 1024 * 1024 * 1024)
      case _ => (v, 1L)
    }
    num.toLongOption.map(_ * mult)
  }

  private def dumpErr(why: String, errFile: java.io.File): Unit =
    try {
      val lines = java.nio.file.Files.readString(errFile.toPath).linesIterator.toSeq
      System.err.println(
        s"[arbiter] child failed ($why); stderr tail:\n" + lines.takeRight(25).mkString("\n"))
    } catch { case _: Throwable => System.err.println(s"[arbiter] child failed ($why); stderr unreadable") }
}
