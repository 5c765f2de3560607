package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains ([[Bench]], [[ArbiterChild]], [[Explain]],
  * [[Verify]], [[ScaleGen]]) share, so that a query is timed on a
  * session configured exactly like the one whose outputs are checked:
  * the session itself, the untimed warmup, the free step between
  * queries and the spill readout.
  */
object Harness {

  /** The local session every harness runs on: `cpus` cores and as many
    * shuffle partitions, UTC session time (the test session's and the
    * oracles'), parquet nanosecond timestamps read as longs, no UI. */
  def session(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Untimed session warmup before any measured query: JIT, the codegen
    * compiler, the parquet footer cache AND the checkpoint/loop
    * machinery — the first loop query in a cold JVM otherwise pays ~9 s
    * of process init, not query cost. A failing warmup is logged under
    * `tag`, never fatal. */
  def warmup(spark: SparkSession, sfDir: String, tag: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .groupBy("l_returnflag").count().count()
    try SparkEntry.queries("sssp_one_round")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[$tag] warmup failed: $e") }
  }

  /** Frees everything a query left behind, between queries and reps:
    * cached tables, every persisted RDD (`clearCache` alone misses
    * `localCheckpoint` blocks, which otherwise pile up until the
    * storage pool spills — measured 3–10× per-round inflation on a loop
    * query's next rep), the staged dirs and catalog tables. The
    * `System.gc()` lets the ContextCleaner reap dead broadcasts, which
    * have no unpersist-all API: without it the next query's first
    * broadcast stalls behind the accumulated cleanup (measured: 35 s
    * round-1 vs 7 s fresh).
    */
  def freeAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    sources.Staging.cleanup(spark)
    System.gc()
  }

  /** Per-task spill and peak execution memory, accumulated while
    * attached — the 10×-scale observable ("zero spill" is a claim; this
    * is the instrument). Listener events post asynchronously: drain the
    * bus before reading. */
  final class SpillListener extends org.apache.spark.scheduler.SparkListener {
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val peakExecMem = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        peakExecMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
      }
    }
    def readout(): String =
      s"spill_mem_mb=${memSpilled.get() / (1024 * 1024)} " +
        s"spill_disk_mb=${diskSpilled.get() / (1024 * 1024)} " +
        s"peak_task_exec_mb=${peakExecMem.get() / (1024 * 1024)}"
  }
}
