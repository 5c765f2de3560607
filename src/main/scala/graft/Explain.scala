package graft

/** Dev tool: print the formatted physical plan of one named query and time
  * its execution. Usage: runMain graft.Explain <queryName> [sfDir] [reps]
  *
  * Also accounts spill: a TaskEnd listener accumulates
  * memory/disk-spilled bytes and the peak per-task execution memory,
  * printed per rep — the observable for the memory-pressure runs
  * (SPARK_DRIVER_MEM=6g), where completing WITH spill is the pass
  * criterion and an OOM is the failure.
  */
object Explain {

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(cpus)
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"[explain] heap_mb=$heapMb cpus=$cpus")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    Harness.freeAll(spark)
    (1 to reps).foreach { i =>
      val l = new Harness.SpillListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted async — drain before reading
      org.apache.spark.sql.graftbridge.CheckpointBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      println(s"[explain] rep $i: $name rows=$n sec=$sec ${l.readout()}")
      Harness.freeAll(spark)
    }
    spark.stop()
  }
}
