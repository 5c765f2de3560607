package graft

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Dedup

/** The shape of one [[Dedup.prefixFilterPairs]] call: its job count on
  * a fixed corpus and its output schema. Its answers are checked
  * against a brute force in [[PipelineProps]].
  */
class PrefixJoinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it submits from this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.prefixJoinJobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val out =
      try body
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.sql.graftbridge.CheckpointBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get)
  }

  test("prefixFilterPairs runs in at most 3 jobs on the fixture corpus") {
    val docs = model.table(spark, dir, "documents")
    val (rows, jobs) = jobsOf(Dedup.prefixFilterPairs(docs).collect())
    assert(rows.nonEmpty)
    // a count that sizes the partitioner, then the collect
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("prefixFilterPairs keeps its output schema") {
    import spark.implicits._
    def schema(idNullable: Boolean) = StructType(Seq(
      StructField("doc_a", LongType, idNullable),
      StructField("doc_b", LongType, idNullable),
      StructField("inter", LongType, nullable = false),
      StructField("uni", LongType, nullable = false),
      StructField("jaccard_ppm", LongType, nullable = true)))
    val parquet = model.table(spark, dir, "documents")
    assert(Dedup.prefixFilterPairs(parquet).schema === schema(idNullable = true))
    val local = Seq((1L, "a b c d", "en"), (2L, "a b c d", "en")).toDF("doc_id", "text", "lang")
    val out = Dedup.prefixFilterPairs(local)
    assert(out.schema === schema(idNullable = false))
    assert(out.collect().toSeq.map(_.toSeq) === Seq(Seq(1L, 2L, 2L, 2L, 1000000L)))
  }
}
