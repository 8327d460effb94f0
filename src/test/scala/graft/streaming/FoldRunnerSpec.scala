package graft.streaming

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The shared fold-stream machinery: the `Replay.drain` runner's skip and
  * fault-hook contract, and `AppendOnlyState.endBatchWork`'s failure and
  * job-label behaviour. */
class FoldRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def work(prefix: String): String = {
    val w = Files.createTempDirectory(prefix).toString
    Replay.cleanupAtExit(w)
    w
  }

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  test("drain skips folded batches, fires the fault hook on them, and resumes") {
    val lake = work("graft_drain_lake")
    spark.range(30).repartition(3).write.mode("overwrite").parquet(lake)
    val w = work("graft_drain_work")
    val ran = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit =
      Replay.drain(Replay.parquetStream(spark, idSchema, lake, None, Some(1)), w,
          skip = _ <= 1L) { (_, batchId) => ran.synchronized(ran += batchId) }

    // batch 1 is skipped, yet the hook still crashes the query after it
    Replay.poisonAfterBatch = 1L
    intercept[Exception](run())
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    assert(ran.isEmpty)
    // the restart replays the uncommitted batch 1 (skipped again) and
    // runs the body only for batch 2
    run()
    assert(ran.toSeq == Seq(2L))
  }

  test("endBatchWork waits for every append before rethrowing the original failure") {
    import spark.implicits._
    val w = work("graft_aos_fail")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("bad", sch), ("slow", sch)), compactEvery = 100)
    val boom = new IllegalStateException("append thunk failed")
    val thrown = intercept[IllegalStateException] {
      s.endBatchWork(spark, 0L, Nil,
        "bad" -> (() => throw boom),
        "slow" -> (() => { Thread.sleep(1500); Seq(1L, 2L, 3L).toDF("id") }))
    }
    assert(thrown eq boom)
    // the sibling's write finished before the failure surfaced
    assert(new java.io.File(s"$w/g0/slow/b0/_SUCCESS").exists(),
      "sibling append still in flight when endBatchWork threw")
    assert(spark.read.parquet(s"$w/g0/slow/b0").count() == 3)
  }

  test("a caller's job label survives an endBatch that compacts") {
    import spark.implicits._
    val w = work("graft_aos_label")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 1)
    val sc = spark.sparkContext
    sc.setJobDescription("caller: micro-batch 7")
    try {
      s.endBatch(spark, 0L, "t" -> Seq(1L, 2L).toDF("id")) // compacts
      assert(s.alreadyFolded(0L))
      assert(sc.getLocalProperty("spark.job.description") == "caller: micro-batch 7")
    } finally sc.setJobDescription(null)
  }
}
