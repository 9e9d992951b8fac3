package graft.queries

import org.apache.spark.sql.functions._

import graft.{ScratchSpace, SparkTestBase}

/** The two streaming drains record what they measured: each parity's
  * batch count follows its declared sentinel protocol, the stateful
  * operator count comes from the query's own progress, and the scoped
  * confs are restored even when the drained query throws.
  */
class StreamingDrainSpec extends SparkTestBase {

  private def drain(q: Q): StreamingQueries.DrainStats = {
    q.run(spark, sf001).count(): Unit
    StreamingQueries.drains(q.name.takeWhile(_ != '_'))
  }

  test("memory-sink drains: one stateful op, at least one batch per sentinel after the data") {
    for ((q, sentinels) <- Seq(
        StreamingQueries.q52 -> 0, StreamingQueries.q140 -> 1,
        StreamingQueries.q51 -> 2)) {
      val d = drain(q)
      assert(d.statefulOps == 1, s"${q.name}: $d")
      assert(d.batches >= 1 + sentinels, s"${q.name}: $d")
      assert(d.phasesMs.map(_._1) == StreamingQueries.DrainStats.Phases)
      assert(d.phasesMs.toMap.apply("addBatch") > 0, s"${q.name}: $d")
    }
  }

  test("q196 foreachBatch drain runs exactly one micro-batch per staged shard") {
    val d = drain(StreamingQueries.q196)
    assert(d.batches == 3, d.toString)
    assert(d.statefulOps == 0, d.toString)
  }

  test("a drain whose query throws restores the shuffle width and scoped confs") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val probe = "spark.graft.test.drainProbe"
    val watch = ScratchSpace.dir(spark, "drain_throw_")
    ScratchSpace.writeOneFile(spark.range(3).toDF("x"), watch, "x.parquet"): Unit
    val out = spark.readStream.schema("x long").parquet(watch)
      .select(col("x"), assert_true(col("x") < 0).as("ok"))
    intercept[Exception] {
      StreamingQueries.drainToTable(spark, "drain_throw_mem", out, "append",
        confs = Map(probe -> "on"))
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev)
    assert(spark.conf.getOption(probe).isEmpty)
  }
}
