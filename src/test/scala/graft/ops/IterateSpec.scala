package graft.ops

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class IterateSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  /** One-column counter state: each step adds 1. */
  private def counter(v: Long): DataFrame =
    spark.range(1).select(lit(v).as("v"))
  private def bump(df: DataFrame): DataFrame = df.select((col("v") + 1).as("v"))
  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("duplicateClusters keeps only its result pinned, not one pin " +
    "per round") {
    import spark.implicits._
    // a 40-node chain: pointer jumping needs well over 3 rounds
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = persisted
    val out = graft.text.Dedup.duplicateClusters(chain)
    val added = persisted -- before
    assert(added == checkpointIds(out).toSet && added.size == 1,
      s"pins left behind: $added")
    assert(out.select("cluster_id").distinct().as[Long].collect()
      .toSeq == Seq(1L))
    assert(out.count() == 40)
  }

  test("the loop stops at the first round whose stop test holds") {
    var steps = 0
    val out = Iterate.loop(counter(0), 10, Iterate.Pin.Rounds,
        (_, next) => value(next) >= 3) { (r, s) =>
      steps += 1
      assert(r.index == steps)
      bump(s)
    }
    assert(steps == 3 && value(out) == 3)
    // a step returning its input is a fixpoint: the loop stops there
    var calls = 0
    val fix = Iterate.loop(counter(0), 10, Iterate.Pin.All) { (_, s) =>
      calls += 1
      if (calls == 2) s else bump(s)
    }
    assert(calls == 2 && value(fix) == 1)
  }

  test("the loop never exceeds the round cap") {
    import Iterate.Pin._
    for (pin <- Seq(Never, Rounds, All)) {
      var steps = 0
      val out = Iterate.loop(counter(0), 4, pin) { (_, s) =>
        steps += 1; bump(s)
      }
      assert(steps == 4 && value(out) == 4, s"$pin")
    }
    val init = counter(7)
    val none = Iterate.loop(init, 0, Iterate.Pin.Rounds)((_, s) => bump(s))
    assert(none eq init)
  }

  test("init and the returned frame stay readable after release; " +
    "superseded states and round scratch do not") {
    val init = counter(0).localCheckpoint()
    val seen = ArrayBuffer.empty[DataFrame]
    val scratch = ArrayBuffer.empty[DataFrame]
    val before = persisted
    val out = Iterate.loop(init, 3, Iterate.Pin.Rounds) { (r, s) =>
      seen += s
      val sc = r.pin(bump(s))
      scratch += sc
      sc.select(col("v"))
    }
    assert(value(init) == 0 && value(out) == 3)
    assert(persisted -- before == checkpointIds(out).toSet)
    // round 2 and 3 read loop-pinned states, since released
    for (gone <- seen.drop(1) ++ scratch) {
      val e = intercept[Exception](
        SparkSpec.withExpectedTaskFailures(gone.collect()))
      assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
    }
  }

  test("withPinned releases its input and refuses a result that " +
    "still reads it") {
    val before = persisted
    val out = Iterate.withPinned(counter(5)) { p =>
      Iterate.loop(bump(p), 2, Iterate.Pin.All)((_, s) => bump(s))
    }
    assert(value(out) == 8)
    assert(persisted -- before == checkpointIds(out).toSet)
    intercept[IllegalArgumentException](
      Iterate.withPinned(counter(1))(p => bump(p)))
  }
}
