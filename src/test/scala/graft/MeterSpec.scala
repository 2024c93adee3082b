package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** graft.Meter: counts that repeat, units that keep to their own jobs, and
  * Catalyst actions credited where they ran — read with no sleep. */
class MeterSpec extends SparkSpec {
  private def meter = SparkSpec.meter

  private def grouped(): Array[org.apache.spark.sql.Row] =
    spark.range(0L, 1000L, 1L, 4).groupBy((col("id") % 3).as("k")).count().collect()

  test("the same action, repeated, gets identical job and task counts") {
    val runs = (1 to 4).map(i => meter.measure(s"repeat-$i")(grouped())._2.counts)
    assert(runs.head.jobs > 0 && runs.head.tasks > 0)
    runs.tail.foreach { c =>
      assert((c.jobs, c.tasks) == (runs.head.jobs, runs.head.tasks))
    }
  }

  test("two units run back to back each get only their own jobs") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 3)
    val (_, one) = meter.measure("once")(rdd.count())
    val (_, three) = meter.measure("thrice")((1 to 3).foreach(_ => rdd.count()))
    val (_, none) = meter.measure("none")(())
    assert(one.counts.jobs == 1 && one.counts.tasks == 3)
    assert(three.counts.jobs == 3 && three.counts.tasks == 9)
    assert(none.counts == Counts())
  }

  test("a Catalyst action is credited to the unit that ran it") {
    val (_, sql) = meter.measure("sql")(grouped())
    val (_, rdd) = meter.measure("rdd")(spark.sparkContext.parallelize(1 to 10).count())
    assert(sql.counts.actions == 1)
    assert(rdd.counts.actions == 0 && rdd.counts.jobs == 1)
    // countJobs reads the same meter
    assert(countJobs(grouped())._2 == sql.counts.jobs)
  }

  test("with detail, a unit lists its jobs and its streaming micro-batches") {
    withTempDir("graft-meter") { dir =>
      val (_, jobs) = meter.measure("jobs", detail = true)(grouped())
      assert(jobs.jobs.size == jobs.counts.jobs)
      assert(jobs.jobs.map(_.tasks).sum == jobs.counts.tasks)
      assert(jobs.jobs.forall(j => j.site.nonEmpty && j.stages.nonEmpty && j.endMs >= j.startMs))

      val in = s"$dir/in"
      spark.range(0L, 20L).write.parquet(in)
      val (_, stream) = meter.measure("stream", detail = true) {
        spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
          .writeStream.format("noop").option("checkpointLocation", s"$dir/ck")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      assert(stream.batches.map(_.numInputRows).sum == 20L)
      assert(stream.batches.forall(_.durationMs.containsKey("triggerExecution")))
      // without detail nothing but the counts is kept
      val (_, plain) = meter.measure("plain")(grouped())
      assert(plain.jobs.isEmpty && plain.batches.isEmpty)
    }
  }
}
