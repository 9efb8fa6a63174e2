package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** `util.pin`: the rows and the observed count of a pinned frame match
  * `collect`/`count()`, pinning starts exactly the jobs a bare
  * `localCheckpoint()` starts, and the checkpoint's SQL execution is
  * reported at the caller's site.
  */
class PinSpec extends SparkSpec {

  /** Pin `build()` and check it against a bare checkpoint of the same plan. */
  private def checkPin(build: () => DataFrame): Unit = {
    val want = build().collect().map(_.toString).sorted
    val bare = JobProbe(spark)(build().localCheckpoint())
    val pinned = JobProbe(spark)(util.pin(build()))
    val (df, n) = pinned.value
    n shouldBe want.length.toLong
    df.collect().map(_.toString).sorted shouldBe want
    df.count() shouldBe n
    pinned.jobs shouldBe bare.jobs
    pinned.details should not be empty
    pinned.details.foreach { d =>
      withClue(d) { JobProbe.firstGraftFrame(d) shouldBe Some("PinSpec") }
    }
  }

  private def agg =
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))

  test("pin a non-empty AQE aggregate: rows, count, jobs, call site") {
    checkPin(() => agg)
  }

  test("pin a frame that is emptied at run time, not by the optimizer") {
    checkPin(() => agg.where(col("s") > 1000000))
  }

  test("pin a frame the optimizer empties") {
    checkPin(() => agg.where(lit(false)))
  }

  test("pin a foreachBatch micro-batch") {
    val base = java.nio.file.Files.createTempDirectory("graft-pin").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(s"$base/in")
    val checked = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val q = spark.readStream.schema("id BIGINT, v STRING").parquet(s"$base/in")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch((batch: Dataset[Row], _: Long) => {
        try { checkPin(() => batch.toDF()); checked.incrementAndGet() }
        catch { case t: Throwable => failures.add(t) }
        ()
      })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Option(failures.peek()).foreach(t => throw t)
    checked.get() shouldBe 1
  }
}
