package graft.queries

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The key set shared by MERGE, DELETE and point reads: an EMPTY key
  * set has no candidate files (it can match no row), and a point read
  * collects its keys once while the frame is built. Counts come from
  * a `SparkListener` over exactly the measured call. */
class TableLogKeySetSpec extends SparkSpec with Matchers {
  import spark.implicits._

  /** (jobs started, data bytes read by tasks) while `body` runs. */
  private def measured[T](body: => T): (T, Long, Long) = {
    val jobs = new AtomicLong
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, jobs.get, bytes.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def statsKeyed(name: String): String = {
    val dir = Files.createTempDirectory(name).toString
    TableLog.writeBase(spark,
      (0L until 2000L).map(i => (i, s"b$i")).toDF("id", "body")
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      dir, statsKey = Some("id"))
    dir
  }

  private def ids(dir: String, v: Option[Int] = None): Seq[Long] =
    TableLog.readVersion(spark, dir, v).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq

  test("a non-empty point read on the stats key builds with the jobs " +
      "of ONE key collect, and reads exactly the requested keys") {
    val dir = statsKeyed("tl-keyset-read")
    val keys = Seq(42L, 43L, 1500L).toDF("id")
    // the reference: one collect of the same distinct key frame
    val (_, collectJobs, _) = measured(
      keys.select(col("id")).distinct().collect())
    val (frame, buildJobs, _) = measured(
      TableLog.readVersionKeys(spark, dir, keys, "id"))
    buildJobs shouldBe collectJobs
    frame.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(42L, 43L, 1500L)
  }

  test("an empty point read on the stats key reads no data bytes and " +
      "keeps the schema") {
    val dir = statsKeyed("tl-keyset-readempty")
    val (rows, _, bytes) = measured(TableLog.readVersionKeys(spark, dir,
      Seq.empty[Long].toDF("id"), "id").collect())
    rows shouldBe empty
    bytes shouldBe 0L
    TableLog.readVersionKeys(spark, dir, Seq.empty[Long].toDF("id"), "id")
      .columns.toSeq shouldBe Seq("id", "body")
  }

  test("an empty-keys delete on the stats key reads no data-file bytes " +
      "and does not bump the version") {
    val dir = statsKeyed("tl-keyset-delete")
    val before = ids(dir)
    val (_, _, bytes) = measured(
      TableLog.delete(spark, dir, Seq.empty[Long].toDF("id"), "id"))
    bytes shouldBe 0L
    TableLog.currentVersion(spark, dir) shouldBe 0
    ids(dir) shouldBe before
    // an all-null key set is empty too: NULL matches no row
    TableLog.delete(spark, dir,
      Seq(Option.empty[Long]).toDF("id"), "id")
    TableLog.currentVersion(spark, dir) shouldBe 0
    TableLog.statsCandidates(spark, dir, Seq.empty[Long].toDF("id"),
      "id") shouldBe 0
  }

  test("an empty-keys upsert on the stats key touches no file and " +
      "still commits its (empty) batch") {
    val dir = statsKeyed("tl-keyset-upsert")
    val before = ids(dir)
    val (_, _, bytes) = measured(TableLog.upsert(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "body"), "id"))
    bytes shouldBe 0L
    TableLog.currentVersion(spark, dir) shouldBe 1
    ids(dir) shouldBe before
    TableLog.liveFiles(spark, dir).toSet should contain allElementsOf
      TableLog.liveFiles(spark, dir, Some(0))
  }
}
