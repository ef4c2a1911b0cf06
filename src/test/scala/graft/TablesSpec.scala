package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** The fixture loaders read each table's schema once per session and
  * table fingerprint, so a later load plans without a Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Jobs submitted while `f` ran. A sentinel job run afterwards marks
    * the end: the listener sees jobs in submission order. */
  private def jobsDuring(f: => Unit): Int = {
    val sentinel = "tables-spec-sentinel"
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          done.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(done.await(60, TimeUnit.SECONDS), "the sentinel job must reach the listener")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a second Tables.documents load in one session submits no job") {
    Tables.documents(spark, TestSpark.sf)
    assert(jobsDuring(Tables.documents(spark, TestSpark.sf): Unit) == 0)
  }

  test("the schema-read load equals an inferring read, events' ts normalized") {
    for (t <- Tables.all) {
      val inferred = spark.read.parquet(s"${TestSpark.sf}/$t.parquet").schema
      assert(Tables.load(spark, TestSpark.sf, t).schema == inferred, t)
    }
    assert(Tables.events(spark, TestSpark.sf).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }
}
