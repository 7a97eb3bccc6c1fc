package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * startup costs ~5s, so suites must not each build their own), built
  * by the same [[SparkEntry.session]] factory as the mains.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import scala.jdk.CollectionConverters._

  def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  /** Pin autoBroadcastJoinThreshold=-1 for `body`, restoring whatever
    * value (or absence) was there before — set/unset would discard a
    * value another suite had installed on the shared session. */
  def withBroadcastDisabled[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def vecsDf(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (id, v) => (id, v.toArray) }
      .toDF("vec_id", "embedding")
  }

  /** Spark jobs started by `body`, counted by a listener. Listener
    * events arrive asynchronously but in order, so a marker job run
    * after `body` flushes every count. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("jobs-of")       => jobs.incrementAndGet()
          case Some("jobs-of-flush") => flushed.countDown()
          case _                     =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-of", "counted")
      body
      sc.setJobGroup("jobs-of-flush", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
