package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for Spark-touching suites: one JVM-wide session (lazy,
  * getOrCreate) so suites don't each pay startup.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with `listener` attached. A sentinel job run after
    * `body` flushes the (asynchronous, ordered) listener events before
    * this returns.
    */
  def listening(listener: org.apache.spark.scheduler.SparkListener)(body: => Unit): Unit = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler._
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Sentinel))
          sentinelJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get()) flushed.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(flush)
    try {
      body
      spark.sparkContext.setJobDescription(Sentinel)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener events never flushed")
    } finally {
      spark.sparkContext.removeSparkListener(flush)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val Sentinel = "spark-spec:sentinel"

  /** The job descriptions of the jobs `body` submits. */
  def jobLabels(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler._
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties).map(_.getProperty("spark.job.description"))
          .flatMap(Option(_)).getOrElse("<unlabelled>"))
    })(body)
    labels.asScala.toSeq.filterNot(_ == Sentinel)
  }

  /** Run `body` with the TRUE interpreted expression path:
    * factoryMode=NO_CODEGEN forces InterpretedUnsafeProjection, which
    * actually runs nullSafeEval — wholeStage=false alone still calls
    * each expression's doGenCode through GenerateUnsafeProjection.
    */
  def withInterpreted[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }
}
