package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder(master = "local[4]", appName = "graft-test").getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the descriptions of the Spark jobs it starts.
    * Listener events arrive asynchronously but in order: fence `body`
    * between two marker jobs and keep the jobs in between. */
  protected def jobsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("fence-start")
      val result = body
      marker("fence-end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains("fence-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.contains("fence-end"), "marker job never reached the listener")
      (result, started.asScala.toSeq
        .dropWhile(_ != "fence-start").drop(1).takeWhile(_ != "fence-end"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
