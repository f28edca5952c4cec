package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the job group of every Spark job started while it is
  * installed (a job without a group records ""). */
final class JobGroups(spark: SparkSession) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[String]()
  private val sc = spark.sparkContext
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.add(Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))

  /** Groups of the jobs started since the last call. Listener delivery is
    * asynchronous, so a marker job is started after them and awaited. */
  def take(): Seq[String] = {
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(fence, "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!started.contains(fence)) {
      assert(System.nanoTime() < deadline, "listener fence never arrived")
      Thread.sleep(10)
    }
    Iterator.continually(started.poll()).takeWhile(_ != fence).toSeq
  }

  def close(): Unit = sc.removeSparkListener(this)
}
