package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs started inside named phases of a spec. Each
  * phase tags its jobs with a local property; [[started]] then runs one
  * marker job and waits for it, so every job the phases started has
  * reached the listener (job starts arrive in order).
  */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val tag = "graft.JobCounter"
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val marker = new CountDownLatch(1)
  private val sc = spark.sparkContext
  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(tag))).foreach { phase =>
        jobs.computeIfAbsent(phase, _ => new AtomicInteger()).incrementAndGet()
        if (phase == "marker") marker.countDown()
      }
  }
  sc.addSparkListener(listener)

  def phase[T](name: String)(body: => T): T = {
    sc.setLocalProperty(tag, name)
    try body finally sc.setLocalProperty(tag, null)
  }

  /** Jobs started per phase, in the order given. */
  def started(phases: String*): Seq[(String, Int)] = {
    phase("marker")(spark.range(1).count())
    assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    phases.map(p => p -> Option(jobs.get(p)).fold(0)(_.get))
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}
