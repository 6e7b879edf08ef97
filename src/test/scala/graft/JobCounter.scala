package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.mutable

/** Counts the Spark jobs driver code launches, from a `SparkListener`.
 * Listener events arrive asynchronously, so every measurement is closed by
 * a tagged fence job: once the listener has seen the fence start, it has
 * seen every job submitted before it. Fence jobs are not counted. */
final class JobCounter(sc: SparkContext) extends SparkListener {
  // one entry per job start, in bus order: the fence tag, or None
  private val starts = mutable.ArrayBuffer.empty[Option[String]]
  private var fences = 0
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts += Option(e.properties).flatMap(p => Option(p.getProperty(JobCounter.FenceKey)))
    notifyAll()
  }

  /** Jobs started since the previous fence (or since construction). */
  def fence(): Int = {
    fences += 1
    val tag = s"fence-$fences"
    sc.setLocalProperty(JobCounter.FenceKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobCounter.FenceKey, null)
    synchronized {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!starts.contains(Some(tag))) {
        assert(System.nanoTime() < deadline, s"listener never saw $tag")
        wait(100)
      }
      val i = starts.indexOf(Some(tag))
      val n = starts.take(i).count(_.isEmpty)
      starts.remove(0, i + 1)
      n
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobCounter {
  val FenceKey = "graft.spec.jobcounter.fence"

  /** `body`'s result and the number of jobs it launched. */
  def count[A](sc: SparkContext)(body: => A): (A, Int) = {
    val c = new JobCounter(sc)
    try {
      c.fence()
      val a = body
      (a, c.fence())
    } finally c.close()
  }
}
