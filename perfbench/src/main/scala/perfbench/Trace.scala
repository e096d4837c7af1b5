package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer. Counts come from the
  * Spark stages whose jobs the span's thread submitted; a stage counts
  * towards its own span and every enclosing one.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span], val startNs: Long) {
  var endNs: Long = startNs
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runTimeMs = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
  var gcMs = 0L // JVM-wide collection time: in local mode scheduler and tasks share one JVM
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. The untraced run uses `Tracer.off`, which only runs the
  * body, so end-to-end numbers carry no listener cost.
  */
sealed trait Tracer {
  def span[A](name: String)(body: => A): A
  def spans: Seq[Span]
  def enabled: Boolean
}

object Tracer {
  val off: Tracer = new Tracer {
    def span[A](name: String)(body: => A): A = body
    def spans: Seq[Span] = Nil
    def enabled = false
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def on(sc: SparkContext): Tracer = {
    val t = new Listening(sc)
    sc.addSparkListener(t)
    t
  }

  private final val Key = "perfbench.span"

  private final class Listening(sc: SparkContext) extends SparkListener with Tracer {
    private val recorded = mutable.ArrayBuffer.empty[Span]
    private var current: Option[Span] = None
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

    def enabled = true
    def spans: Seq[Span] = recorded.synchronized(recorded.toSeq)

    def span[A](name: String)(body: => A): A = {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val s = recorded.synchronized {
        val n = new Span(recorded.size, name, current, System.nanoTime())
        recorded += n
        n
      }
      val gc0 = gcMs()
      current = Some(s)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        s.endNs = System.nanoTime()
        s.gcMs = gcMs() - gc0
        current = s.parent
        sc.setLocalProperty(Key, s.parent.map(_.id.toString).orNull)
      }
    }

    private def chain(s: Span): Iterator[Span] = Iterator.iterate(Option(s))(_.flatMap(_.parent))
      .takeWhile(_.isDefined).map(_.get)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
        val s = recorded.synchronized(recorded(id.toInt))
        chain(s).foreach(_.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val m = e.stageInfo.taskMetrics
        chain(s).foreach { a =>
          a.stages += 1
          a.tasks += e.stageInfo.numTasks
          if (m != null) {
            a.runTimeMs += m.executorRunTime
            a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            a.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }
}
