package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: `parent` is the id of the enclosing
  * span (-1 at the root), `op` the operation it served.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Work the Spark runtime did for one tag. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, schedMs: Long = 0L
  var shuffleBytes, spillBytes: Long = 0L
}

/** Spans around the harness's calls into each module, plus a
  * SparkListener that credits every Spark job to the spans open when
  * it started (and to its operation). With `enabled = false` every
  * call runs bare: no listener, no local properties, no buffers.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val stack = ArrayBuffer.empty[(Int, String)]
  private var curOp = -1L
  private var ids = 0

  /** Counters by span name and by operation id ("op:<id>"); "*" is
    * the whole measured window.
    */
  val counters = new ConcurrentHashMap[String, Counters]()
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()

  private def credit(tags: Seq[String])(f: Counters => Unit): Unit =
    tags.foreach(t => f(counters.computeIfAbsent(t, _ => new Counters)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val path = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PathKey))).getOrElse("")
      val tags = "*" +: path.split('/').filter(_.nonEmpty).toSeq
      credit(tags)(_.jobs += 1)
      e.stageIds.foreach(s => stageTags.put(s, tags))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val tags = stageTags.remove(e.stageInfo.stageId)
      if (tags != null) {
        val m = e.stageInfo.taskMetrics
        credit(tags) { c =>
          c.stages += 1
          c.tasks += e.stageInfo.numTasks
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tags = stageTags.get(e.stageId)
      val m = e.taskMetrics
      if (tags != null && m != null) {
        val i = e.taskInfo
        val delay = i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime
        credit(tags)(_.schedMs += math.max(0L, delay))
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as one span named `name`, nested in the open one. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      ids += 1
      val id = ids
      val parent = stack.lastOption.map(_._1).getOrElse(-1)
      stack += ((id, name))
      setPath()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.remove(stack.size - 1)
        setPath()
        spans += Span(id, parent, curOp, name, t0, t1)
      }
    }

  /** Start operation `op`: its spans and jobs carry this id. */
  def beginOp(op: Long): Unit = { curOp = op; setPath() }

  private def setPath(): Unit = {
    val path = (if (curOp >= 0) Seq(s"op:$curOp") else Nil) ++ stack.map(_._2)
    sc.setLocalProperty(PathKey, path.mkString("/"))
  }

  /** Wait for the listener bus, so counters cover every finished job. */
  def drain(): Unit = if (enabled) ListenerBusAccess.drain(sc)

  /** Forget everything recorded so far (the end of set-up). */
  def reset(): Unit = if (enabled) {
    drain(); counters.clear(); spans.clear(); ids = 0; curOp = -1L
    setPath()
  }

  def get(tag: String): Counters =
    Option(counters.get(tag)).getOrElse(new Counters)

  /** Total duration in ms of every span named `name`. */
  def spanMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  def close(): Unit = if (enabled) {
    drain(); sc.removeSparkListener(listener)
    sc.setLocalProperty(PathKey, null)
  }
}

object Tracer {
  val PathKey = "graftbench.path"
}
