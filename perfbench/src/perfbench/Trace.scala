package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** In-memory spans recorded at the benchmark's own call boundaries
  * (run → setup/workload → epoch or query → construct/plan/exec), plus
  * every Spark job as a child of the span that was open on the thread
  * that submitted it. Nothing is written until the run ends.
  *
  * When `enabled` is false every call is a pass-through: the end-to-end
  * runs install no listener and keep no spans. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var listener: Option[JobListener] = None

  def attach(sc: SparkContext): Unit = if (enabled) {
    val l = new JobListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def detach(sc: SparkContext): Unit = listener.foreach { l =>
    l.drain()
    sc.removeSparkListener(l)
  }

  /** Runs `body` inside a span named `name`. Jobs submitted by this
    * thread while it runs are attributed to the span through a local
    * property, which Spark copies into each job's properties. */
  def span[T](name: String, sc: => SparkContext, attrs: Map[String, Any] = Map.empty,
              parent: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val s = Span(id, stack.headOption.getOrElse(parent), name, nowMs(), attrs)
      spans.put(id, s)
      open.set(id :: stack)
      val ctx = sc
      val prev = ctx.getLocalProperty(SpanKey)
      ctx.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.endMs = nowMs()
        open.set(stack)
        ctx.setLocalProperty(SpanKey, prev)
      }
    }

  /** Innermost span open on the calling thread, or 0. */
  def current: Int = open.get().headOption.getOrElse(0)

  def allSpans: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)
  def jobs: Seq[JobRec] = listener.map(_.jobs).getOrElse(Seq.empty)
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds on a monotonic base, comparable with the
    * millisecond timestamps Spark puts on job events. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                        attrs: Map[String, Any]) {
    @volatile var endMs: Double = Double.NaN
  }

  final class JobRec(val id: Int, val span: Int, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    @volatile var ok: Boolean = true
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var blockBytes = 0L
  }

  /** Per-job task, CPU, shuffle and block-manager counts. */
  final class JobListener extends SparkListener {
    private val byJob = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    private val rddJob = new ConcurrentHashMap[Int, JobRec]()
    @volatile private var lastEventMs = nowMs()

    private def touch(): Unit = lastEventMs = nowMs()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      val j = new JobRec(e.jobId, span, e.time.toDouble)
      byJob.put(e.jobId, j)
      e.stageInfos.foreach { si =>
        stageJob.put(si.stageId, j)
        si.rddInfos.foreach(r => rddJob.putIfAbsent(r.id, j))
      }
      touch()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(byJob.get(e.jobId)).foreach { j =>
        j.endMs = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
      touch()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
      touch()
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) if info.storageLevel.isValid =>
          Option(rddJob.get(rdd)).foreach(j => j.synchronized {
            j.blockBytes += info.memSize + info.diskSize
          })
        case _ =>
      }
      touch()
    }

    /** The listener bus is asynchronous: wait until every started job
      * has ended and no event has arrived for a quiet interval. */
    def drain(): Unit = {
      val deadline = nowMs() + 20000
      def settled = byJob.values().asScala.forall(!_.endMs.isNaN) && nowMs() - lastEventMs > 300
      while (!settled && nowMs() < deadline) Thread.sleep(50)
    }

    def jobs: Seq[JobRec] = byJob.values().asScala.toSeq.sortBy(_.id)
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Span durations minus the part of the interval their child spans
    * and jobs cover. */
  def selfTimes(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Double] = {
    val kids = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    spans.foreach(s => kids.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += ((s.startMs, s.endMs)))
    jobs.foreach(j => kids.getOrElseUpdate(j.span, mutable.ArrayBuffer.empty) += ((j.startMs, j.endMs)))
    spans.map { s =>
      val c = kids.get(s.id).map(_.toSeq).getOrElse(Seq.empty)
      s.id -> ((s.endMs - s.startMs) - covered(s.startMs, s.endMs, c))
    }.toMap
  }
}
