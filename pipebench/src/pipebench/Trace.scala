package pipebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metric totals of the Spark work done under one span. */
final class Work {
  var jobs = 0; var tasks = 0
  /** Generated classes Spark compiled (Janino) while the span was open. */
  var compiles = 0L
  var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var readBytes = 0L; var writeBytes = 0L
  val taskMs = ArrayBuffer[Long]()
}

/** One timed call into a layer. `kind` is `call` (a public function),
  * `sink` (an output write) or `probe` (the upstream part of a fused job
  * written alone to a `noop` sink, outside the timed chain). */
final class Span(val id: Int, val layer: String, val kind: String) {
  var startNs = 0L; var endNs = 0L
  val work = new Work
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's spans and the listener that attributes Spark jobs to
  * them. Spans are opened only around calls made from the benchmark; each
  * job is attributed to the span whose id is the job group the benchmark set
  * before the call, else to the span open when the job started. Spans stay
  * in memory until the run ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Integer, Span]()
  @volatile private var open: Span = null

  def span[T](layer: String, kind: String)(body: => T): T = {
    val s = new Span(spans.size, layer, kind)
    spans += s
    byId.put(s.id.toString, s)
    sc.setJobGroup(s.id.toString, s"$layer $kind")
    open = s
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.work.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      open = null
      sc.clearJobGroup()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val s = Option(group).flatMap(g => Option(byId.get(g))).getOrElse(open)
    if (s != null) {
      s.work.synchronized(s.work.jobs += 1)
      e.stageIds.foreach(id => byStage.put(id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.work.synchronized {
      val w = s.work
      w.tasks += 1
      w.busyMs += m.executorRunTime; w.cpuNs += m.executorCpuTime; w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.readBytes += m.inputMetrics.bytesRead
      w.writeBytes += m.outputMetrics.bytesWritten
      w.taskMs += m.executorRunTime
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(sc)
}
