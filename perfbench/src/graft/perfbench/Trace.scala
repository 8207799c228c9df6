package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spark work launched inside the span is
  * attributed to it by [[Tracer.Listener]] through the
  * [[Tracer.SpanProperty]] local property. All counters are written by
  * the listener thread and read only after [[Tracer.drain]].
  */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val start: Long) {
  var end: Long = start
  var jobs = 0L
  /** Jobs (and their wall time) launched from `graft.Tables` call sites. */
  var tablesJobs = 0L
  var tablesJobNs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. Outside [[traced]], [[span]] is a plain call: no local
  * property is set and no listener is installed, so untraced work pays
  * nothing. Spans survive [[attach]]ing the recorder to the next session.
  */
final class Tracer {
  import Tracer._
  private var sc: SparkContext = _
  def attach(c: SparkContext): Unit = sc = c
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var active = false
  private val byId = new ConcurrentHashMap[Integer, Span]()
  private val listener = new Listener(byId)

  /** Run `f` with the listener installed and spans recorded when `on`. */
  def traced[T](on: Boolean)(f: => T): T =
    if (!on || active) f
    else {
      sc.addSparkListener(listener)
      active = true
      try f
      finally {
        active = false
        drain(sc)
        sc.removeSparkListener(listener)
      }
    }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!active) f
    else {
      val s = new Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span time minus the time of its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      f""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},""" +
      f""""self_s":${selfSeconds(s)}%.6f,"jobs":${s.jobs},"stages":${s.stages},""" +
      f""""tasks":${s.tasks},"cpu_s":${s.cpuNs / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Flush the async listener bus so every event of the work that just
    * returned has been counted (waitUntilEmpty is private[spark] in the
    * source, public in bytecode).
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  final class Listener(byId: ConcurrentHashMap[Integer, Span]) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Integer, Span]()
    private val jobInfo = new ConcurrentHashMap[Integer, (Span, Long, Boolean)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      sid.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
        s.jobs += 1
        // a stage is named after its job's call site, e.g. "parquet at Tables.scala:11"
        val fromTables = e.stageInfos.exists(_.name.contains("at Tables.scala"))
        jobInfo.put(e.jobId, (s, e.time, fromTables))
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (s, t0, fromTables) =>
        if (fromTables) { s.tablesJobs += 1; s.tablesJobNs += (e.time - t0) * 1000000L }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.stages += 1
        s.tasks += e.stageInfo.numTasks
        if (e.stageInfo.numTasks == 1) s.singleTaskStages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.scanBytes += m.inputMetrics.bytesRead
          s.scanRows += m.inputMetrics.recordsRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        }
      }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
