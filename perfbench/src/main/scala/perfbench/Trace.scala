package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into a layer. Every span of one unit
  * (a month, a query, a stream op) carries that unit's id; `parent` is the
  * span that was open when this one started. The counters are filled by
  * [[Tracer]]'s listener from the jobs the span's calls submitted.
  */
final class Span(val id: Int, val name: String, val unit: String,
                 val parent: Option[Int], val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var jobs: Int = 0
  @volatile var stages: Int = 0
  @volatile var taskMs: Long = 0L
  @volatile var shuffleBytes: Long = 0L
  @volatile var spillBytes: Long = 0L

  def seconds: Double = (endNs - startNs) / 1e9
  def taskSeconds: Double = taskMs / 1e3
  /** Share of the span's core-seconds no task ran on: scheduling,
    * planning and driver-side waiting.
    */
  def idleCoreShare(cores: Int): Double =
    if (seconds <= 0) 0.0 else 1.0 - taskSeconds / (seconds * cores)

  def json: String =
    s"""{"id":$id,"name":"$name","unit":"$unit",""" +
      s""""parent":${parent.getOrElse(-1)},"start_ns":$startNs,"end_ns":$endNs,""" +
      s""""jobs":$jobs,"stages":$stages,"task_ms":$taskMs,""" +
      s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes}"""
}

/** Span recorder plus the `SparkListener` that charges jobs, stages, task
  * time, shuffle bytes and spill bytes to the span open when a job was
  * submitted. The open span travels with the job as a local property of
  * the submitting thread, so listener events that arrive late (the
  * listener bus is asynchronous) still land on the right span. Spans stay
  * in memory; [[write]] puts them in a JSON-lines file when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(0)
  private val recorded = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var open: List[Span] = Nil

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.jobs += 1
          e.stageIds.foreach(stageSpan.put(_, s))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.stages += 1
        Option(e.stageInfo.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
  }
  sc.addSparkListener(listener)

  /** Run `body` inside a span named `name` of unit `unit`. */
  def span[A](name: String, unit: String)(body: => A): A = {
    val s = new Span(nextId.getAndIncrement(), name, unit,
      open.headOption.map(_.id), System.nanoTime())
    byId.put(s.id, s)
    recorded.synchronized { recorded += s }
    open = s :: open
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  def stop(): Unit = { drain(); sc.removeSparkListener(listener) }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      spans.map(_.json).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
