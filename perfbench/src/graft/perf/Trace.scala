package graft.perf

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** One timed interval of a traced run; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the driver thread.  Disabled (or inside
  * [[untraced]]) `span` only runs its body, so the untraced passes of a
  * traced run pay nothing.  Spans are written out once, at the end. */
final class Tracer(val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var paused = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = spans.length
      spans += Span(id, open.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      open ::= id
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
      }
    }

  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus its (sequential) children's. */
  def selfSeconds: Map[Int, Double] = {
    val childS = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childS.getOrElse(s.id, 0.0))).toMap
  }

  /** Self times of every span with this name, in start order. */
  def selfOf(name: String): Seq[Double] = {
    val self = selfSeconds
    spans.filter(_.name == name).map(s => self(s.id)).toSeq
  }

  def writeJson(file: java.io.File, header: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val self = selfSeconds
    val body = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s.id)}%.6f}"""
    }.mkString(",\n  ")
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath,
      s"""{"run_id":"$runId",$header,"spans":[\n  $body]}\n""")
  }
}

/** Executor-side totals of the stages completed between two `reset`s. */
final case class StageTotals(execRunS: Double, execCpuS: Double, taskGcS: Double,
                             shuffleWriteMb: Double, stages: Long)

/** Stage listener; `reset`/`totals` drain the listener bus first, so no
  * stage event of a finished pass is missed or leaks into the next. */
final class StageStats(sc: SparkContext) extends SparkListener {
  private val execRunMs, execCpuNs, taskGcMs, shuffleWriteB, stages = new LongAdder
  sc.addSparkListener(this)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      execRunMs.add(m.executorRunTime)
      execCpuNs.add(m.executorCpuTime)
      taskGcMs.add(m.jvmGCTime)
      shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
    }
    stages.increment()
  }

  def reset(): Unit = {
    BenchBus.drain(sc)
    Seq(execRunMs, execCpuNs, taskGcMs, shuffleWriteB, stages).foreach(_.reset())
  }

  def totals: StageTotals = {
    BenchBus.drain(sc)
    StageTotals(execRunMs.sum / 1e3, execCpuNs.sum / 1e9, taskGcMs.sum / 1e3,
      shuffleWriteB.sum / 1048576.0, stages.sum)
  }
}

object Jvm {
  /** Driver-JVM garbage-collection time so far, seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Classes Spark's code generator has compiled so far (cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
