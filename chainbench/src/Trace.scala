package chainbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that attributes every job, stage and task to the span
  * that was open when the job started. The span name travels as a
  * Spark local property, so the pool threads `Groom.groom` creates per
  * iteration inherit it. Spans stay in memory until the run ends.
  *
  * A disabled tracer runs each body bare: no listener, no property.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final class Acc {
    var wallNs, jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWriteBytes, diskSpillBytes, recordsRead, bytesWritten = 0L
  }

  final case class Span(iteration: Int, name: String, startNs: Long, endNs: Long)

  private val sc = spark.sparkContext
  private val accs = mutable.Map.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var iteration = 0

  private def acc(key: String): Acc = accs.synchronized(accs.getOrElseUpdate(key, new Acc))

  private val listener = new SparkListener {
    private def label(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(LabelKey)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      label(e.properties).foreach { s =>
        acc(s).jobs += 1
        stageSpan.synchronized(e.stageIds.foreach(stageSpan(_) = s))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      label(e.properties).foreach { s =>
        acc(s).stages += 1
        stageSpan.synchronized(stageSpan(e.stageInfo.stageId) = s)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.synchronized(stageSpan.get(e.stageId)).foreach { s =>
        val a = acc(s)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.diskSpillBytes += m.diskBytesSpilled
          a.recordsRead += m.inputMetrics.recordsRead
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }

  /** Start attributing to iteration `i` (traced iterations only). */
  def begin(i: Int): Unit = if (enabled) {
    iteration = i
    sc.addSparkListener(listener)
  }

  /** Stop attributing; waits until the listener has seen every event. */
  def end(): Unit = if (enabled) {
    org.apache.spark.ChainbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val key = s"$iteration/$name"
      val prev = sc.getLocalProperty(LabelKey)
      sc.setLocalProperty(LabelKey, key)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(LabelKey, prev)
        acc(key).wallNs += t1 - t0
        spans.synchronized(spans += Span(iteration, name, t0, t1))
      }
    }

  /** Per-layer metrics of iteration `i`, `<layer>.<stat>`. */
  def layerMetrics(i: Int, cores: Int): Map[String, Double] =
    Layers.flatMap { l =>
      val a = accs.synchronized(accs.getOrElse(s"$i/$l", new Acc))
      val wall = a.wallNs / 1e9
      Seq(
        s"$l.wall_s" -> wall,
        s"$l.cpu_s" -> a.cpuNs / 1e9,
        s"$l.gc_s" -> a.gcMs / 1e3,
        s"$l.shuffle_mb" -> a.shuffleWriteBytes / Mb,
        s"$l.spill_mb" -> a.diskSpillBytes / Mb,
        s"$l.jobs" -> a.jobs.toDouble,
        s"$l.stages" -> a.stages.toDouble,
        s"$l.tasks" -> a.tasks.toDouble,
        s"$l.slot_busy" -> (if (wall > 0) a.runMs / 1e3 / (wall * cores) else 0.0))
    }.toMap

  /** Records read and bytes written under one span of iteration `i`. */
  def io(i: Int, layer: String): (Long, Long) = {
    val a = accs.synchronized(accs.getOrElse(s"$i/$layer", new Acc))
    (a.recordsRead, a.bytesWritten)
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val LabelKey = "chainbench.span"
  val Mb = 1024.0 * 1024.0
  /** One span per public entry point; see chainbench/README.md. */
  val Layers = Seq("parse", "merge_write", "groom", "load", "p1", "p2", "model_store")
}
