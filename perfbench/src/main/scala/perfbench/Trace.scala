package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Layers of graft, as named by its packages. */
object Layers {
  val All: Seq[String] = Seq("io", "normalization", "blocking", "matching", "clustering",
    "fusion", "dedup", "text")
}

/** Executor-side sums for the tasks of one job group. */
final class TaskSums {
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var failed = 0L
}

/** Sums task metrics per job group. Stages are mapped to the group of
  * the job that submitted them; tasks of jobs outside any group are
  * ignored. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val sums = new ConcurrentHashMap[String, TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup.put(s, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = sums.computeIfAbsent(g, _ => new TaskSums)
      s.synchronized {
        if (e.reason != Success) s.failed += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
    }
}

/** One layer call (or one iteration, for the root spans). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long,
    iteration: Int, workload: String)

/** Wraps calls into graft's layers. With tracing off every wrapper is a
  * plain call and Spark plans across layers as a user's job would. With
  * tracing on, each wrapped call runs under its own job group and its
  * output is materialized (persisted and counted) before the span ends,
  * so the span holds exactly that layer's work. */
final class Tracer(spark: SparkSession, workload: String) {
  var enabled = false
  var iteration = 0
  val spans = ArrayBuffer[Span]()
  /** Rows out and named counts, summed over the traced iterations. */
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val listener = new GroupListener
  private var nextId = 1L
  private var stack = List(0L)

  private def open(name: String)(body: => Long): Unit = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val group = s"span-$id"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val rows = body
      counts(s"$name.rows_out") += rows
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (stack.head == 0L) spark.sparkContext.clearJobGroup()
      else spark.sparkContext.setJobGroup(s"span-${stack.head}", "", interruptOnCancel = false)
      spans += Span(id, name, t0, t1, parent, iteration, workload)
    }
  }

  /** A layer call returning a frame. */
  def df(layer: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      var out: DataFrame = null
      open(layer) {
        out = body.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
      }
      out
    }

  /** A layer call with a side effect (a write). */
  def run(layer: String)(body: => Unit): Unit =
    if (!enabled) body else open(layer) { body; 0L }

  /** Root span of one traced iteration. */
  def iterationSpan[T](body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, "iteration", t0, System.nanoTime(), 0L, iteration, workload)
    }
  }

  /** Adds to a named count; `v` is evaluated only while tracing. */
  def count(name: String)(v: => Double): Unit = if (enabled) counts(name) += v

  def register(): Unit = spark.sparkContext.addSparkListener(listener)
}

object Spans {
  /** Self time per span: its duration minus the union of its children. */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (acc + (b - from), b) else (acc, reach)
        }._1
      s.id -> ((s.endNs - s.startNs) - covered) / 1e9
    }.toMap
  }

  def toJsonLines(spans: Seq[Span]): String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""parent":${s.parent},"iteration":${s.iteration},"workload":"${s.workload}"}"""
  }.mkString("", "\n", "\n")
}
