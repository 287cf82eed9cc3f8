package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spark work attributed to one phase tag: jobs started, tasks ended and
  * the task metrics they reported. */
final class Acc {
  val jobs, tasks, runMs, cpuNs, shuffleBytes, recordsRead = new AtomicLong

  def add(o: Acc): Acc = {
    Seq(jobs -> o.jobs, tasks -> o.tasks, runMs -> o.runMs, cpuNs -> o.cpuNs,
      shuffleBytes -> o.shuffleBytes, recordsRead -> o.recordsRead)
      .foreach { case (a, b) => a.addAndGet(b.get) }
    this
  }
}

/** The traced run's probes: spans around each call from the benchmark into
  * a layer of the program, Spark listener counts attributed to the span's
  * phase tag, and local filesystem operation counts ([[CountingLocalFs]])
  * read at the span boundaries. Spans are kept in memory and written out at
  * the end. With `on = false` every probe is a pass-through, so an untraced
  * run makes exactly the calls a user would make. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, layer: String,
      name: String, tag: String, t0: Long, t1: Long, fsOps: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val epoch = System.nanoTime()
  private val TagKey = "perfbench.tag"

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private def acc(tag: String): Acc = accs.computeIfAbsent(tag, _ => new Acc)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      acc(tag).jobs.incrementAndGet()
      e.stageIds.foreach(stageTag.put(_, tag))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageTag.getOrDefault(e.stageId, "untagged"))
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  /** List, status and open operations on the local filesystem so far. */
  def fsOps: Long = CountingLocalFs.ops.get

  /** Run `body` in a span of `layer`; Spark jobs it starts count under
    * `tag`. Spans nest: the enclosing span is the parent. */
  def span[A](layer: String, name: String, op: Long, tag: String = null)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prevTag = sc.getLocalProperty(TagKey)
      if (tag != null) sc.setLocalProperty(TagKey, tag)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val f0 = fsOps
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, op, layer, name, tag, t0 - epoch, t1 - epoch, fsOps - f0)
        stack = stack.tail
        if (tag != null) sc.setLocalProperty(TagKey, prevTag)
      }
    }

  private def drain(): Unit =
    if (on) org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  /** Listener totals over `tags`, after every pending event was delivered. */
  def counts(tags: Iterable[String]): Acc = {
    drain()
    tags.foldLeft(new Acc)((a, t) => a.add(acc(t)))
  }

  /** Counts summed over every tag that starts with `prefix`. */
  def countsWithPrefix(prefix: String): Acc = {
    drain()
    val a = new Acc
    accs.forEach((t, x) => if (t.startsWith(prefix)) a.add(x))
    a
  }

  private def durations(ss: Iterable[Span]): Map[Int, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.t1 - s.t0)
    ss.map(s => s.id -> (s.t1 - s.t0 - childNs(s.id))).toMap
  }

  /** Self time per layer in ms: a span's duration minus the part of it that
    * its child spans cover, over the spans of the operations `ops`. */
  def selfMs(ops: Long => Boolean = _ => true): Map[String, Double] = {
    val kept = spans.filter(s => ops(s.op))
    val self = durations(kept)
    kept.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e6
    }
  }

  /** Total wall of the root spans of the operations `ops`, in ms. */
  def rootMs(ops: Long => Boolean): Double =
    spans.filter(s => s.parent < 0 && ops(s.op)).map(s => s.t1 - s.t0).sum / 1e6

  /** Mean duration (ms) and mean filesystem ops of the spans `layer`/`name`
    * of the operations `ops`. */
  def meanOf(layer: String, name: String, ops: Long => Boolean = _ => true): (Double, Double) = {
    val ss = spans.filter(s => s.layer == layer && s.name == name && ops(s.op))
    if (ss.isEmpty) (0.0, 0.0)
    else (ss.map(s => s.t1 - s.t0).sum / 1e6 / ss.size,
      ss.map(_.fsOps).sum.toDouble / ss.size)
  }

  /** One JSON object per line: every span with the listener counts of its
    * tag, then `summary`. */
  def write(path: String, summary: String): Unit = {
    drain()
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        val a = Option(s.tag).map(acc).map(a =>
          s""","jobs":${a.jobs.get},"tasks":${a.tasks.get},"task_cpu_us":${a.cpuNs.get / 1000}""")
        w.println(s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},""" +
          s""""layer":"${s.layer}","name":"${s.name}",""" +
          s""""start_us":${s.t0 / 1000},"end_us":${s.t1 / 1000},"fs_ops":${s.fsOps}""" +
          a.getOrElse("") + "}")
      }
      w.println(summary)
    } finally w.close()
  }
}
