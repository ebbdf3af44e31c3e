package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A recorded interval. Times are `System.nanoTime`; `parent` is the id of
  * the span that caused it (0 = none). Job spans carry the executor-side
  * counters of their tasks.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, tag: String,
                      counters: Map[String, Double] = Map.empty) {
  def ms: Double = (end - start) / 1e6
}

/** Benchmark-owned tracing: spans around the benchmark's own calls into
  * each engine layer, plus a Spark listener that turns every job run under
  * a span's job group into a child span. Nothing here lives in engine code;
  * spans stay in memory until [[dump]].
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val handlerNs = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val GroupPrefix = "graftbench#"

  /** Run `body` as span `name`; jobs it starts are tagged with its id. */
  def span[T](name: String, tag: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.getOrElse(0L)
    stack.set(id :: outer)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, name, t0, t1, parent, tag))
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private final class JobAcc(val start: Long, val parent: Long) {
    val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    handlerNs.addAndGet(System.nanoTime() - t0)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = g.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobAcc(System.nanoTime(), parent))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = e.taskMetrics
      if (acc.isDefined && m != null) acc.get.synchronized {
        val c = acc.get.counters
        c("task_s") += m.executorRunTime / 1000.0
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        c("output_bytes") += m.outputMetrics.bytesWritten.toDouble
        c("records_read") += m.inputMetrics.recordsRead.toDouble
        c("tasks") += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.remove(e.jobId)).foreach { acc =>
        spans.add(Span(ids.incrementAndGet(), "job", acc.start, System.nanoTime(),
          acc.parent, e.jobId.toString, acc.synchronized(acc.counters.toMap)))
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    /** Each epoch's progress record as a span ending when it arrived, with
      * its `durationMs` phases and input rows as counters.
      */
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val end = System.nanoTime()
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      spans.add(Span(ids.incrementAndGet(), "streaming.epoch", end - trigger * 1000000L, end, 0L,
        s"${p.name}:${p.batchId}",
        p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.doubleValue }.toMap +
          ("input_rows" -> p.numInputRows.toDouble)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Time spent inside the listener callbacks, in seconds. */
  def handlerSeconds: Double = handlerNs.get() / 1e9
  def addOverhead(ns: Long): Unit = handlerNs.addAndGet(ns)

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def children(of: Span): Seq[Span] = all.filter(_.parent == of.id)

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var at = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > at) { total += b - math.max(a, at); at = b }
      }
    total
  }

  /** A span's own time: its duration minus what its children cover. */
  def selfMs(s: Span): Double = {
    val kids = children(s).map(k => (k.start, k.end))
    (s.end - s.start - covered(kids, s.start, s.end)) / 1e6
  }

  /** Jobs under `s`, directly or through nested spans. */
  def jobsUnder(s: Span): Seq[Span] = children(s).flatMap { k =>
    if (k.name == "job") Seq(k) else jobsUnder(k)
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path, t0: Long): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      f"""{"id":${s.id},"name":"${s.name}","tag":"${s.tag}","parent":${s.parent},""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,""" +
        s""""self_ms":${"%.3f".format(selfMs(s))},"counters":{$cs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
