package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark counters summed over the tasks of the jobs one span started. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** One traced interval. `kind` is the boundary it was recorded at:
  * workload, rep, call (a call into one layer's public function) or job
  * (a Spark job, recorded by the listener). */
final case class Span(id: Long, parent: Long, traceId: Long, name: String, kind: String,
                      startNs: Long, var endNs: Long)

/** Spans and counters of one benchmark process, kept in memory and written
  * out when the run ends. When `enabled` is false `span` only runs its body:
  * no job group is set and no listener is registered, so end-to-end runs
  * carry no tracing cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val openJobs = mutable.Map.empty[Int, Span]
  private val counters = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  // listener events carry wall-clock millis; spans are kept on nanoTime
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private def nanoOfWall(ms: Long): Long = nanoBase + (ms - wallBaseMs) * 1000000L

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.filter(_.startsWith("span-")).map(_.drop(5).toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan(_) = parent)
      val traceId = spans.find(_.id == parent).map(_.traceId).getOrElse(parent)
      val s = Span(newId(), parent, traceId, s"job ${e.jobId}", "job", nanoOfWall(e.time), 0L)
      openJobs(e.jobId) = s
      spans += s
      counters.getOrElseUpdate(parent, new Counters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach(_.endNs = nanoOfWall(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0L), new Counters)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  })

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** Runs `body` inside a span; the body's Spark jobs join the span's job
    * group so the listener can attribute their tasks to it. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val id = newId()
      val traceId = parent.filter(_.kind != "workload").map(_.traceId).getOrElse(id)
      val s = Span(id, parent.map(_.id).getOrElse(0L), traceId, name, kind, System.nanoTime(), 0L)
      stack = s :: stack
      synchronized { spans += s }
      sc.setJobGroup(s"span-$id", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def call[T](name: String)(body: => T): T = span(name, "call")(body)

  /** Closed spans of one kind, in start order. */
  def spansOf(kind: String): Seq[Span] =
    synchronized(spans.toSeq.filter(s => s.kind == kind && s.endNs != 0L).sortBy(_.startNs))

  /** The id of the innermost open span (0 outside any span). */
  def current: Long = stack.headOption.map(_.id).getOrElse(0L)

  /** Counters of span `id` and every span below it. */
  def totals(id: Long): Counters = {
    org.apache.spark.graftbench.ListenerDrain(sc)
    synchronized {
      val children = spans.groupBy(_.parent)
      val out = new Counters
      def walk(i: Long): Unit = {
        counters.get(i).foreach(out.add)
        children.getOrElse(i, Nil).filter(_.kind != "job").foreach(c => walk(c.id))
      }
      walk(id)
      out
    }
  }

  /** Every closed span with its self time: its duration minus the part of
    * it that its child spans cover. */
  def report(): (Seq[Map[String, Any]], Map[String, Map[String, Any]]) = {
    org.apache.spark.graftbench.ListenerDrain(sc)
    synchronized {
      val closed = spans.toSeq.filter(_.endNs != 0L).sortBy(_.startNs)
      val children = closed.groupBy(_.parent)
      def selfNs(s: Span): Long = {
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs) - covered
      }
      val rows = closed.map { s =>
        Map[String, Any]("id" -> s.id, "parent" -> s.parent, "trace_id" -> s.traceId,
          "name" -> s.name, "kind" -> s.kind,
          "start_ms" -> (s.startNs - nanoBase) / 1e6, "end_ms" -> (s.endNs - nanoBase) / 1e6,
          "self_ms" -> selfNs(s) / 1e6)
      }
      val byName = closed.filter(_.kind != "job").groupBy(_.name).map { case (n, ss) =>
        n -> Map[String, Any]("count" -> ss.size,
          "total_ms" -> ss.map(s => s.endNs - s.startNs).sum / 1e6,
          "self_ms" -> ss.map(selfNs).sum / 1e6)
      }
      (rows, byName)
    }
  }
}
