package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a timed call into one layer's public function.
  * `parent` is 0 for a request's root span; every span of one request
  * shares `req`.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory for the whole run and written out at its end.
  * The benchmark calls the engine from one thread, so the open-span
  * stack needs no lock.
  * Each span that may launch Spark work owns the job group `s<id>`
  * while it is innermost, which ties jobs, stages and tasks to it
  * (see [[JobLedger]]). Disabled, `span` only runs its body: untraced
  * runs set no job group and register no listener.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, Long)] = Nil
  private var nextId = 1
  private var reqId = 0

  /** A request: a fresh request id and its root span. */
  def request[T](name: String)(body: => T): T = {
    if (enabled) reqId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      sc.setJobGroup(s"s$id", name, interruptOnCancel = false)
      stack = (id, reqId, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, r, n, t0) = stack.head
        spans += Span(id, parent, r, n, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((pid, _, pname, _)) => sc.setJobGroup(s"s$pid", pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(root: Span): Seq[Span] = spans.filter(s => s.parent == root.id).toSeq

  /** Every span of `root`'s request (the root included). */
  def ofRequest(root: Span): Seq[Span] = spans.filter(_.req == root.req).toSeq

  def write(path: java.nio.file.Path, ledger: JobLedger): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.id).foreach { s =>
      val a = ledger.of(Seq(s))
      w.write(Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "req" -> Json.num(s.req),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
        "jobs" -> Json.num(a.jobs), "stages" -> Json.num(a.stages), "tasks" -> Json.num(a.tasks))))
      w.newLine()
    } finally w.close()
  }
}

/** Spark work of a set of spans, summed. */
final case class SparkWork(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    schedulerDelayMs: Long, gcMs: Long, spillBytes: Long, inputBytes: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, jobWallMs: Long)

/** Listener that files Spark jobs, stages and tasks under the job group
  * that launched them (the innermost span at launch time). Events arrive
  * asynchronously: call [[settle]] before reading.
  */
final class JobLedger extends SparkListener {
  private final class Acc {
    val jobs, stages, tasks, runMs, delayMs, gcMs, spill, input, shufW, shufR = new AtomicLong
    val jobWall = new AtomicLong
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val events = new AtomicLong

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      jobStart.put(e.jobId, (group, e.time))
      e.stageIds.foreach(stageGroup.put(_, group))
      acc(group).jobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      acc(g).jobWall.addAndGet(math.max(0L, e.time - t0))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => acc(g).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.bytesRead)
        a.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        // the Spark UI's scheduler delay: task wall not spent running,
        // deserializing or serializing its result
        val info = e.taskInfo
        if (info != null) a.delayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }

  /** Wait until the listener bus stops delivering events (all measured
    * actions have returned, so only queued events remain).
    */
  def settle(): Unit = {
    var prev = -1L
    var waited = 0
    while (waited < 10000 && events.get != prev) {
      prev = events.get
      Thread.sleep(200)
      waited += 200
    }
  }

  def of(spans: Seq[Span]): SparkWork = {
    val accs = spans.flatMap(s => Option(byGroup.get(s"s${s.id}")))
    def sum(f: Acc => AtomicLong) = accs.map(a => f(a).get).sum
    SparkWork(sum(_.jobs), sum(_.stages), sum(_.tasks), sum(_.runMs), sum(_.delayMs),
      sum(_.gcMs), sum(_.spill), sum(_.input), sum(_.shufW), sum(_.shufR), sum(_.jobWall))
  }
}
