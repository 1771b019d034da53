package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the program, plus the Spark
  * work launched under each.
  *
  * A span is (id, name, op, parent, start, end). While a span is open
  * on a thread, jobs that thread submits carry its id: as the job group
  * on ordinary threads, and as the `perfbench.span` local property on
  * streaming-query threads (whose job group Spark owns). A
  * [[SparkListener]] maps every job to its span and sums, per span,
  * jobs, tasks, task CPU, scan/shuffle/spill bytes and the union of
  * task run intervals. Jobs a streaming query runs outside any span are
  * charged to that query's name. Everything stays in memory and is
  * written out when the run ends.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  /** `blocking`: opened on a thread that waits for it (not a streaming
    * trigger running beside the driver), so it lies on the op's critical path.
    */
  final case class Span(id: Long, name: String, op: Long, parent: Long, blocking: Boolean,
                        start: Long, var end: Long = -1L)
  final class Work {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var scanBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val intervals = ArrayBuffer[(Long, Long)]() // task launch..finish, epoch ms
  }

  // SparkContext.SPARK_JOB_GROUP_ID / SPARK_JOB_DESCRIPTION (package-private there)
  private val JobGroupId = "spark.jobGroup.id"
  private val JobDescription = "spark.job.description"
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  @volatile var op: Long = -1L
  /** Parent for spans opened on threads with no open span (streaming threads). */
  @volatile var ambient: Option[Span] = None
  private val work = new ConcurrentHashMap[String, Work]() // span id or "q:<name>"
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val queryNames = new ConcurrentHashMap[String, String]() // streaming query id -> name
  val progress = ArrayBuffer[(String, Long, String)]() // (query, op, progress json)

  private def key(props: java.util.Properties): Option[String] = Option(props).flatMap { p =>
    Option(p.getProperty("perfbench.span"))
      .orElse(Option(p.getProperty(JobGroupId)).filter(_.startsWith("pb-")))
      .orElse(Option(p.getProperty("sql.streaming.queryId")).map(q =>
        "q:" + Option(queryNames.get(q)).getOrElse(q)))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      key(e.properties).foreach { k =>
        jobKey.put(e.jobId, k)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        val w = work.computeIfAbsent(k, _ => new Work)
        w.synchronized { w.jobs += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobKey.get(j))).foreach { k =>
        val w = work.computeIfAbsent(k, _ => new Work)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            w.cpuNs += m.executorCpuTime; w.runMs += m.executorRunTime
            w.scanBytes += m.inputMetrics.bytesRead
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(queryNames.get(e.progress.id.toString)).getOrElse(e.progress.name)
      progress.synchronized { progress += ((name, op, e.progress.json)) }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  def listenStreams(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) spark.streams.addListener(streamListener)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val cur = stack.get()
      val parent = cur.headOption.orElse(ambient)
      val streamThread = sc.getLocalProperty("sql.streaming.queryId") != null
      val s = Span(nextId.getAndIncrement(), name, op, parent.map(_.id).getOrElse(0L), !streamThread,
        System.nanoTime())
      spans.synchronized { spans += s }
      val prevGroup = sc.getLocalProperty(JobGroupId)
      val prevDesc = sc.getLocalProperty(JobDescription)
      val prevSpan = sc.getLocalProperty("perfbench.span")
      val id = s"pb-${s.id}"
      if (streamThread) sc.setLocalProperty("perfbench.span", id)
      else { sc.setJobGroup(id, name, interruptOnCancel = false); sc.setLocalProperty("perfbench.span", null) }
      stack.set(s :: cur)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(cur)
        if (streamThread) sc.setLocalProperty("perfbench.span", prevSpan)
        else {
          sc.setLocalProperty(JobGroupId, prevGroup)
          sc.setLocalProperty(JobDescription, prevDesc)
          sc.setLocalProperty("perfbench.span", prevSpan)
        }
      }
    }

  /** Open a span whose descendants on other threads (streaming
    * triggers) attach to it while `body` runs.
    */
  def ambientSpan[T](name: String)(body: => T): T =
    apply(name) {
      val prev = ambient
      ambient = stack.get().headOption
      try body finally ambient = prev
    }

  /** Busy milliseconds: the length of the union of task intervals. */
  private def busyMs(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var curS = -1L; var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) tot += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) tot += curE - curS
    tot
  }

  def toJson: String = {
    def workJson(k: String): String = Option(work.get(k)).map { w =>
      w.synchronized {
        s""","jobs":${w.jobs},"tasks":${w.tasks},"task_cpu_ms":${w.cpuNs / 1e6},"task_run_ms":${w.runMs},"busy_ms":${busyMs(w.intervals.toSeq)},"scan_bytes":${w.scanBytes},"shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes}"""
      }
    }.getOrElse("")
    val sp = spans.synchronized(spans.toList).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${s.op},"parent":${s.parent},"blocking":${s.blocking},"start_ns":${s.start},"end_ns":${s.end}${workJson(s"pb-${s.id}")}}"""
    }
    val qs = work.keySet.asScala.filter(_.startsWith("q:")).toSeq.sorted.map(k =>
      s"""{"name":${Json.str(k.drop(2))}${workJson(k)}}""")
    val pr = progress.synchronized(progress.toList).map { case (q, o, j) =>
      s"""{"query":${Json.str(q)},"op":$o,"progress":$j}"""
    }
    s"""{"spans":[${sp.mkString(",")}],"query_work":[${qs.mkString(",")}],"progress":[${pr.mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"; case '\r' => b ++= "\\r"; case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'; b.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
