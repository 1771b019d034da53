package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._
import org.apache.spark.sql.SparkSession

/** One op's outcome: its label, whether its output passed, and its
  * latency when that is not the op's whole wall time.
  */
final case class OpResult(name: String, ok: Boolean, ms: Option[Double] = None)

/** A closed-loop workload: inputs are generated first (untimed), then
  * `setup` builds fixtures and warms up, then `op` runs back to back
  * until the time is up; `check` validates end state after the loop.
  */
trait Workload {
  def generate(): Unit
  def setup(): Unit
  def op(i: Int): OpResult
  /** The loop only stops between rounds of this many ops, so every run
    * measures whole rounds (a full pass over a mix, a full maintenance cycle).
    */
  def opsPerRound: Int = 1
  /** Final-state checks, (name, passed, detail). */
  def check(): Seq[(String, Boolean, String)] = Nil
  /** Whether a failed final check fails every op (state-accumulating workloads). */
  def checkFailsAllOps: Boolean = false
  /** Workload-specific figures, JSON values by name. */
  def gauges(): Seq[(String, String)] = Nil
  def close(): Unit = ()
}

/** Runs one workload in this JVM and writes its raw record (op latencies,
  * CPU, memory, checks, spans) as JSON; `perfbench/run.py` turns that
  * into metrics.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <raw.json>
  *
  * The working directory must be a fresh, empty directory: every
  * relative fixture root the program builds lands there.
  */
object Main {
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(): SparkSession = {
    val k = cores.toString
    SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
      .tap(_.sparkContext.setLogLevel("ERROR"))
  }

  def workload(name: String, spark: SparkSession, seed: Long, tr: Tracer): Workload = name match {
    case "warehouse_queries" => new WarehouseQueries(spark, seed, tr)
    case "corpus_curation" => new CorpusCuration(spark, seed, tr)
    case "stream_pipeline" => new StreamPipeline(spark, seed, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, rawPath) = args
    val seed = seedS.toLong; val seconds = secondsS.toDouble; val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tr = new Tracer(spark.sparkContext, trace)
    tr.listenStreams(spark)
    val wl = workload(name, spark, seed, tr)

    val g0 = System.nanoTime(); wl.generate(); val genS = (System.nanoTime() - g0) / 1e9
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    val ops = ArrayBuffer[(String, Double, Boolean)]()
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % wl.opsPerRound != 0) {
      tr.op = i
      val s = System.nanoTime()
      val r = try wl.op(i) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e"); e.printStackTrace()
          OpResult(s"op$i", ok = false)
      }
      ops += ((r.name, r.ms.getOrElse((System.nanoTime() - s) / 1e6), r.ok))
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    tr.op = -1
    val checks = try wl.check() catch {
      case e: Throwable => e.printStackTrace(); Seq(("final_check", false, e.toString))
    }
    val failAll = wl.checkFailsAllOps && checks.exists(!_._2)
    val gauges = wl.gauges()
    wl.close()
    val rss = peakRssMb()
    val opsJson = ops.map { case (n, ms, ok) =>
      s"""{"name":${Json.str(n)},"ms":$ms,"ok":${ok && !failAll}}"""
    }.mkString("[", ",", "]")
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    val out = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "cores" -> cores.toString, "trace" -> trace.toString,
      "session_s" -> sessionS.toString, "gen_s" -> genS.toString, "setup_s" -> setupS.toString,
      "loop_s" -> loopS.toString, "cpu_s" -> cpuS.toString, "gc_s" -> gcS.toString, "peak_rss_mb" -> rss.toString,
      "ops" -> opsJson, "checks" -> checksJson, "gauges" -> Json.obj(gauges),
      "trace_data" -> (if (trace) tr.toJson else "null")))
    Files.write(Paths.get(rawPath), out.getBytes(UTF_8))
    spark.stop()
  }
}
