package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.io.{MergeOnRead, Sinks, SourceConf, Sources, Upsert}
import graft.model.{KeyDay, Schemas}
import graft.rtdw.{DwdApps, IncrementalDws}
import graft.streaming.{DimConfig, DimPipeline, LateData, LogSplit, Stateful, WindowedAggs}

/** `stream_pipeline`: one op is one wave. The seeded generator lands a
  * batch of behaviour-log JSON (`topic_log`) and Maxwell CDC JSON
  * (`topic_db`) by atomic rename; then every layer's streaming query is
  * driven to completion in dataflow order and the serving tables are
  * read back. The op's time is the wave's freshness: from landing until
  * every serving read reflects it. Every `MaintenanceEvery` waves,
  * `Maintenance.run` compacts the MOR fact and the serving table inside
  * the wave.
  *
  * Queries (one long-lived query each, all on a 100 ms processing-time
  * trigger, so idle queries poll their sources ten times a second):
  *   dim         DimPipeline.parseCdc → DimPipeline.processBatch — config-routed Upsert merge of base_dic
  *   dwd_log     LogSplit.parse + splitAll → Sinks.exactlyOnceBatch
  *   dwd_trade   parseCdc → DwdApps.orderDetail (+ detail corrections) → MergeOnRead.merge(commitId)
  *   dws_uv      Stateful.firstSeenPerDay → UpsertStreamSink (merge-on-read, epoch versions)
  *   dws_window  WindowedAggs.keyedWindowAgg over the DWD page table → file sink,
  *               plus a LateData.splitBatch quarantine query over the same input
  *   dws_trade   IncrementalDws.streamingMor over the MOR fact's change feed
  */
final class StreamPipeline(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._
  val shape = Gen.WaveShape()
  val MaintenanceEvery = 2
  /** Compact once more than two delta batches are live, so short runs compact. */
  val Policy = graft.io.Maintenance.Policy(maxDeltaBatches = 2)
  val WarmupWaves = 1
  /** Idle queries poll their sources at this interval. */
  val Trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L)

  private val root: Path = Paths.get("stream").toAbsolutePath
  private def p(rel: String) = root.resolve(rel).toString
  private val logDir = root.resolve("ods/topic_log"); private val dbDir = root.resolve("ods/topic_db")
  private val dimDir = p("dim"); private val dwdDir = p("dwd"); private val morDir = p("mor/order_detail")
  private val tradeDir = p("dws/trade"); private val uvDir = p("dws/uv")
  private val windowDir = p("dws/page_window"); private val lateDir = p("dws/page_window_late")
  private val dims = Seq(DimConfig("base_dic", "dim_base_dic", Seq("dic_code", "dic_name"), "dic_code"))
  private val factSchema = StructType(Seq(StructField("id", StringType), StructField("order_id", StringType),
    StructField("sku_id", StringType), StructField("split_total_amount", DecimalType(16, 2)),
    StructField("ts", LongType), StructField("__op", StringType)))

  private val queries = scala.collection.mutable.LinkedHashMap[String, Seq[StreamingQuery]]()
  private var wave = 0
  private var odsEvents = 0L
  /** (window input rows, on-time rows, quarantined rows) per quarantine batch. */
  private val lateCounts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
  private val backlog = ArrayBuffer[Int]()

  def generate(): Unit = Files.createDirectories(root)

  private def land(w: Int): Unit = {
    val (logs, db) = Gen.wave(seed, w, shape)
    val lb = (logs.mkString("\n") + "\n").getBytes(UTF_8)
    val db2 = (db.mkString("\n") + "\n").getBytes(UTF_8)
    Gen.writeAtomic(logDir.resolve(f"wave-$w%06d.json"), lb)
    Gen.writeAtomic(dbDir.resolve(f"wave-$w%06d.json"), db2)
    odsEvents += logs.size + db.size
  }

  private def start(name: String)(qs: => Seq[StreamingQuery]): Unit = {
    val started = qs
    started.foreach(q => tr.queryNames.put(q.id.toString, name))
    queries(name) = started
  }

  private def textStream(dir: Path): DataFrame =
    Sources.stream(spark, SourceConf("file", path = Some(dir.toString)))

  def setup(): Unit = {
    Files.createDirectories(logDir); Files.createDirectories(dbDir)
    MergeOnRead.recordContract(spark, morDir, Seq("id"), "ts", Some("__op"),
      numBuckets = 4, schema = Some(factSchema))
    val trigger = Trigger
    // DimPipeline.run's body with an explicit trigger
    start("dim") {
      Seq(DimPipeline.parseCdc(textStream(dbDir)).writeStream.trigger(trigger)
        .option("checkpointLocation", p("ck/dim"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          tr("io.upsert_merge") { DimPipeline.processBatch(spark, b, dims, dimDir) }; ()
        }.start())
    }
    start("dwd_log") {
      Seq(LogSplit.parse(textStream(logDir)).writeStream.trigger(trigger)
        .option("checkpointLocation", p("ck/dwd_log"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          val c = b.cache()
          LogSplit.splitAll(c).foreach { case (sink, df) =>
            tr("io.sink_commit") { Sinks.exactlyOnceBatch(df, s"$dwdDir/$sink", id) }
          }
          c.unpersist(); ()
        }.start())
    }
    start("dwd_trade") {
      Seq(DimPipeline.parseCdc(textStream(dbDir)).writeStream.trigger(trigger)
        .option("checkpointLocation", p("ck/dwd_trade"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          val c = b.cache()
          val inserts = tr("rtdw.order_detail") {
            val d = DwdApps.orderDetail(c).select(StreamPipeline.factCols(lit("insert")): _*).cache()
            d.count(); d
          }
          val corrections = c.filter(col("table") === "order_detail" && col("type").isin("update", "delete"))
            .select(col("data")("id").as("id"), col("data")("order_id").as("order_id"),
              col("data")("sku_id").as("sku_id"),
              col("data")("split_total_amount").as("split_total_amount"), col("ts"), col("type").as("__op"))
            .select(StreamPipeline.factCols(col("__op")): _*)
          tr("io.mor_merge") {
            MergeOnRead.merge(spark, morDir, inserts.unionByName(corrections), commitId = Some(s"dwd_trade-$id"))
          }
          inserts.unpersist(); c.unpersist(); ()
        }.start())
    }
    start("dws_uv") {
      Seq(Stateful.firstSeenPerDay(
        LogSplit.pageDf(LogSplit.parse(textStream(logDir)))
          .select(col("mid").as("key"), date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("day"))
          .as[KeyDay])
        .writeStream.trigger(trigger)
        .format(classOf[graft.sources.UpsertStreamSink].getName)
        .option("path", uvDir).option("pk", "key,day")
        .option("versionFromEpoch", "true").option("mor", "true")
        .option("checkpointLocation", p("ck/dws_uv"))
        .outputMode("append").start())
    }
    // the DWD page table as Sinks.exactlyOnceBatch lays it out: the
    // page split's columns plus the `commit=<batch>` partition column
    val pageSchema = LogSplit.pageDf(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Schemas.behaviorLog)).schema
      .add(StructField("commit", IntegerType))
    Files.createDirectories(Paths.get(s"$dwdDir/dwd_traffic_page"))
    def pages = spark.readStream.schema(pageSchema).parquet(s"$dwdDir/dwd_traffic_page")
      .withColumn("event_time", timestamp_millis(col("ts")))
    start("dws_window") {
      // the file branch of Sinks.stream, with an explicit trigger
      Seq(WindowedAggs.keyedWindowAgg(pages, "event_time", "1 hour", StreamPipeline.Delay,
          Seq("page_id"), Seq(count(lit(1)).as("pv")))
        .writeStream.trigger(trigger).format("parquet").outputMode("append")
        .option("path", windowDir).option("checkpointLocation", p("ck/dws_window"))
        .partitionBy("cur_date").start(),
        pages.writeStream.trigger(trigger)
          .option("checkpointLocation", p("ck/dws_window_late"))
          .foreachBatch { (b: DataFrame, id: Long) =>
            val c = b.cache()
            val (onTime, late) = LateData.splitBatch(spark, c, "event_time", StreamPipeline.Delay,
              p("dws/hwm"), id)
            tr("io.sink_commit") { Sinks.exactlyOnceBatch(late.drop("event_time"), lateDir, id) }
            lateCounts.put(id, (c.count(), onTime.count(), late.count()))
            c.unpersist(); ()
          }.start())
    }
    start("dws_trade") {
      Seq(IncrementalDws.streamingMor(spark, morDir, tradeDir, Seq("sku_id"),
        Seq("split_total_amount"), p("ck/dws_trade"), trigger = trigger))
    }
    for (w <- 0 until WarmupWaves) runWave(w, warm = true)
  }

  private def runWave(w: Int, warm: Boolean): Double = {
    land(w)
    val t0 = System.nanoTime()
    tr.ambientSpan("wave") {
      queries.foreach { case (name, qs) =>
        tr.ambientSpan(s"streaming.$name") { qs.foreach(_.processAllAvailable()) }
      }
      if (!warm && (w + 1) % MaintenanceEvery == 0) {
        backlog += MergeOnRead.deltaBatches(spark, morDir).size
        tr("io.maintenance") {
          graft.io.Maintenance.run(spark, morDir, Seq("id"), "ts", Policy)
          graft.io.Maintenance.run(spark, s"$tradeDir/table", Seq("sku_id"), "__v", Policy)
        }
      }
      tr("io.serving_read") { servingReads() }
    }
    (System.nanoTime() - t0) / 1e6
  }

  private def servingReads(): Unit = {
    IncrementalDws.current(spark, tradeDir).foreach(_.queryExecution.toRdd.count())
    MergeOnRead.read(spark, morDir, Seq("id"), "ts", Some("__op")).queryExecution.toRdd.count()
    MergeOnRead.read(spark, uvDir, Seq("key", "day"), "__v").queryExecution.toRdd.count()
    Upsert.read(spark, s"$dimDir/dim_base_dic").queryExecution.toRdd.count()
  }

  def op(i: Int): OpResult = {
    val w = WarmupWaves + i
    val ms = runWave(w, warm = false)
    wave = w + 1
    OpResult("wave", ok = true, ms = Some(ms))
  }

  override def opsPerRound: Int = MaintenanceEvery

  override def checkFailsAllOps: Boolean = true

  /** Compare every serving table with a plain-DataFrame batch recompute
    * over all landed input.
    */
  override def check(): Seq[(String, Boolean, String)] = {
    queries.values.flatten.foreach(_.processAllAvailable())
    val c = new StreamPipeline.Checker(spark, logDir.toString, dbDir.toString)
    val out = StreamPipeline.Outputs(
      dim = Upsert.read(spark, s"$dimDir/dim_base_dic"),
      fact = MergeOnRead.read(spark, morDir, Seq("id"), "ts", Some("__op")),
      trade = IncrementalDws.current(spark, tradeDir).get,
      uv = MergeOnRead.read(spark, uvDir, Seq("key", "day"), "__v"),
      pages = spark.read.parquet(s"$dwdDir/dwd_traffic_page"),
      lateCounts = lateCounts.values.asScala.toSeq.map(t => (t._1, t._2, t._3)))
    c.all(out)
  }

  override def close(): Unit = queries.values.flatten.foreach(_.stop())

  override def gauges(): Seq[(String, String)] = {
    val stats = StreamPipeline.dirStats(root.resolve("ods"))
    val tables = Seq("dim", "dwd", "mor", "dws").map(d => StreamPipeline.dirStats(root.resolve(d)))
    val (tFiles, tBytes) = (tables.map(_._1).sum, tables.map(_._2).sum)
    val late = lateCounts.values.asScala.toSeq.map(t => (t._1, t._3))
    Seq(
      "waves" -> (wave - WarmupWaves).toString,
      "events_per_wave" -> (odsEvents.toDouble / math.max(1, wave)).toString,
      "ods_bytes" -> stats._2.toString,
      "io.live_files" -> tFiles.toString,
      "io.bytes_per_input_byte" -> (tBytes.toDouble / math.max(1L, stats._2)).toString,
      "io.mor_delta_backlog" -> (if (backlog.isEmpty) "null" else (backlog.sum.toDouble / backlog.size).toString),
      "rtdw.late_share" -> (late.map(_._2).sum.toDouble / math.max(1L, late.map(_._1).sum)).toString)
  }
}

object StreamPipeline {
  val Delay = "30 minutes"

  object Checker {
    /** The generator's Maxwell envelope: every value in `data` is a string. */
    val Cdc: StructType = new StructType().add("table", StringType).add("type", StringType)
      .add("ts", LongType).add("data", new StructType().add("id", StringType).add("order_id", StringType)
        .add("sku_id", StringType).add("split_total_amount", StringType)
        .add("dic_code", StringType).add("dic_name", StringType))
    /** The fields of the generator's behaviour log that the checks compare. */
    val Log: StructType = new StructType()
      .add("common", new StructType().add("mid", StringType).add("uid", StringType))
      .add("page", new StructType().add("page_id", StringType).add("during_time", LongType))
      .add("ts", LongType)
  }

  def factCols(op: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    col("id"), col("order_id"), col("sku_id"),
    col("split_total_amount").cast(DecimalType(16, 2)).as("split_total_amount"),
    col("ts"), op.as("__op"))

  def dirStats(d: Path): (Long, Long) =
    if (!Files.exists(d)) (0L, 0L)
    else {
      val s = Files.walk(d)
      try {
        val files = s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toArray
          .map(_.asInstanceOf[Path])
        (files.count(_.toString.endsWith(".parquet")).toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }

  /** Multiset equality of two (small) frames over the given columns,
    * compared on the driver.
    */
  def same(a: DataFrame, b: DataFrame, cols: Seq[String]): (Boolean, String) = {
    def rows(df: DataFrame) = df.select(cols.map(col): _*).collect().toSeq
      .groupMapReduce(WarehouseQueries.canon)(_ => 1)(_ + _)
    val (x, y) = (rows(a), rows(b))
    def excess(p: Map[String, Int], q: Map[String, Int]) =
      p.map { case (k, n) => math.max(0, n - q.getOrElse(k, 0)) }.sum
    val (extra, missing) = (excess(x, y), excess(y, x))
    (extra == 0 && missing == 0, s"unexpected=$extra missing=$missing rows=${y.values.sum}")
  }

  /** Every quarantine batch splits its input exactly into on-time and
    * quarantined rows, and the batches together saw every DWD page row.
    * `counts` holds (input, on-time, quarantined) per batch.
    */
  def lateSplitOk(counts: Seq[(Long, Long, Long)], dwdPages: Long): Boolean =
    counts.forall { case (in, on, late) => in == on + late } && counts.map(_._1).sum == dwdPages

  final case class Outputs(dim: DataFrame, fact: DataFrame, trade: DataFrame, uv: DataFrame,
                           pages: DataFrame, lateCounts: Seq[(Long, Long, Long)])

  /** Batch recomputes over the landed ODS files and the comparisons. The
    * recomputes read the generator's JSON with their own schemas and use
    * plain selects, filters and joins, none of the program's parse or
    * DWD functions, so a defect in those shows as a mismatch.
    */
  final class Checker(spark: SparkSession, logDir: String, dbDir: String) {
    private val cdc = spark.read.schema(Checker.Cdc).json(dbDir).cache()
    /** Page logs: every generated log event has a mid and a ts; page
      * events carry a `page` object, app starts do not.
      */
    private val pageLogs = spark.read.schema(Checker.Log).json(logDir)
      .filter(col("page").isNotNull)
      .select(col("common.mid").as("mid"), col("common.uid").as("uid"), col("page.page_id").as("page_id"),
        col("page.during_time").as("during_time"), col("ts"))
      .cache()

    private def inserts(table: String): DataFrame =
      cdc.filter(col("table") === table && col("type") === "insert")

    /** Latest event per key wins; a latest `delete` removes the key. */
    private def lww(rows: DataFrame, key: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key)).orderBy(col("ts").desc)
      rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1 && col("type") =!= "delete")
        .drop("rn")
    }

    def expectedDim: DataFrame =
      lww(cdc.filter(col("table") === "base_dic")
        .select(col("data.dic_code").as("dic_code"), col("data.dic_name").as("dic_name"),
          col("ts"), col("type")), "dic_code").select("dic_code", "dic_name")

    /** One fact row per inserted detail whose order was inserted (the
      * generator plants at most one activity and no coupon per detail, so
      * those enrichments add no rows), then later updates and deletes.
      */
    def expectedFact: DataFrame = {
      val detailCols = Seq(col("data.id").as("id"), col("data.order_id").as("order_id"),
        col("data.sku_id").as("sku_id"), col("data.split_total_amount").as("split_total_amount"), col("ts"))
      val orders = inserts("order_info").select(col("data.id").as("order_id"))
      val odIns = inserts("order_detail").select(detailCols: _*).join(orders, Seq("order_id"), "left_semi")
        .withColumn("type", lit("insert"))
      val corr = cdc.filter(col("table") === "order_detail" && col("type").isin("update", "delete"))
        .select(detailCols :+ col("type"): _*)
      lww(odIns.unionByName(corr), "id")
        .select(col("id"), col("order_id"), col("sku_id"),
          col("split_total_amount").cast(DecimalType(16, 2)).as("split_total_amount"), col("ts"))
    }

    def expectedTrade: DataFrame = expectedFact.groupBy("sku_id")
      .agg(sum("split_total_amount").as("split_total_amount"), count(lit(1)).as("row_ct"))

    def expectedUv: DataFrame = pageLogs
      .select(col("mid").as("key"), date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("day"))
      .distinct()

    def expectedPages: DataFrame = pageLogs

    def all(o: Outputs): Seq[(String, Boolean, String)] = {
      def chk(name: String, r: (Boolean, String)) = (name, r._1, r._2)
      val pageCols = Seq("mid", "uid", "page_id", "during_time", "ts")
      val inRows = o.lateCounts.map(_._1).sum
      val onTime = o.lateCounts.map(_._2).sum; val late = o.lateCounts.map(_._3).sum
      val pagesN = o.pages.count()
      Seq(
        chk("dim_base_dic", same(o.dim, expectedDim, Seq("dic_code", "dic_name"))),
        chk("mor_fact", same(o.fact, expectedFact, Seq("id", "order_id", "sku_id", "split_total_amount", "ts"))),
        chk("dws_trade", same(o.trade.filter(col("row_ct") =!= 0), expectedTrade,
          Seq("sku_id", "split_total_amount", "row_ct"))),
        chk("dws_uv", same(o.uv, expectedUv, Seq("key", "day"))),
        chk("dwd_page", same(o.pages, expectedPages, pageCols)),
        ("late_split", lateSplitOk(o.lateCounts, pagesN),
          s"window input=$inRows on-time=$onTime quarantined=$late dwd pages=$pagesN"))
    }
  }
}
