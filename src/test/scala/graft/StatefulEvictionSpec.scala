package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, EventTimeWatermark,
  FlatMapGroupsWithState, Project}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}
import graft.model._
import graft.rtdw.{DwsApps, LoginEvent}
import graft.streaming.{PageViewRow, Stateful, TrafficPageView}

/** VERDICT r2 #1 — dormant-key eviction for the stateful family.
  *
  * With eviction ON: (a) active keys behave exactly as without it;
  * (b) a key idle past the event-time TTL is PHYSICALLY removed from
  * the state store (numRowsTotal tracks active keys, not all-time
  * keys); (c) a returning evicted key re-counts — one extra emission,
  * the reference's own 1-day StateTtlConfig semantics
  * (DwsTrafficVcChArIsNewPageViewWindow.java:133-136). (a)–(c) are
  * checked for every operator of the family over one shared feed.
  */
class StatefulEvictionSpec extends SparkSpec {
  import spark.implicits._

  private def stateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  private def ts(day: String) = Timestamp.valueOf(s"$day 10:00:00")

  /** u1 and u2 on day 1; only u2 stays active (day 20) — the watermark
    * jumps past u1's (day 1 + 7 d) expiry; new key u3 on day 21; u1
    * returns on day 22.
    */
  private val feed = Seq(
    Seq("u1" -> "2024-01-01", "u2" -> "2024-01-01"),
    Seq("u2" -> "2024-01-20"),
    Seq("u3" -> "2024-01-21"),
    Seq("u1" -> "2024-01-22"))

  /** One operator of the family under [[feed]]: `row` builds its input
    * for (key, day), `run` applies it with an optional idle TTL in
    * days, and `u1` sums what it emitted for the returning key u1 —
    * `recount` is that sum (with eviction, without).
    */
  private case class Op[T](name: String, keyCol: String, row: (String, String) => T,
                           run: (Dataset[T], Option[Int]) => DataFrame,
                           u1: DataFrame => Long, recount: (Long, Long))(implicit enc: Encoder[T]) {

    /** [[feed]] as a stream: (state rows after each micro-batch,
      * emissions for keys other than u1, u1's sum).
      */
    def streamed(ttl: Option[Int]): (Seq[Long], Set[Row], Long) = {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[T]
      val table = s"evict_${name}_${ttl.isDefined}"
      val q = run(ms.toDS(), ttl).writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      try {
        val rows = feed.map { b =>
          ms.addData(b.map { case (k, d) => row(k, d) })
          q.processAllAvailable()
          stateRows(q)
        }
        val out = spark.table(table)
        (rows, out.filter(col(keyCol) =!= "u1").collect().toSet, u1(out))
      } finally q.stop()
    }

    /** [[feed]] as one batch Dataset. */
    def batched(ttl: Option[Int]): Set[Row] =
      run(spark.createDataset(feed.flatten.map { case (k, d) => row(k, d) }), ttl).collect().toSet
  }

  private def u1Sum(keyCol: String, c: String)(out: DataFrame): Long =
    out.filter(col(keyCol) === "u1").agg(sum(col(c)).cast("long")).as[Long].head()

  private val family: Seq[Op[_]] = Seq(
    // a return carrying a current day emits either way: the re-count is
    // not visible in the output, only in the state rows
    Op[KeyDay]("firstSeenPerDay", "key", KeyDay(_, _),
      (ds, ttl) => Stateful.firstSeenPerDay(ds, ttl).toDF(),
      _.filter(col("key") === "u1").count(), (2L, 2L)),
    // u1 claims new again on return: evicted ⇒ accepted as new once more
    Op[VisitorHit]("isNewFix", "mid", VisitorHit(_, _, "1"),
      (ds, ttl) => Stateful.isNewFix(ds, ttl).toDF(),
      _.filter(col("mid") === "u1" && col("isNew") === "1").count(), (2L, 1L)),
    // amount 100 × day-of-month: evicted ⇒ the return re-counts in full
    Op[VersionedAmount]("upsertDeltas", "key",
      (k, d) => VersionedAmount(k, Stateful.dayMs(d), 100L * d.takeRight(2).toLong),
      (ds, ttl) => Stateful.upsertDeltas(ds, ttl.map(d => s"$d days")).toDF(),
      u1Sum("key", "delta"), (2300L, 2200L)),
    // evicted ⇒ the return is a first login, not a back-flow
    Op[LoginEvent]("loginFlags", "uid", (k, d) => LoginEvent(k, d, ts(d)),
      (ds, ttl) => DwsApps.loginFlags(ds, idleTtlDays = ttl).toDF(),
      u1Sum("uid", "backCt"), (0L, 1L)),
    Op[PageViewRow]("annotate", "mid",
      (k, d) => PageViewRow(k, "v1", "ch", "ar", "1", null, 10L, ts(d)),
      (ds, ttl) => TrafficPageView.annotate(ds, ttl).toDF(),
      u1Sum("mid", "uvCt"), (2L, 2L)))

  test("idle key is evicted from the store and re-counts on return; active keys unaffected") {
    family.foreach { op =>
      val (evictRows, evictOthers, evictU1) = op.streamed(Some(7))
      val (keepRows, keepOthers, keepU1) = op.streamed(None)
      // after day 21 the store holds {u2, u3}; u1 re-enters on return
      assert(evictRows.drop(2) == Seq(2L, 3L), s"${op.name}: state rows $evictRows")
      assert(keepRows.drop(2) == Seq(3L, 3L), s"${op.name}: state rows without eviction $keepRows")
      assert(evictOthers == keepOthers, s"${op.name}: active keys' emissions changed")
      assert((evictU1, keepU1) == op.recount, s"${op.name}: u1 re-count")
    }
  }

  test("batch runs of the evicting variants equal their non-evicting twins") {
    // no watermark on a batch input ⇒ no timeouts: the TTL is inert
    family.foreach(op => assert(op.batched(Some(7)) == op.batched(None), op.name))
  }

  test("eviction off adds no watermark, projection or timeout to the streaming plan") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyDay]
    def shape(ttl: Option[Int]) = {
      val plan = Stateful.firstSeenPerDay(ms.toDS(), ttl).queryExecution.analyzed
      val f = plan.collectFirst { case f: FlatMapGroupsWithState => f }.get
      (f.timeout, f.child.isInstanceOf[AppendColumns],
        plan.exists(_.isInstanceOf[EventTimeWatermark]), plan.exists(_.isInstanceOf[Project]))
    }
    assert(shape(None) == ((GroupStateTimeout.NoTimeout, true, false, false)))
    assert(shape(Some(7)) == ((GroupStateTimeout.EventTimeTimeout, true, true, true)))
  }

  test("no key idle past the TTL ⇒ emissions identical to the non-evicting operator") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyDay]
    val q = Stateful.firstSeenPerDay(ms.toDS(), idleTtlDays = Some(7))
      .writeStream.format("memory").queryName("fsd_evict_quiet").outputMode("append").start()
    try {
      ms.addData(KeyDay("u1", "2024-01-01"), KeyDay("u2", "2024-01-01"))
      q.processAllAvailable()
      ms.addData(KeyDay("u1", "2024-01-01"), // dup: still suppressed
        KeyDay("u1", "2024-01-03"), KeyDay("u2", "2024-01-05"))
      q.processAllAvailable()
      val rows = spark.table("fsd_evict_quiet").as[FirstSeen].collect().toSet
      assert(rows == Set(FirstSeen("u1", "2024-01-01"), FirstSeen("u2", "2024-01-01"),
        FirstSeen("u1", "2024-01-03"), FirstSeen("u2", "2024-01-05")))
      assert(stateRows(q) == 2)
    } finally q.stop()
  }

  test("eviction works identically on the RocksDB store across a restart (100 TB posture)") {
    val root = java.nio.file.Files.createTempDirectory("evict_rocks").toString
    val in = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def startQuery() =
        Stateful.firstSeenPerDay(
          spark.readStream.schema("key STRING, day STRING").json(in).as[KeyDay],
          idleTtlDays = Some(7))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ck)
          .outputMode("append").start()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
        """{"key":"u1","day":"2024-01-01"}
          |{"key":"u2","day":"2024-01-01"}""".stripMargin.getBytes)
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      // restart from checkpoint; u2 stays active far past u1's TTL
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        """{"key":"u2","day":"2024-01-20"}""".getBytes)
      val q2 = startQuery(); q2.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b3.json"),
        """{"key":"u3","day":"2024-01-21"}""".getBytes)
      q2.processAllAvailable()
      assert(q2.lastProgress.stateOperators.map(_.numRowsTotal).sum == 2,
        "u1 must be evicted from the RocksDB store after restart")
      q2.stop()
      val rows = spark.read.parquet(outDir).select("key", "day")
        .as[(String, String)].collect().toSet
      assert(rows == Set(("u1", "2024-01-01"), ("u2", "2024-01-01"),
        ("u2", "2024-01-20"), ("u3", "2024-01-21")))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("upsertDeltasEvicting: within-TTL corrections telescope; state tracks the correction window") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[VersionedAmount]
    val q = Stateful.upsertDeltas(ms.toDS(), ttl = Some("30 seconds"))
      .writeStream.format("memory").queryName("ud_evict").outputMode("append").start()
    try {
      val t0 = 1704067200000L
      ms.addData(VersionedAmount("d1", t0, 1000L), VersionedAmount("d2", t0, 500L))
      q.processAllAvailable()
      // correction INSIDE the 30s window telescopes: +300, not +1300
      ms.addData(VersionedAmount("d1", t0 + 10000, 1300L))
      q.processAllAvailable()
      // far-future key pushes the watermark past both ids' TTLs
      ms.addData(VersionedAmount("d9", t0 + 600000, 42L))
      q.processAllAvailable()
      ms.addData(VersionedAmount("d8", t0 + 610000, 1L)) // triggers the eviction batch
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 2,
        "d1/d2 must be evicted after the correction window passes")
      val sums = spark.table("ud_evict").groupBy("key")
        .agg(org.apache.spark.sql.functions.sum("delta").as("s"))
        .as[(String, Long)].collect().toMap
      assert(sums("d1") == 1300L && sums("d2") == 500L, s"telescoping broke: $sums")
    } finally q.stop()
  }

  test("evicting isNewFix drops a dormant mid and re-fixes a returning one from scratch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[VisitorHit]
    val q = Stateful.isNewFix(ms.toDS(), idleTtlDays = Some(7))
      .writeStream.format("memory").queryName("inf_evict").outputMode("append").start()
    try {
      ms.addData(VisitorHit("m1", "2024-01-01", "1"), VisitorHit("m2", "2024-01-01", "1"))
      q.processAllAvailable()
      ms.addData(VisitorHit("m2", "2024-01-20", "1")) // watermark jumps past m1's TTL
      q.processAllAvailable()
      ms.addData(VisitorHit("m3", "2024-01-21", "0"))
      q.processAllAvailable()
      assert(stateRows(q) == 2, "dormant m1 must be evicted")
      // m1 returns claiming new: with state evicted the forged-flag
      // check restarts — it is accepted as new once more (bounded
      // re-count, the reference's trade)
      ms.addData(VisitorHit("m1", "2024-01-22", "1"))
      q.processAllAvailable()
      val m1 = spark.table("inf_evict").as[VisitorHitFixed].collect()
        .filter(_.mid == "m1").toSeq
      assert(m1.count(_.isNew == "1") == 2)
    } finally q.stop()
  }
}
