package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Tests of the benchmark's own generators and output checks: each
  * check must reject a deliberately corrupted output, and every
  * generator must be byte-stable per seed. Exits non-zero on failure.
  *
  *   run through `python3 perfbench/test_perfbench.py`
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- generators: same seed, same bytes; another seed, other bytes
    val shape = Gen.WaveShape()
    val w1 = Gen.wave(7L, 3, shape); val w2 = Gen.wave(7L, 3, shape)
    expect("stream wave is byte-stable per seed", w1 == w2)
    expect("stream wave differs across seeds", Gen.wave(8L, 3, shape) != w1)
    expect("stream waves differ across wave numbers", Gen.wave(7L, 4, shape) != w1)
    val c1 = Corpus.canonical(Corpus.generate(200, 11L))
    expect("corpus is byte-stable per seed", Corpus.md5(c1) == Corpus.md5(Corpus.canonical(Corpus.generate(200, 11L))))
    expect("corpus differs across seeds", Corpus.md5(c1) != Corpus.md5(Corpus.canonical(Corpus.generate(200, 12L))))
    val corpus = Corpus.generate(200, 11L)
    expect("corpus plants near-duplicate pairs", corpus.nearDupPairs.nonEmpty)

    // ---- corpus_curation checks
    val ref = Corpus.exactGroups(corpus)
    expect("exact dedup accepts the md5 recompute", CorpusCuration.exactMatches(ref, ref))
    val (h, (keep, n)) = ref.head
    expect("exact dedup rejects an altered keep id", !CorpusCuration.exactMatches(ref.updated(h, (keep + 1, n)), ref))
    expect("exact dedup rejects a dropped group", !CorpusCuration.exactMatches(ref - h, ref))
    val planted = corpus.nearDupPairs
    expect("near-dup recall is 1 when every planted pair is found",
      CorpusCuration.pairRecall(planted, planted) == 1.0)
    expect("near-dup recall drops when one planted pair is missing",
      CorpusCuration.pairRecall(planted - planted.head, planted) < 1.0)

    // ---- warehouse_queries result hash
    val rows = Seq(Row(1L, "a", 1.0000001), Row(2L, "b", 2.5), Row(3L, null, 0.1 + 0.2))
    val hash = WarehouseQueries.resultHash(rows)
    expect("result hash ignores row order", WarehouseQueries.resultHash(rows.reverse) == hash)
    expect("result hash ignores float noise past 6 digits",
      WarehouseQueries.resultHash(Seq(Row(1L, "a", 1.00000012), Row(2L, "b", 2.5), Row(3L, null, 0.3))) == hash)
    expect("result hash rejects a dropped row", WarehouseQueries.resultHash(rows.tail) != hash)
    expect("result hash rejects an altered row",
      WarehouseQueries.resultHash(rows.updated(1, Row(2L, "b", 2.6))) != hash)

    // ---- stream_pipeline comparisons (a small local session)
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val schema = StructType(Seq(StructField("id", StringType), StructField("amt", LongType)))
      def df(rs: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)
      val good = Seq(Row("a", 1L), Row("b", 2L), Row("b", 2L), Row("c", 3L))
      val cmp = StreamPipeline.same(df(good), df(good), Seq("id", "amt"))
      expect("table comparison accepts an equal table", cmp._1)
      expect("table comparison rejects a dropped row",
        !StreamPipeline.same(df(good.tail), df(good), Seq("id", "amt"))._1)
      expect("table comparison rejects a dropped duplicate",
        !StreamPipeline.same(df(good.take(2) ++ good.drop(3)), df(good), Seq("id", "amt"))._1)
      expect("table comparison rejects an altered row",
        !StreamPipeline.same(df(good.updated(0, Row("a", 9L))), df(good), Seq("id", "amt"))._1)
    } finally spark.stop()
    expect("late split accepts on-time + quarantined = input",
      StreamPipeline.lateSplitOk(Seq((10L, 8L, 2L), (5L, 5L, 0L)), 15L))
    expect("late split rejects a lost quarantined row",
      !StreamPipeline.lateSplitOk(Seq((10L, 8L, 1L), (5L, 5L, 0L)), 15L))
    expect("late split rejects window input that misses DWD rows",
      !StreamPipeline.lateSplitOk(Seq((10L, 8L, 2L)), 15L))

    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures FAILED"}")
    if (failures > 0) sys.exit(1)
  }
}
