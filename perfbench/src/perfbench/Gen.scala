package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator draws from its own
  * SplittableRandom in a fixed order, so one seed always yields the
  * same rows and the same bytes. The program under test only ever sees
  * the files these write.
  */
object Gen {

  /** Zipf(s) sampler over 1..n by inverse CDF (n is small). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      lo + 1
    }
  }

  def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.getParent.resolve(s".${target.getFileName}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---------------------------------------------------------------- star schema

  /** TPC-H-shaped star schema in the layout `graft.io.Tables` reads
    * (`<dir>/<table>.parquet`), with the value domains of the repo's
    * synthetic testdata, plus a curation corpus (returned). `scale` 1.0
    * is the sf0.01 row counts.
    */
  def starSchema(spark: SparkSession, dir: String, scale: Double, seed: Long): Corpus = {
    val r = new SplittableRandom(seed)
    def n(base: Int) = math.max(1, (base * scale).toInt)
    val nCust = n(1500); val nSupp = math.max(25, n(100)); val nPart = n(2000)
    val nOrd = n(15000); val nEvents = n(10000)
    val day = 86400000000L // micros
    val t1995 = 788918400000000L // 1995-01-01 UTC
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: IndexedSeq[T]) = xs(r.nextInt(xs.size))
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), pick(segs))))
    write("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", i % 25,
        money(-999.99, 9999.99))))
    val adjs = IndexedSeq("small", "red", "blue", "green", "large", "shiny", "black", "white")
    val nouns = IndexedSeq("ring", "widget", "bolt", "anvil", "gear", "spring", "nut", "screw")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjs)} ${pick(nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(types), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val status = IndexedSeq("F", "O", "P")
    val prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = new Array[Long](nOrd)
    write("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      (0 until nOrd).map { i =>
        orderDates(i) = t1995 + r.nextInt(2400) * day
        Row(i.toLong, r.nextInt(nCust).toLong, pick(status), money(1000, 500000),
          ts(orderDates(i)), pick(prios))
      })
    val flags = IndexedSeq("A", "N", "R")
    val lines = scala.collection.mutable.ArrayBuffer[Row]()
    for (o <- 0 until nOrd; ln <- 1 to (1 + r.nextInt(7))) {
      val q = (1 + r.nextInt(50)).toDouble
      lines += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q,
        math.round(q * (900 + r.nextDouble() * 1200) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(flags),
        if (r.nextBoolean()) "F" else "O", ts(orderDates(o) + (1 + r.nextInt(120)) * day))
    }
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
      lines.toSeq)
    val evTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    val t2024 = 1704067200000000L
    val step = 30L * day / nEvents
    write("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, ts(t2024 + i * step + r.nextInt(1000000)),
        r.nextInt(150).toLong, pick(evTypes), money(0.01, 490),
        s"""{"k": ${r.nextInt(100)}}""")))
    val c = Corpus.generate(n(500), seed + 1)
    Corpus.write(spark, dir, c)
    c
  }

  // ---------------------------------------------------------------- stream waves

  /** Traffic dimensions of one `stream_pipeline` wave. */
  final case class WaveShape(logsPerWave: Int = 600, ordersPerWave: Int = 60,
                             mids: Int = 400, skus: Int = 200, zipfS: Double = 1.1,
                             lateShare: Double = 0.1, updateShare: Double = 0.15,
                             deleteShare: Double = 0.05, dicUpdatesPerWave: Int = 4)

  /** The JSON lines of wave `w` (topic_log, topic_db). Event time moves
    * one hour per wave; a `lateShare` of log events carry an event time
    * two to three hours behind their wave. Each wave carries whole
    * orders (order_info + its details + activity rows) so the per-batch
    * DWD join sees both sides; updates and deletes hit details of
    * earlier waves.
    */
  def wave(seed: Long, w: Int, shape: WaveShape): (Seq[String], Seq[String]) = {
    val r = new SplittableRandom(seed * 1000003L + w)
    val midZ = new Zipf(shape.mids, shape.zipfS)
    val skuZ = new Zipf(shape.skus, shape.zipfS)
    val base = 1704067200000L + w * 3600000L
    val pages = IndexedSeq("home", "good_detail", "cart", "trade", "search", "mine")
    val logs = (0 until shape.logsPerWave).map { i =>
      val mid = s"m${midZ.next(r)}"
      val late = r.nextDouble() < shape.lateShare
      val ts = if (late) base - 7200000L - r.nextInt(3600000) else base + r.nextInt(3600000)
      val common = s""""common":{"mid":"$mid","uid":"u${r.nextInt(5000)}","vc":"v1","ch":"app","ar":"${110000 + r.nextInt(30)}","is_new":"${r.nextInt(2)}"}"""
      if (r.nextInt(10) == 0)
        s"""{$common,"start":{"entry":"icon","loading_time":${100 + r.nextInt(900)}},"ts":$ts}"""
      else {
        val page = pages(r.nextInt(pages.size))
        val sku = s"sku${skuZ.next(r)}"
        val disp = (0 until r.nextInt(3)).map(k =>
          s"""{"item":"sku${skuZ.next(r)}","item_type":"sku_id","pos_id":$k}""").mkString(",")
        val acts = if (r.nextInt(4) == 0) s""","actions":[{"action_id":"favor_add","item":"$sku","ts":${ts + 1}}]""" else ""
        val err = if (r.nextInt(50) == 0) s""","err":{"error_code":${1000 + r.nextInt(5)},"msg":"oops"}""" else ""
        s"""{$common,"page":{"page_id":"$page","last_page_id":null,"item":"$sku","item_type":"sku_id","during_time":${r.nextInt(9000)}},"displays":[$disp]$acts$err,"ts":$ts}"""
      }
    }
    val db = scala.collection.mutable.ArrayBuffer[String]()
    def cdc(table: String, op: String, ts: Long, kv: Seq[(String, String)]) =
      db += s"""{"database":"gmall","table":"$table","type":"$op","ts":$ts,"data":{${kv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}}}"""
    for (o <- 0 until shape.ordersPerWave) {
      val oid = s"o$w-$o"; val ts = base + o
      cdc("order_info", "insert", ts, Seq("id" -> oid, "user_id" -> s"u${r.nextInt(5000)}",
        "province_id" -> s"p${r.nextInt(34)}"))
      for (d <- 0 until 1 + r.nextInt(3)) {
        val did = s"d$w-$o-$d"
        cdc("order_detail", "insert", ts, Seq("id" -> did, "order_id" -> oid,
          "sku_id" -> s"sku${skuZ.next(r)}", "sku_num" -> s"${1 + r.nextInt(3)}",
          "split_total_amount" -> f"${1 + r.nextInt(50000) / 100.0}%.2f"))
        if (r.nextInt(3) == 0)
          cdc("order_detail_activity", "insert", ts, Seq("order_detail_id" -> did,
            "activity_id" -> s"a${r.nextInt(5)}"))
      }
    }
    // corrections and cancellations of details from earlier waves
    // (every earlier wave has at least one order with one detail: d<w'>-0-0)
    if (w > 0) {
      val nCorr = math.round(shape.ordersPerWave * (shape.updateShare + shape.deleteShare)).toInt
      for (k <- 0 until nCorr) {
        val pw = r.nextInt(w); val po = r.nextInt(shape.ordersPerWave)
        val did = s"d$pw-$po-0"
        val del = k < math.round(shape.ordersPerWave * shape.deleteShare)
        cdc("order_detail", if (del) "delete" else "update", base + 100000 + k,
          Seq("id" -> did, "order_id" -> s"o$pw-$po", "sku_id" -> s"sku${1 + ((pw * 31 + po) % shape.skus)}",
            "sku_num" -> "1", "split_total_amount" -> f"${1 + r.nextInt(50000) / 100.0}%.2f"))
      }
    }
    for (k <- 0 until shape.dicUpdatesPerWave) {
      val code = 1000 + r.nextInt(20)
      val op = if (w == 0) "insert" else if (r.nextInt(8) == 0) "delete" else "update"
      cdc("base_dic", op, base + 200000 + k, Seq("dic_code" -> code.toString,
        "dic_name" -> s"name-$code-$w-$k"))
    }
    if (w == 0) for (code <- 1000 until 1020)
      cdc("base_dic", "insert", base + 150000, Seq("dic_code" -> code.toString,
        "dic_name" -> s"name-$code"))
    (logs, db.toSeq)
  }
}

/** The curation corpus: docs with a planted exact-duplicate share, a
  * planted near-duplicate share (a copy of an earlier doc with a few
  * tokens replaced) and a language mix; plus clustered 64-d embeddings.
  */
final case class Corpus(docs: IndexedSeq[(Long, String, String, String)],
                        nearDupPairs: Set[(Long, Long)],
                        vecs: IndexedSeq[(Long, Array[Float], Int)])

object Corpus {
  val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu", "da", "gi")
    for (a <- syl; b <- syl) yield a + b
  }

  def generate(nDocs: Int, seed: Long, exactShare: Double = 0.05,
               nearShare: Double = 0.10, dim: Int = 64): Corpus = {
    val r = new SplittableRandom(seed)
    val langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
    val docs = new scala.collection.mutable.ArrayBuffer[(Long, String, String, String)]()
    val near = scala.collection.mutable.Set[(Long, Long)]()
    for (i <- 0 until nDocs) {
      val lang = langs(r.nextInt(langs.size))
      val src = s"src${r.nextInt(20)}"
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < exactShare) docs(r.nextInt(i))._3
        else if (i > 10 && u < exactShare + nearShare) {
          val j = r.nextInt(i)
          val toks = docs(j)._3.split(" ")
          // one replaced token per ~40: 3-shingle Jaccard stays well above 0.8
          for (_ <- 0 until math.max(1, toks.length / 40))
            toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.size))
          val t = toks.mkString(" ")
          if (t != docs(j)._3) near += ((docs(j)._1, i.toLong))
          t
        } else (0 until 60 + r.nextInt(60)).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
      docs += ((i.toLong, lang, text, src))
    }
    val centroids = Array.fill(10, dim)(r.nextGaussian().toFloat)
    val vecs = (0 until nDocs).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centroids(label)(d) + 0.6f * r.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum.toDouble).toFloat
      (i.toLong, v.map(_ / norm), label)
    }
    Corpus(docs.toIndexedSeq, near.toSet, vecs)
  }

  /** md5-of-text groups: the exact-dedup reference (keep_id, dup_ct). */
  def exactGroups(c: Corpus): Map[String, (Long, Long)] =
    c.docs.groupBy(d => md5(d._3)).map { case (h, ds) => h -> ((ds.map(_._1).min, ds.size.toLong)) }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** Brute-force cosine top-k of the first `nq` vectors (the ANN reference). */
  def exactTopK(c: Corpus, nq: Int, k: Int): Map[Long, Set[Long]] =
    (0 until nq).map { q =>
      val qv = c.vecs(q)._2
      q.toLong -> c.vecs.map { case (id, v, _) =>
        var s = 0.0; var d = 0; while (d < v.length) { s += qv(d) * v(d); d += 1 }
        (id, s)
      }.sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    }.toMap

  def write(spark: SparkSession, dir: String, c: Corpus): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.docs.map { case (id, lang, text, src) => Row(id, text, lang, src, text.length.toLong) }, 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.vecs.map { case (id, v, l) => Row(id, v.toSeq, l) }, 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Canonical bytes of the generated corpus (what the stability test hashes). */
  def canonical(c: Corpus): String =
    c.docs.map(d => s"${d._1}\t${d._2}\t${d._3}\t${d._4}").mkString("\n") + "\n" +
      c.vecs.map(v => s"${v._1}\t${v._3}\t${v._2.mkString(",")}").mkString("\n")
}
