package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** `warehouse_queries`: one op is one call of a read-only serving head
  * (`TpcH.*` / `Relational.*`, through the `SparkEntry` registry) over a
  * generated star schema, forced by collecting its rows (at most a few
  * thousand). The seed shuffles the head order within each pass. The
  * first pass runs inside set-up: it builds every head's fixtures (zone,
  * CBO and MV snapshots under the relative `target/` roots). Every call,
  * in set-up and timed, hashes the rows it returned, outside its timed
  * interval; the hash must equal the one pinned in
  * `perfbench/expected/warehouse_hashes.tsv`, or the call fails.
  */
final class WarehouseQueries(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  val dir: String = Paths.get("sf").toAbsolutePath.toString
  /** Star-schema scale (1.0 = the sf0.01 row counts) and its fixed data seed. */
  val Scale = 0.25
  val DataSeed = 42L

  val heads: IndexedSeq[String] = WarehouseQueries.Heads
  private val expected: Map[String, String] = WarehouseQueries.expected()
  private val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
  private val rng = new java.util.Random(seed)
  private var order: IndexedSeq[String] = IndexedSeq.empty
  // per-op figures for the trace report
  private val phaseMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private var scanFiles = 0L
  private var asofExecMs = 0.0
  private var asofCalls = 0L
  private var ruleRuns = 0L; private var ruleEffective = 0L; private var ruleNs = 0L

  private var corpus: Corpus = _
  private var dupRecall = Double.NaN
  private var ivfRecall = Double.NaN

  def generate(): Unit = corpus = Gen.starSchema(spark, dir, Scale, DataSeed)

  /** Pass 1 builds fixtures and records result hashes and recalls; pass 2
    * is a plain warm-up, so the timed passes run on compiled code.
    */
  def setup(): Unit = {
    heads.foreach(checkedCall)
    heads.foreach { h => WarehouseQueries.build(spark, h, dir).collect(); spark.catalog.clearCache() }
  }

  private def checkedCall(h: String): Unit = {
    val rows = WarehouseQueries.build(spark, h, dir).collect().toIndexedSeq
    hashes(h) = WarehouseQueries.resultHash(rows)
    if (h == "dedup_ngram_jaccard")
      dupRecall = CorpusCuration.pairRecall(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet,
        corpus.nearDupPairs)
    if (h == "sim_ivf_topk") {
      val ref = Corpus.exactTopK(corpus, 20, 11).map { case (q, s) => q -> (s - q) }
      val got = rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
      ivfRecall = ref.map { case (q, s) => (got.getOrElse(q, Set.empty[Long]) intersect s).size.toDouble / s.size }.sum / ref.size
    }
    spark.catalog.clearCache()
  }

  /** Two passes: a single pass's mean spread by ~17% over seeds, since
    * compilation is still settling three calls in; two passes spread ~11%.
    */
  override def opsPerRound: Int = 2 * heads.size

  def op(i: Int): OpResult = {
    if (i % heads.size == 0) order = scala.util.Random.javaRandomToRandom(rng).shuffle(heads)
    val h = order(i % heads.size)
    if (tr.enabled) org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    val layer = WarehouseQueries.LlmHeads.get(h).fold("ops")(st => s"llm.$st")
    val t0 = System.nanoTime()
    val (qe, rows, execMs) = tr(if (layer == "ops") "ops.call" else layer) {
      val df = tr(s"$layer.build") { WarehouseQueries.build(spark, h, dir) }
      val e0 = System.nanoTime()
      val rows = tr(s"$layer.exec") { df.collect() }
      (df.queryExecution, rows, (System.nanoTime() - e0) / 1e6)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val hash = WarehouseQueries.resultHash(rows.toIndexedSeq)
    val ok = expected.get(h).contains(hash)
    if (!ok) hashes(h) = hash // the final check then names the mismatch
    if (tr.enabled) {
      qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs.toDouble }
      val plan = qe.executedPlan
      val nodes = WarehouseQueries.allNodes(plan)
      scanFiles += nodes.flatMap(_.metrics.get("numFiles")).map(_.value).sum
      if (nodes.exists(_.getClass.getName.contains("AsOfJoin"))) { asofExecMs += execMs; asofCalls += 1 }
      WarehouseQueries.graftRuleMetering().foreach { case (runs, eff, ns) =>
        ruleRuns += runs; ruleEffective += eff; ruleNs += ns }
    }
    spark.catalog.clearCache()
    OpResult(h, ok, ms = Some(ms))
  }

  override def check(): Seq[(String, Boolean, String)] = heads.map { h =>
    (s"hash:$h", expected.get(h).contains(hashes(h)),
      s"got ${hashes(h)} expected ${expected.getOrElse(h, "none")}")
  }

  override def gauges(): Seq[(String, String)] = Seq(
    "heads" -> heads.size.toString,
    "hashes" -> Json.obj(hashes.toSeq.map { case (k, v) => k -> Json.str(v) }),
    "core.analysis_ms_total" -> phaseMs("analysis").toString,
    "core.optimization_ms_total" -> phaseMs("optimization").toString,
    "core.planning_ms_total" -> phaseMs("planning").toString,
    "core.graft_rule_ms_total" -> (ruleNs / 1e6).toString,
    "core.graft_rule_runs" -> ruleRuns.toString,
    "core.graft_rule_effective_runs" -> ruleEffective.toString,
    "ops.scan_files_total" -> scanFiles.toString,
    "plans.asof_exec_ms_total" -> asofExecMs.toString,
    "plans.asof_calls" -> asofCalls.toString,
    "llm.planted_dup_recall" -> Json.num(dupRecall),
    "llm.ivf_recall" -> Json.num(ivfRecall))
}

object WarehouseQueries {
  /** A read-only mix: TPC-H-shaped `q*` (including a zone-map
    * fixture head), DWS-analytics `a*`, DWD-join `j*` (including graft's
    * physical as-of join), the JSON ETL projection, and the cheaper
    * curation heads. Heads that mutate a table per call (SQL
    * MERGE/DML/rename, snapshot diff) are left out, and the mix is kept
    * small enough that a run measures whole passes.
    */
  lazy val Heads: IndexedSeq[String] = IndexedSeq(
    "q1_pricing", "q3_shipping", "q6_zones_forecast", "q9_product_profit",
    "a_window_analytics", "j5_sku_chain", "j_asof_join_exec", "p1_json_etl") ++
    LlmHeads.keys.toIndexedSeq.sorted

  /** Curation heads over the sf dir's generated corpus, by the `llm`
    * stage they stand for (the stages of a `corpus_curation` job).
    */
  val LlmHeads: Map[String, String] = Map(
    "text_normalize" -> "normalize", "dedup_exact" -> "exact_dedup",
    "dedup_ngram_jaccard" -> "ngram_jaccard", "sim_ivf_topk" -> "ann_topk")

  def build(spark: SparkSession, head: String, dir: String): DataFrame =
    graft.SparkEntry.queries(head)(spark, dir)

  def expectedPath = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"),
    "expected", "warehouse_hashes.tsv")

  def expected(): Map[String, String] =
    if (!Files.exists(expectedPath)) Map.empty
    else Files.readAllLines(expectedPath).asScala.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Canonical text of a value: doubles/floats to 6 significant digits
    * (partition order moves the last bits of a floating sum), nested
    * values recursively.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive hash of a result: md5 over the sorted canonical rows. */
  def resultHash(rows: Seq[Row]): String =
    Corpus.md5(rows.map(canon).sorted.mkString("\n")) + s":${rows.size}"

  /** Every physical node, descending into adaptive plans and query stages. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes) ++:
      other.subqueries.flatMap(allNodes)
  }

  /** (runs, effective runs, time ns) of Catalyst rules in package graft,
    * parsed from the global rule metering since the last reset.
    */
  def graftRuleMetering(): Option[(Long, Long, Long)] = {
    val dump = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
    val rows = dump.linesIterator.map(_.trim.split("\\s+")).filter(a =>
      a.length >= 7 && (a(0).startsWith("graft.") ||
        a(0).startsWith("org.apache.spark.sql.graft."))).toSeq
    if (rows.isEmpty) None
    else Some(rows.foldLeft((0L, 0L, 0L)) { case ((r, e, t), a) =>
      // columns: rule, effective time / total time, effective runs / total runs
      val n = a.length
      (r + a(n - 1).toLong, e + a(n - 3).toLong, t + a(n - 4).toLong)
    })
  }
}
