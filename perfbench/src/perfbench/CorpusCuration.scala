package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.llm.{Dedup, Similarity, TextAnalysis}

/** `corpus_curation`: one op is one curation job over a seeded corpus
  * laid out like an sf dir (`documents.parquet`, `embeddings.parquet`):
  * normalize → quality → exact dedup → n-gram Jaccard pairs → MinHash
  * covers → near-dup clusters → curated keep-list → decontamination →
  * IVF top-k over the embeddings. Each job checks its exact-dedup groups
  * against an md5 recompute and that every planted near-duplicate pair
  * is among the Jaccard pairs.
  */
final class CorpusCuration(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  val dir: String = Paths.get("corpus").toAbsolutePath.toString
  val Docs = 500
  val AnnQueries = 20
  val AnnK = 10

  private var corpus: Corpus = _
  private var exactRef: Map[String, (Long, Long)] = Map.empty
  private var annRef: Map[Long, Set[Long]] = Map.empty
  private var recallSum = 0.0; private var recallN = 0
  private var ivfRecallSum = 0.0; private var ivfRecallN = 0

  def generate(): Unit = {
    corpus = Corpus.generate(Docs, seed)
    Corpus.write(spark, dir, corpus)
    exactRef = Corpus.exactGroups(corpus)
    annRef = Corpus.exactTopK(corpus, AnnQueries, AnnK + 1).map { case (q, s) => q -> (s - q) }
  }

  /** Builds the IVF index under the relative `target/ivf_index` root and
    * warms up with one full job.
    */
  def setup(): Unit = { op(-1); recallSum = 0; recallN = 0; ivfRecallSum = 0; ivfRecallN = 0 }

  private def force(df: org.apache.spark.sql.DataFrame): Long = df.queryExecution.toRdd.count()

  def op(i: Int): OpResult = {
    tr("llm.normalize") { force(TextAnalysis.normalize(spark, dir)) }
    tr("llm.quality") { force(TextAnalysis.qualityScore(spark, dir)) }
    val exact = tr("llm.exact_dedup") { Dedup.exact(spark, dir).collect() }
    val pairs = tr("llm.ngram_jaccard") {
      Dedup.ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b")).collect()
    }
    tr("llm.minhash_covers") { force(Dedup.minhashCoversJaccard(spark, dir)) }
    val clusters = tr("llm.clusters") {
      val c = Dedup.nearDupClusters(spark, dir).cache(); c.count(); c
    }
    tr("llm.curate") { force(TextAnalysis.curateCorpusWithClusters(spark, dir, clusters)) }
    tr("llm.decontaminate") { force(TextAnalysis.decontaminate(spark, dir)) }
    val ann = tr("llm.ann_topk") {
      Similarity.ivfTopKIndexed(spark, dir, AnnQueries, AnnK).select(col("q_id"), col("c_id")).collect()
    }
    clusters.unpersist()
    spark.catalog.clearCache()

    val exactOk = CorpusCuration.exactMatches(
      exact.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap, exactRef)
    val recall = CorpusCuration.pairRecall(
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSet, corpus.nearDupPairs)
    recallSum += recall; recallN += 1
    val got = ann.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    annRef.foreach { case (q, ref) =>
      ivfRecallSum += (got.getOrElse(q, Set.empty[Long]) intersect ref).size.toDouble / ref.size
      ivfRecallN += 1
    }
    OpResult("curation_job", exactOk && recall == 1.0)
  }

  override def gauges(): Seq[(String, String)] = Seq(
    "docs" -> Docs.toString,
    "planted_near_dup_pairs" -> corpus.nearDupPairs.size.toString,
    "exact_dup_groups" -> exactRef.count(_._2._2 > 1).toString,
    "llm.planted_dup_recall" -> (if (recallN == 0) "null" else (recallSum / recallN).toString),
    "llm.ivf_recall" -> (if (ivfRecallN == 0) "null" else (ivfRecallSum / ivfRecallN).toString))
}

object CorpusCuration {
  /** Exact-dedup output equals the md5 recompute: same groups, keep ids and counts. */
  def exactMatches(got: Map[String, (Long, Long)], ref: Map[String, (Long, Long)]): Boolean =
    got == ref

  /** Share of planted near-duplicate pairs among the found pairs. */
  def pairRecall(found: Set[(Long, Long)], planted: Set[(Long, Long)]): Double =
    if (planted.isEmpty) 1.0
    else planted.count { case (a, b) => found((math.min(a, b), math.max(a, b))) }.toDouble / planted.size
}
