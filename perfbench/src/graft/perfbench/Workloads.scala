package graft.perfbench

import graft.SparkEntry
import graft.operators._

/** The benchmark's workloads. Every registry entry belongs to exactly one
  * pool (by operator module) and every `x_*` artifact to exactly one
  * workload. A run executes a fixed subset of its pool: the anchor entries
  * plus, from each module, the `max(1, round(size / stride))` entries with
  * the lowest CRC32 of their name. The hash ignores speed and failure, so
  * no entry is chosen or dropped for either, and each module keeps its
  * share of the sample as entries are added. */
final case class Workload(
    name: String,
    modules: Seq[(String, Seq[GraftQuery])],
    artifactNames: Seq[String],
    anchors: Seq[String],
    stride: Int,
    jobClients: Int,
    catalogOpsPerSec: Double) {

  def pool: Seq[GraftQuery] = modules.flatMap(_._2)

  /** The fixed job list, in registry order (each pass reorders it from
    * the seed). */
  def jobs: Seq[GraftQuery] = {
    val sampled = modules.flatMap { case (_, qs) =>
      val others = qs.filterNot(q => anchors.contains(q.name))
      others.sortBy(q => Workloads.crc(q.name))
        .take(math.max(1, math.round(qs.size.toDouble / stride).toInt))
    }.map(_.name).toSet
    val missing = anchors.filterNot(a => pool.exists(_.name == a))
    require(missing.isEmpty, s"$name: anchor entries not in the pool: ${missing.mkString(", ")}")
    pool.filter(q => anchors.contains(q.name) || sampled(q.name))
  }

  def artifacts: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] = {
    val byName = SparkEntry.artifacts.toMap
    artifactNames.map(n => n -> byName.getOrElse(n,
      throw new IllegalStateException(s"$name: artifact $n is not in SparkEntry.artifacts")))
  }
}

object Workloads {

  def crc(name: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(name.getBytes("UTF-8"))
    c.getValue
  }

  private val annArtifacts = Seq("x_ann_unit_spool", "x_ann_kmeans_train", "x_ann_pq_train",
    "x_ann_ivfpq_train", "x_ann_pca_train")
  private val dedupArtifacts = Seq("x_minhash_sig_spool", "x_d2_truth_spool",
    "x_d6_labels_spool", "x_d37_lrs_spool")

  /** One closed-loop client over the vector / dedup / text / multimodal
    * operators: time goes to driver-side planning and codegen of large
    * vector expression trees and to driver loops (Lloyd, PageRank, label
    * propagation); shuffle-heavy SQL and the catalog barely run. */
  val llmPipeline = Workload("llm_pipeline",
    Seq("Similarity" -> Similarity.all, "Dedup" -> Dedup.all,
      "TextAnalysis" -> TextAnalysis.all, "Multimodal" -> Multimodal.all),
    annArtifacts ++ dedupArtifacts,
    Seq("s8_pq_adc_topk", "s9_ivfpq_topk", "s19_pagerank_centrality",
      "s22_graph_beam_search", "s27_label_propagation"),
    stride = 100, jobClients = 1, catalogOpsPerSec = 0)

  /** Three closed-loop job clients sharing one SparkSession, plus one
    * open-loop catalog client through `Commands.main`: scan, shuffle and
    * join execution, streaming replays, concurrent runs sharing session
    * state, and catalog writes beside reads — how GLUEttalax is used. */
  val glueJobs = Workload("glue_jobs",
    Seq("Relational" -> Relational.all, "TpcH" -> TpcH.all,
      "Warehouse" -> Warehouse.all, "EventWindows" -> EventWindows.all,
      "Sampling" -> Sampling.all, "Scalar" -> Scalar.all, "Sources" -> Sources.all,
      "StreamingOps" -> StreamingOps.all),
    StreamingOps.spoolArtifacts.map(_._1) :+ "x_compaction_spool",
    Seq("q181_order_total_reconciliation", "q245_sql_scripting", "q31_discover_partitions",
      "st38_stream_v2_table", "st40_stream_rate_limit"),
    stride = 60, jobClients = 3, catalogOpsPerSec = 5)

  val all: Seq[Workload] = Seq(llmPipeline, glueJobs)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${all.map(_.name).mkString(", ")})"))

  /** Every entry and artifact is owned by exactly one workload. */
  def checkCoverage(): Unit = {
    val owned = all.flatMap(_.pool.map(_.name))
    val registry = SparkEntry.registry.map(_.name)
    require(owned.sorted == registry.sorted,
      s"pools do not partition the registry: missing ${registry.diff(owned).take(5)}, " +
        s"duplicated ${owned.diff(owned.distinct).take(5)}")
    val arts = all.flatMap(_.artifactNames)
    val known = SparkEntry.artifacts.map(_._1)
    require(arts.sorted == known.sorted,
      s"workloads do not partition the artifacts: missing ${known.diff(arts)}, extra ${arts.diff(known)}")
  }
}
