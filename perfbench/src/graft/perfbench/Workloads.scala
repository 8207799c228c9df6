package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup

/** The benchmark's workloads. Query lists come from each module's
  * public `queries` map; nothing here re-implements an operator.
  */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** Every query of every module's `queries` map. */
  lazy val allQueries: Map[String, Query] = graft.SparkEntry.queries

  /** The fixpoint loop the traced ingest run measures on its corpus
    * (`Dedup.clusterPairs` over the MinHash text pairs). */
  val LoopQuery = "q_dedup_clusters_text"

  /** Persisted store families the workloads touch: name ->
    * build-or-register entry point. Calling it on a built store is the
    * store's hit path.
    */
  val Stores: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "sig" -> ((s, d) => Dedup.SigStore.ensure(s, d)))

  /** Store builds the engine has performed in this JVM. */
  def engineBuilds: Long = Dedup.SigStore.buildCount.get.toLong

  sealed trait Workload {
    def name: String
    def sf: Double
    def tables: Seq[String]
    def stores: Seq[String]
  }

  final case class Batch(name: String, sf: Double, queries: Seq[String],
      tables: Seq[String]) extends Workload {
    def stores: Seq[String] = Nil
  }

  /** A fixed stream of `batches` batches of `batchDocs` documents,
    * replayed, each time from the store as set-up built it; `setups`
    * set-ups from an empty warehouse give `setup_s`. */
  final case class Ingest(name: String, sf: Double, batchDocs: Int, batches: Int,
      compactEvery: Int, setups: Int) extends Workload {
    def tables: Seq[String] = Seq("documents")
    def stores: Seq[String] = Seq("sig")
  }

  /** Scan-heavy queries over the sf0.3 fact tables, and the tables they read. */
  val AnalyticsQueries = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q_rollup", "q_session_stats")
  val AnalyticsTables = Seq("customer", "orders", "lineitem", "events")

  def byName(name: String): Workload = name match {
    case "analytics_sf0.3" => Batch(name, 0.3, AnalyticsQueries, AnalyticsTables)
    case "ingest" => Ingest(name, 0.1, 250, 4, 4, 2)
    case other => sys.error(s"unknown workload: $other")
  }
}
