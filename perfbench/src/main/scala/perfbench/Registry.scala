package perfbench

import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}

import graft.SparkEntry
import graft.operators

/** `registry_sf0.01`: registry queries, each materialized through the
  * `noop` sink as graft.Bench times them, on the oracle-checked sf0.01
  * testdata. A pass is the sketch-store ingest the store faces read,
  * then the queries in an order drawn from the seed, with the ingest
  * built again after each equal share of them (`Builds`).
  */
object Registry {
  val Name = "registry_sf0.01"
  val Ingest = "qstore__ingest"
  /** graft.Bench's warm-up: hash agg, filter+sort+string kernels, a
    * multi-join; their results are discarded.
    */
  val Warmup = Seq("q01_pricing_summary", "q02_project_filter", "q04_multi_join")

  /** Store builds in a pass: the session's own, which the store faces
    * read, then one after each equal share of the queries, each in a
    * fresh session of the same context (the store is memoized per
    * session, so a fresh one builds it again). `load_s` is their median.
    */
  val Builds = 4

  val Modules: Seq[String] = Seq("core", "analytics", "relational_extras", "text",
    "dedup", "vector", "datasplit", "training", "sketchstore_ingest")

  /** The queries a pass runs: every eighth of graft.Bench's entries in
    * name order within each module, with the warm-up query q01 replaced
    * by the next entry of its module that is not a warm-up query, and
    * the three store faces. By graft.Bench's own per-query times at
    * sf0.01 on 4 cores the sample has p50 0.73 s, p90 1.67 s and mean
    * 0.88 s; the whole registry has 0.70, 1.60 and 0.87 s, and takes
    * ~130 s per pass. Fixed here so that the set does not drift with the
    * registry.
    */
  val Queries: Seq[String] = Seq(
    "q03_join_broadcast", "q09_cross_join_summary", "q17_date_scalars",
    "q23_daily_sales",
    "q101_perplexity_buckets", "q126_filter_stack", "q29_lang_stats",
    "q75_tfidf_salted",
    "q120_split_leakage", "q71_incremental_dedup",
    "q100_pq_ann", "q122_kcenter_diverse", "q94_multiprobe_ann",
    "q118_quality_sample",
    "q113_span_corruption", "q139_hist_quantiles", "q52_pivot_priority",
    "q74_sequence_pack",
    "q117_link_centrality", "q62_histogram", "q80_range_frame",
    "q145_sketchstore_rollup", "q149_sketchstore_daily", "q150_sketchstore_setops")

  /** Module (layer) of every registry query. */
  lazy val module: Map[String, String] = {
    val mods = Seq(
      "core" -> operators.CoreQueries.all,
      "analytics" -> operators.AnalyticsQueries.all,
      "text" -> operators.TextQueries.all,
      "dedup" -> operators.DedupQueries.all,
      "vector" -> operators.VectorQueries.all,
      "datasplit" -> operators.DataSplit.all,
      "training" -> operators.TrainingQueries.all,
      "relational_extras" -> operators.RelationalExtras.all)
    mods.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  /** Runs one query as one timed operation and returns its digest,
    * observed on the same execution that the noop sink materializes, so
    * its result is never computed twice.
    */
  def runEntry(run: Run, dir: String, name: String): Option[String] = {
    val obs = Observation(s"digest_${run.attempted}")
    run.op(name, module.getOrElse(name, "unknown")) {
      Digest.observed(SparkEntry.queries(name)(run.spark, dir), obs)
        .write.format("noop").mode("overwrite").save()
    }.map(_ => orUnavailable(
      Digest.render(Await.result(obs.future, Duration(60, TimeUnit.SECONDS)))))
  }

  /** The ingest in `spark`, timed as one operation; its digest is that
    * of the store it wrote.
    */
  def ingest(run: Run, dir: String, spark: SparkSession): Option[String] =
    run.op(Ingest, "sketchstore_ingest")(operators.SketchStore.storeFor(spark, dir))
      .map(store => orUnavailable(Digest.table(spark.read.parquet(store))))

  private def orUnavailable(digest: => String): String =
    try digest catch { case NonFatal(e) => s"unavailable: ${e.getClass.getSimpleName}" }
}
