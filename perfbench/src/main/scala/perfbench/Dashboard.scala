package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{DataGen, Pipeline, PipelineResult}

/** `dashboard_x0.05`: the reference's @daily full refresh. After a
  * warm-up day, one day is measured: every row of all 11 `public_*`
  * views fetched, as BI clients do (the reads), in `Rounds` rounds,
  * half of them before and half after a `Pipeline.run` over the same
  * output directory (the load). Volumes are 0.05x the reference's
  * generator defaults, so the ELT is bound by per-job overhead while
  * `executive_summary` still scans its C x P x D cartesian (~1.2M rows).
  */
object Dashboard {
  val Name = "dashboard_x0.05"
  val AsOf: LocalDate = LocalDate.of(2025, 7, 15)

  /** customers, products, orders; order_items, clickstream, campaigns
    * and inventory follow from these as in `DataGen.writeAll`.
    */
  val Volumes = (125L, 33L, 600L)
  /** View fetch rounds of the measured day; a view's time is its median
    * fetch. Fixed, so that every run does the same work: with rounds
    * bounded by time, a faster host fetched more rounds, and the later,
    * warmer rounds pulled the medians down further. Half are fetched
    * before the load, over the warm-up day's output, and half after it,
    * so the rounds span the load and a slow spell of the host ten or
    * twenty seconds long moves fewer than half of them.
    */
  val Rounds = 8
  /** View fetch rounds of the warm-up day, so that the measured rounds
    * do not start with each view's first, cold fetch.
    */
  val WarmupRounds = 1

  val Stages: Seq[(String, Seq[String])] = Seq(
    "staging" -> Seq("customers", "products", "orders", "order_items",
      "clickstream", "marketing_campaigns", "inventory"),
    "warehouse" -> Seq("dim_customers", "dim_products", "dim_time",
      "dim_marketing_campaigns", "fact_orders", "fact_order_items",
      "fact_clickstream", "fact_inventory"),
    "analytics" -> Seq("customer_metrics", "product_metrics", "daily_sales",
      "monthly_trends", "customer_acquisition", "campaign_attribution"))

  val Views: Seq[String] = Seq("customer_metrics", "product_metrics",
    "daily_sales", "monthly_trends", "customer_acquisition",
    "campaign_attribution", "executive_summary", "top_products",
    "customer_segmentation", "seasonal_performance", "acquisition_summary")

  /** The seven CSVs of `DataGen.writeAll`, one file per table, with rows
    * in an order drawn from `seed`. Values do not depend on the seed, so
    * neither may any pipeline output.
    */
  def writeInputs(spark: SparkSession, dir: String, seed: Long,
      v: (Long, Long, Long)): Map[String, Long] = {
    val (nC, nP, nO) = v
    val tables = Seq(
      ("customers", DataGen.customers(spark, nC), nC),
      ("products", DataGen.products(spark, nP), nP),
      ("orders", DataGen.orders(spark, nO, nC), nO),
      ("order_items", DataGen.orderItems(spark, nO * 2, nO, nP), nO * 2),
      ("clickstream", DataGen.clickstream(spark, nO * 5, nC, nP), nO * 5),
      ("marketing_campaigns", DataGen.marketingCampaigns(spark, 10), 10L),
      ("inventory", DataGen.inventory(spark, nP), nP * 3))
    // independent single-file writes: submit them together
    tables.par.map { case (name, df, rows) =>
      df.repartition(1)
        .sortWithinPartitions(xxhash64(lit(seed) +: df.columns.toSeq.map(col): _*))
        .write.mode("overwrite").option("header", "true").csv(s"$dir/$name.csv")
      name -> rows
    }.seq.toMap
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  /** One fetch of one view: its wall and the digest of the rows it
    * returned. Only the digest is kept, so the live heap sampled after
    * the pass does not hold the harness's copies of the views.
    */
  final case class Fetch(view: String, seconds: Double, digest: String)
  final case class Cycle(result: PipelineResult, eltS: Double, fetches: Seq[Fetch]) {
    /** Median fetch wall of each view. */
    def viewS: Map[String, Double] =
      fetches.groupBy(_.view).map { case (v, fs) => v -> Stats.median(fs.map(_.seconds)) }
  }

  /** One daily refresh: `before` rounds of view fetches over the views
    * already registered, the load, then `after` rounds over the views
    * it registers. Returns None if the load failed (the views then have
    * nothing new to read).
    */
  def cycle(run: Run, csv: String, out: String, before: Int, after: Int): Option[Cycle] = {
    val spark = run.spark
    val early = fetch(run, before)
    run.op("pipeline_run", "elt")(Pipeline.run(spark, csv, out, AsOf)).map { r =>
      val eltS = run.spans.last.seconds
      r.registerViews(spark)
      val fetches = early ++ fetch(run, after)
      run.unpersistAll()
      Cycle(r, eltS, fetches)
    }
  }

  private def fetch(run: Run, rounds: Int): Seq[Fetch] =
    for (_ <- 1 to rounds; v <- Views; rows <- run.op(s"view:$v", "views")(
        run.spark.table(s"public_$v").collect().toSeq))
      yield Fetch(v, run.spans.last.seconds, Digest.rows(rows))

  /** Digests of every persisted table, view fetch and DQ result. */
  def digests(spark: SparkSession, c: Cycle, out: String): Seq[(String, String)] = {
    // independent jobs outside the timed region: submit them together
    val tables = Stages.flatMap { case (stage, ts) => ts.map(t => (stage, t)) }.par
      .map { case (stage, t) =>
        s"$stage.$t" -> Digest.table(spark.read.parquet(s"$out/$stage/$t"))
      }.seq
    val views = c.fetches.map(f => s"view.${f.view}" -> f.digest)
    val dq = "dq" -> c.result.checks.map(c => s"${c.name}=${c.value}:${c.passed}")
      .sorted.mkString(";")
    tables ++ views :+ dq
  }
}
