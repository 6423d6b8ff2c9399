package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** The analytics half of `hive_etl`: a fixed list of `SparkEntry.queries`
  * over the generated warehouse tables, each forced to its sink, in a seeded
  * order per pass. This is the `entry` layer: sub-second queries bound by
  * planning and per-job overhead, with almost no writes.
  *
  * One query from each of the eight entry part files. Queries of the llm,
  * catalog and streaming families are left out: the ETL ops and `llm_corpus`
  * own those layers.
  */
object AnalyticsGallery {
  /** Committed list: one query from each entry part file. */
  val Queries: Seq[String] = Seq(
    "q13_sort_limit",          // Core
    "q130_grouping_sets",      // Pipeline
    "q171_window_gallery",     // Analytics1
    "q254_revenue_waterfall",  // Analytics2
    "q310_control_chart",      // Stats1
    "q437_kupiec_pof",         // Stats2
    "q457_icc",                // Stats3
    "q565_power_means")        // Stats4

  /** Every query once, as a sampled op, in the seeded order of pass `p`.
    * The untimed warm-up pass (0) writes each result as parquet under
    * `results`, next to its DuckDB oracle SQL, for the front end to replay;
    * the timed passes drain each result through its executed plan.
    */
  def pass(ctx: Ctx, p: Int, results: String): Unit = {
    new scala.util.Random(ctx.seed * 1000003L + p).shuffle(Queries).foreach { q =>
      ctx.tracer.op(q) {
        if (p == 0)
          ctx.tracer.call("entry", q) {
            SparkEntry.queries(q)(ctx.spark, ctx.data).coalesce(1)
              .write.mode("overwrite").parquet(s"$results/$q")
          }
        else ctx.tracer.query("entry", q)(SparkEntry.queries(q)(ctx.spark, ctx.data))
      }
      GraftSession.dropQueryState(ctx.spark)
    }
    if (p == 0) {
      val oracles = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
      Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json.value(oracles))
    }
  }
}
