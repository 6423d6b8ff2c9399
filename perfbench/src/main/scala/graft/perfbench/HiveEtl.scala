package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.CatalogTable
import graft.io.{Compaction, OrcTable, RcFileHiveTable, RegexExcludingFileIndex}
import graft.streaming.EventStreams

/** `hive_etl`: the reference's Hive-format surface, writes beside reads,
  * then analytics over the same warehouse.
  *
  * Each pass writes into its own directory: ORC snappy write of lineitem,
  * catalog DDL and a dynamic-partition insertByName of orders, an RCFile
  * append of customer, seeded partition-filter and selectedCols reads,
  * compaction of the ORC output, writeAndRelocate of orders, a regex-excluding
  * read of a landing directory, and an available-now streaming dedup ingest
  * of the event files; then the [[AnalyticsGallery]] queries over the
  * generated tables. Writes go to the local Hadoop file system with no fsync,
  * the same on every commit.
  */
final class HiveEtl extends Workload with AdaptiveSparkPlanHelper {
  // The reads (partition-filter, selectedCols, regex-excluding, gallery
  // queries) are the sampled ops; the writes, DDL, compaction and ingest
  // count toward the pass only.
  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "events")
  val passSeconds = 5.0
  private val Db = "perfbench"
  private val part = CatalogTable(Db, "orders_part")
  private val relocated = CatalogTable(Db, "orders_rel")
  private val rc = RcFileHiveTable(s"$Db.customer_rc")
  private val ReadsPerPass = 4
  /** (partition-filter string, the same predicate in SQL for the checks). */
  private var filters = Seq.empty[(String, String)]
  private var projections = Seq.empty[Seq[String]]
  private var lastDir = ""
  private var streamStats = Map.empty[String, Double]

  /** Orders with a Hive-compatible timestamp (the parquet column is
    * TIMESTAMP_NTZ, which the metastore cannot store in Hive format) and
    * the partition column.
    */
  private def orders(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(ctx.table("orders"))
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withColumn("o_year", year(col("o_orderdate")))

  override def prepare(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    filters = (0 until ReadsPerPass).map { i =>
      val y = 1995 + rnd.nextInt(6)
      if (i % 2 == 0) (s"o_year=$y", s"o_year = $y")
      else (s"o_year>=$y and o_year<=${y + 1}", s"o_year >= $y AND o_year <= ${y + 1}")
    }
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_shipdate")
    projections = (0 until ReadsPerPass).map(_ => rnd.shuffle(cols).take(2 + rnd.nextInt(3)))
    val s = ctx.spark
    s.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
    s.sql(s"DROP TABLE IF EXISTS ${relocated.qualified}")
    s.sql(s"CREATE TABLE ${relocated.qualified} (${orders(ctx).schema.toDDL}) USING parquet")
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val s = ctx.spark
    val t = ctx.tracer
    val dir = s"${ctx.work}/etl/p$p"
    lastDir = dir
    streamStats = Map.empty
    val orc = s"$dir/lineitem_orc"
    t.op("orc_write", sampled = false) {
      t.call("io", "OrcTable.writeCompressed") {
        OrcTable(orc).writeCompressed(s.read.parquet(ctx.table("lineitem")))
      }
    }
    t.op("catalog_ddl", sampled = false) {
      t.call("catalog", "ddl") {
        s.sql(s"DROP TABLE IF EXISTS ${part.qualified}")
        s.sql(s"DROP TABLE IF EXISTS ${rc.table}")
        s.sql(s"CREATE TABLE ${part.qualified} (${orders(ctx).schema.toDDL}) " +
          "USING orc PARTITIONED BY (o_year)")
      }
    }
    t.op("dynpart_insert", sampled = false) {
      t.call("catalog", "CatalogTable.insertByName")(part.insertByName(orders(ctx)))
    }
    t.op("rcfile_append", sampled = false) {
      t.call("io", "RcFileHiveTable.append") {
        val customer = s.read.parquet(ctx.table("customer"))
        rc.create(s, customer.schema)
        rc.append(customer)
      }
    }
    filters.foreach { case (f, _) =>
      t.op("partition_read")(t.query("catalog", "CatalogTable.read")(part.read(s, Some(f))))
    }
    projections.foreach { cols =>
      t.op("projected_read")(t.query("io", "OrcTable.read")(OrcTable(orc, selectedCols = cols).read(s)))
    }
    t.op("compact", sampled = false) {
      t.call("io", "Compaction.compact")(Compaction.compact(s, orc, "orc", 1L << 30))
    }
    t.op("write_relocate", sampled = false) {
      t.call("catalog", "CatalogTable.writeAndRelocate") {
        relocated.writeAndRelocate(orders(ctx), s"$dir/orders_rel")
      }
    }
    t.op("regex_read") {
      t.query("io", "RegexExcludingFileIndex.read") {
        RegexExcludingFileIndex.read(s, s"${ctx.data}/orders_landing", "parquet", RejectedRegex)
      }
    }
    t.op("stream_dedup", sampled = false) {
      t.call("streaming", "EventStreams.dedupStream") {
        stream(s, EventStreams.dedupStream(source(ctx), Seq("event_id")), s"$dir/events_dedup", "append")
      }
    }
    AnalyticsGallery.pass(ctx, p, s"${ctx.work}/results")
  }

  private val RejectedRegex = ".*/rejected/.*"

  private def source(ctx: Ctx): DataFrame =
    EventStreams.readStream(ctx.spark, s"${ctx.data}/events_stream", maxFilesPerTrigger = 2)

  private def stream(s: SparkSession, df: DataFrame, out: String, mode: String): Unit = {
    val q = df.writeStream.format("parquet").outputMode(mode)
      .option("checkpointLocation", s"$out._checkpoint")
      .trigger(Trigger.AvailableNow()).start(out)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    record(q)
  }

  private def record(q: StreamingQuery): Unit = {
    val ps = q.recentProgress
    val ops = ps.flatMap(_.stateOperators)
    streamStats = Map(
      "streaming.batches" -> (streamStats.getOrElse("streaming.batches", 0.0) + ps.length),
      "streaming.state_mb" -> (streamStats.getOrElse("streaming.state_mb", 0.0) +
        ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L) / (1024.0 * 1024.0)),
      "streaming.late_dropped" -> (streamStats.getOrElse("streaming.late_dropped", 0.0) +
        ops.map(_.numRowsDroppedByWatermark).sum))
  }

  /** (row count, sum of row hashes) of `df`'s columns in the given order. */
  private def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def same(name: String, got: => DataFrame, want: => DataFrame): Check =
    Check.run(name) {
      val cols = want.columns.toSeq
      val (g, w) = (digest(got, cols), digest(want, cols))
      (g == w, s"rows/hash got=$g want=$w")
    }

  /** The gallery results, written by the warm-up pass, are checked by the
    * front end against DuckDB.
    */
  def checks(ctx: Ctx): Seq[Check] = {
    val s = ctx.spark
    val src = orders(ctx)
    val orc = s"$lastDir/lineitem_orc"
    Seq(
      same("orc_readback", OrcTable(orc).read(s), s.read.parquet(ctx.table("lineitem"))),
      Check.run("orc_compacted_files") {
        val n = Compaction.dataFileCount(s, orc)
        (n == 1, s"files=$n")
      },
      same("catalog_readback", part.read(s), src),
      same("rcfile_readback", rc.read(s), s.read.parquet(ctx.table("customer"))),
      same("relocated_readback", relocated.read(s), src),
      same("regex_excluded_read",
        RegexExcludingFileIndex.read(s, s"${ctx.data}/orders_landing", "parquet", RejectedRegex),
        s.read.parquet(s"${ctx.data}/orders_landing/accepted")),
      same("stream_dedup", s.read.parquet(s"$lastDir/events_dedup"),
        s.read.parquet(s"${ctx.data}/events_stream").dropDuplicates("event_id", "ts")),
    ) ++ filters.map { case (f, sql) =>
      same(s"pruned_read[$f]", part.read(s, Some(f)), src.filter(expr(sql)))
    }
  }

  private def location(s: SparkSession, table: String): String =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table, Some(Db))).location.toString

  /** Measured on the last pass's outputs, outside the timed passes. */
  override def extras(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val t = ctx.tracer
    val orc = s"$lastDir/lineitem_orc"
    t.ledger.take()
    t.query("io", "full_scan")(OrcTable(orc).read(s))
    val full = t.ledger.take()._1.inputBytes
    projections.foreach(cols => t.query("io", "projected_scan")(OrcTable(orc, selectedCols = cols).read(s)))
    val projected = t.ledger.take()._1.inputBytes / projections.size.toDouble
    val total = s.sessionState.catalog.listPartitions(TableIdentifier(part.table, Some(Db))).size
    val read = filters.map { case (f, _) =>
      val qe = t.query("catalog", "pruned_scan")(part.read(s, Some(f)))
      collect(qe.executedPlan) { case scan: FileSourceScanLike => scan.metrics("numPartitions").value }.sum
    }
    val ioOut = Seq(orc, location(s, "customer_rc"))
    val allOut = ioOut ++ Seq(location(s, part.table), s"$lastDir/orders_rel", s"$lastDir/events_dedup")
    val sourceBytes = tables.map(n => new java.io.File(ctx.table(n)).length()).sum
    streamStats ++ Map(
      "io.projection_ratio" -> projected / math.max(full, 1L),
      "catalog.prune_ratio" -> read.sum.toDouble / (read.size * math.max(total, 1)),
      "io.write_amp" -> allOut.map(Compaction.dataBytes(s, _)).sum.toDouble / sourceBytes,
      "io.files_written" -> ioOut.map(Compaction.dataFileCount(s, _)).sum.toDouble)
  }
}
