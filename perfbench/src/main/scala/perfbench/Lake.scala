package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}

import graft.catalog.{CatalogAutomation, CatalogProfile, PipelineSpec, TableSpec}
import graft.queries.PipelineRunner
import graft.sources.{SnapshotUpsert, StoreTables}

/** The lake_writes workload: a seeded operation stream (written by the
  * generator as `lake/ops.json` plus one parquet file per input batch)
  * against `graft_snap` tables provisioned from YAML table specs.
  *
  * Writes, reads, materialized-view refreshes, change-feed curation
  * triggers and table maintenance run in stream order, one at a time.
  * Every read result, the version each write produced, and the final table
  * contents are written out so the stream can be replayed in DuckDB and
  * compared after the run. */
final class Lake(ctx: Ctx) extends Workload {
  private val Cat = "graft_snap"
  private val Orders = s"$Cat.lake.orders"
  private val Docs = s"$Cat.lake.docs"
  private val Store = s"$Cat.lake.store"
  private val Mv = s"$Cat.lake.orders_by_grp"
  private val Sink = s"$Cat.lake.docs_curated"
  private val stream: JsonNode =
    Main.json.readTree(new File(s"${ctx.data}/lake/ops.json"))
  private val ops: IndexedSeq[JsonNode] = stream.get("ops").elements().asScala.toIndexedSeq
  private val warmupLen = stream.get("warmup_len").asInt
  private val cycleLen = stream.get("cycle_len").asInt
  private var next = 0
  private var triggerDue = false
  /** (stream index after which it was produced, version) for each Orders commit. */
  private val versions = mutable.ArrayBuffer[(Int, Long)]()
  private val reads = mutable.ArrayBuffer[Map[String, Any]]()
  private val written = mutable.Map[String, Long]()
  private var bytesWritten = 0L
  private lazy val pipeline = PipelineSpec.fromYaml(
    s"""pipeline: lake_docs_curation
       |source:
       |  table: $Docs
       |  changes: true
       |steps:
       |  - op: token_count
       |sink:
       |  table: $Sink
       |""".stripMargin)

  private def spark = ctx.spark
  private def sql(s: String): DataFrame = spark.sql(s)
  private def batch(op: JsonNode): String = s"${ctx.data}/${op.get("batch").asText}"

  def setup(): Unit = {
    spark
    val t0 = ctx.nowMs
    val specs = new File(ctx.args("specs")).listFiles().filter(_.getName.endsWith(".yml"))
      .sortBy(_.getName).map(f => TableSpec.fromYamlFile(f.getPath)).toSeq
    new CatalogAutomation(spark, CatalogProfile.Iceberg(catalog = Cat,
      warehouse = s"${ctx.work}/snap", sparkCatalogImpl = "graft.sources.SnapshotCatalog"))
      .provision(specs)
    ctx.setupCounts("catalog.provision_s") = (ctx.nowMs - t0) / 1e3
    sql(s"""ALTER TABLE $Orders SET TBLPROPERTIES (
      'write.delete.mode' = 'merge-on-read', 'write.update.mode' = 'merge-on-read',
      'stats.bloom-columns' = 'k')""")
    spark.read.parquet(s"${ctx.data}/lake/base.parquet").writeTo(Orders).append()
    versions += ((-1, currentVersion()))
    sql(s"""CREATE MATERIALIZED VIEW $Mv AS
      SELECT grp, count(*) AS n, sum(amount) AS total, count(amount) AS n_amount
      FROM $Orders GROUP BY grp""")
    spark.read.parquet(s"${ctx.data}/lake/docs_0.parquet").writeTo(Docs).append()
    // The stream's warm-up prefix runs its costliest operations once cold;
    // its docs append starts the change-feed stream and builds the sink.
    while (next < warmupLen || triggerDue) runOne(0)
    scanWritten()
    bytesWritten = 0L
  }

  private def currentVersion(): Long = ctx.tracer.span("sources", "meta_read")(
    sql(s"SELECT max(version) FROM $Orders.snapshots").head().getLong(0))

  private def runTrigger(): Unit =
    new PipelineRunner(spark).runChanges(pipeline, s"${ctx.work}/ckpt/docs").awaitTermination()

  private def fmtRows(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).toSeq.sorted

  private def record(idx: Int, kind: String, state: Int, rows: Seq[String]): Unit =
    reads += Map("idx" -> idx, "kind" -> kind, "state" -> state, "rows" -> rows)

  private val aggSql = "SELECT grp, count(*) AS n, sum(amount) AS total FROM"

  def atRoundEnd: Boolean = (next - warmupLen) % cycleLen == 0 && !triggerDue
  def minRounds: Int = 1
  /** The generator writes a whole, even number of cycles. */
  override def maxRounds: Int = (ops.size - warmupLen) / cycleLen

  def runOne(req: Int): OpRecord = {
    if (triggerDue) {
      val t0 = ctx.nowMs
      return attempt(req, "trigger", "runChanges", t0, 0L) {
        ctx.tracer.span("stream", "trigger")(runTrigger())
        triggerDue = false
      }
    }
    val i = next
    require(i < ops.size, s"the operation stream has only ${ops.size} operations")
    next += 1
    val op = ops(i)
    val kind = op.get("kind").asText
    val userBytes = if (op.has("batch")) new File(batch(op)).length else 0L
    val t0 = ctx.nowMs
    val rec = attempt(req, kind, s"op $i", t0, userBytes) {
      def commit(f: => Unit): Unit = ctx.tracer.span("sources", s"commit.$kind")(f)
      def read(df: DataFrame): Array[Row] = {
        val rows = ctx.tracer.span("sources", s"read.$kind")(df.collect())
        if (ctx.tracer.enabled && (kind == "point" || kind == "range")) skipCounts(df)
        rows
      }
      kind match {
        case "append" => commit(spark.read.parquet(batch(op)).writeTo(Orders).append())
        case "merge" =>
          spark.read.parquet(batch(op)).createOrReplaceTempView("lake_batch")
          commit(sql(s"""MERGE INTO $Orders t USING lake_batch s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
        case "update" => commit(sql(
          s"UPDATE $Orders SET amount = amount + 1.00 WHERE k % ${op.get("mod").asInt} = ${op.get("rem").asInt}"))
        case "delete" => commit(sql(
          s"DELETE FROM $Orders WHERE k % ${op.get("mod").asInt} = ${op.get("rem").asInt}"))
        case "upsert" => commit(SnapshotUpsert.upsertBatch(Orders, spark.read.parquet(batch(op)), Seq("k")))
        case "store_append" => commit(StoreTables.append(spark.read.parquet(batch(op)), Store))
        case "docs_append" =>
          commit(spark.read.parquet(batch(op)).writeTo(Docs).append())
          triggerDue = true
        case "refresh_mv" => ctx.tracer.span("sources", "refresh_mv")(
          sql(s"CALL $Cat.system.refresh_mv(table => 'lake.orders_by_grp')").collect())
        case "compact" =>
          val before = tableBytes()
          ctx.tracer.span("sources", "compact")(
            sql(s"CALL $Cat.system.rewrite_data_files('lake.orders')").collect())
          ctx.tracer.add("sources.compact_bytes_rewritten", math.max(0L, tableBytes() - before).toDouble)
        case "expire" => ctx.tracer.span("sources", "expire")(sql(
          s"CALL $Cat.system.expire_snapshots(table => 'lake.orders', keep_last => ${op.get("keep_last").asInt})")
          .collect())
        case "point" => record(i, kind, lastState, fmtRows(read(sql(
          s"SELECT k, grp, amount FROM $Orders WHERE k = ${op.get("key").asLong}"))))
        case "range" => record(i, kind, lastState, fmtRows(read(sql(
          s"""SELECT count(*), sum(amount) FROM $Orders
            WHERE k BETWEEN ${op.get("lo").asLong} AND ${op.get("hi").asLong}"""))))
        case "aggregate" => record(i, kind, lastState, fmtRows(read(
          sql(s"$aggSql $Orders GROUP BY grp"))))
        case "time_travel" =>
          // A seeded older version among those expiry keeps: its manifests
          // are not the ones the latest reads have cached.
          val back = op.get("back").asInt
          val (state, v) = versions(math.max(0, versions.size - 1 - back))
          record(i, kind, state, fmtRows(read(
            sql(s"$aggSql $Orders VERSION AS OF $v GROUP BY grp"))))
        case "changes" =>
          val from = versions(math.max(0, versions.size - 4))._2
          read(spark.read.option("startingVersion", from.toString).table(s"$Orders.changes")
            .groupBy("_change_type").count())
        case other => sys.error(s"unknown lake op $other")
      }
    }
    if (rec.ok && Lake.OrdersWrites(kind)) versions += ((i, currentVersion()))
    scanWritten()
    rec
  }

  /** Traced point and range reads: input splits the scan planned against
    * the live data files of the version read, for the skip ratio. */
  private def skipCounts(df: DataFrame): Unit = {
    val planned = Tracer.nodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase =>
        Tracer.splits(s)
    }.sum
    val live = sql(s"SELECT total_files FROM $Orders.snapshots ORDER BY version DESC LIMIT 1")
      .head().getInt(0)
    ctx.tracer.add("scan.files_planned_lake", planned.toDouble)
    ctx.tracer.add("scan.files_live", live.toDouble)
  }

  /** Stream index of the latest op applied (reads see its state). */
  private def lastState: Int = versions.last._1

  private def attempt(req: Int, kind: String, name: String, t0: Double, userBytes: Long)(
      f: => Unit): OpRecord =
    try { f; OpRecord(req, kind, name, t0, ctx.nowMs, ok = true, traced = false, userBytes = userBytes) }
    catch { case e: Exception => OpRecord.failed(req, kind, name, t0, ctx.nowMs, e, userBytes) }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  /** Bytes of every file the engine created under the catalog warehouse
    * since the last call (new paths, or growth of an existing file). */
  private def scanWritten(): Unit =
    files(new File(s"${ctx.work}/snap")).foreach { f =>
      val n = f.length
      val old = written.getOrElse(f.getPath, 0L)
      if (n > old) { bytesWritten += n - old; written(f.getPath) = n }
    }

  /** The catalog keeps a table's data and metadata under
    * `<warehouse>/<catalog>/<namespace>/<table>`. */
  private def ordersDir: File = new File(s"${ctx.work}/snap/$Cat/lake/orders")
  private def tableBytes(): Long = files(ordersDir).map(_.length).sum

  override def finish(): Map[String, Any] = {
    val bytesBefore = bytesWritten
    if (triggerDue) runTrigger()
    sql(s"CALL $Cat.system.refresh_mv(table => 'lake.orders_by_grp')").collect()
    val out = s"${ctx.work}/lake_out"
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    dump(spark.table(Orders), "orders")
    dump(spark.table(Mv), "mv")
    if (spark.catalog.tableExists(Store)) dump(spark.table(Store), "store")
    dump(spark.table(Sink).select("doc_id"), "docs_curated")
    val meta = files(new File(ordersDir, "metadata"))
    val lsh = if (ctx.args.getOrElse("trace", "0") == "1") Lanes.lshCounts(spark.table(Docs))
      else Map.empty[String, Any]
    lsh ++ Map(
      "applied" -> next,
      "versions" -> versions.map { case (s, v) => Seq(s, v) },
      "reads" -> reads,
      "engine_bytes_written" -> bytesBefore,
      "orders_bytes" -> tableBytes(),
      "metadata_files" -> meta.size,
      "metadata_bytes" -> meta.map(_.length).sum)
  }
}

object Lake {
  val OrdersWrites = Set("append", "merge", "update", "delete", "upsert", "compact")
}
