package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.MinHashLsh

/** The interactive_sql workload: registered `SparkEntry.queries` lanes over
  * the generated tables, in a seeded order that is reshuffled every round,
  * one closed-loop client.
  *
  * Set-up runs `graft.Verify` over the same lanes: that pass is the first
  * half of the warm-up (every lane's first, cold execution) and writes each
  * lane's result for the DuckDB comparison made after the run. Every later
  * execution must return the same rows as that checked result, or it counts
  * as failed. Verify stops the session when it is done, so the second
  * warm-up pass and the measured window run in a fresh session of the same
  * JVM. */
final class Lanes(ctx: Ctx, lanes: Seq[String]) extends Workload {
  private val queries = graft.SparkEntry.queries
  require(lanes.nonEmpty && lanes.forall(queries.contains),
    s"unknown lanes: ${lanes.filterNot(queries.contains).mkString(", ")}")
  private val rng = new scala.util.Random(ctx.seed)
  private var order: Seq[String] = Seq.empty
  private var pos = 0
  /** Each lane's result as Verify wrote it; a lane Verify could not run has none. */
  private var expected: Map[String, Seq[String]] = Map.empty

  def setup(): Unit = {
    ctx.spark
    val verify = s"${ctx.work}/verify"
    graft.Verify.main(Array(ctx.data, verify) ++ lanes)
    expected = lanes.filter(l => new File(s"$verify/$l").isDirectory)
      .map(l => l -> Lanes.rowsOf(ctx.spark.read.parquet(s"$verify/$l").collect())).toMap
    // One more pass in the measured form, so the window starts past the
    // steepest part of the JIT warm-up.
    lanes.foreach { lane =>
      queries(lane)(ctx.spark, ctx.data).collect()
      ctx.spark.catalog.clearCache()
    }
  }

  def atRoundEnd: Boolean = pos == order.size
  def minRounds: Int = 2

  def runOne(req: Int): OpRecord = {
    if (pos == order.size) { order = rng.shuffle(lanes); pos = 0 }
    val lane = order(pos)
    pos += 1
    val spark = ctx.spark
    val t0 = ctx.nowMs
    try {
      val df = ctx.tracer.span("queries", s"build $lane")(queries(lane)(spark, ctx.data))
      val rows = ctx.tracer.span("exec", s"execute $lane")(df.collect())
      val t1 = ctx.nowMs
      if (expected.get(lane).contains(Lanes.rowsOf(rows)))
        OpRecord(req, "lane", lane, t0, t1, ok = true, traced = false)
      else OpRecord(req, "lane", lane, t0, t1, ok = false, traced = false,
        error = s"returned ${rows.length} rows that differ from the checked result")
    } catch {
      case e: Exception => OpRecord.failed(req, "lane", lane, t0, ctx.nowMs, e)
    }
  }
}

object Lanes {
  /** A result's rows in a canonical order, for comparing two executions. */
  def rowsOf(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** How many LSH band candidates the MinHash operator proposes for a
    * document frame (`doc_id`, `text`), and how many of them verify. */
  def lshCounts(docs: DataFrame): Map[String, Any] = {
    val p = MinHashLsh.Params()
    val bands = MinHashLsh.bandFrame(MinHashLsh.signatures(docs, "doc_id", "text", p), p)
    val candidates = bands.as("x").join(bands.as("y"),
      col("x.band_idx") === col("y.band_idx") && col("x.band_hash") === col("y.band_hash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    val truePairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", p).count()
    docs.sparkSession.catalog.clearCache()
    Map("lsh_candidates" -> candidates, "lsh_true_pairs" -> truePairs)
  }
}
