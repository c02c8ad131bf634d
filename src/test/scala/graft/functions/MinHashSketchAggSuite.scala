package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{MinHashLsh, MinHashTwin}

/** The row-local `graft_minhash_sig` kernel against the relational test
  * twin ([[MinHashTwin]]). */
class MinHashSketchAggSuite extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the garden gate"),
    (2L, "spark shuffles partitions and broadcast joins with adaptive execution"),
    (3L, "a b"),
    (4L, "singletoken")).toDF("doc_id", "text")

  private def twin(sh: DataFrame): Map[Long, Seq[Long]] =
    MinHashTwin.signaturesRelational(sh)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap

  test("merge across partitions gives the same signature as single-partition") {
    GraftFunctions.register(spark)
    // graft_minhash_sig over a collect_list of shingle hashes: the
    // per-group SQL form, whatever partitioning feeds the collect.
    val sh = docs.select(col("doc_id").as("id"),
      MinHashLsh.shingles(col("text"), 2).as("shingles"))
    val hashes = sh.select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    def viaCollect(partitions: Int): Map[Long, Seq[Long]] =
      hashes.repartition(partitions).groupBy("id")
        .agg(GraftFunctions.minhashSig(collect_list(col("h"))).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
    assert(viaCollect(1) === twin(sh))
    assert(viaCollect(7) === twin(sh))
  }

  test("row-local signature expression equals the relational form bit-for-bit, " +
      "drops zero-shingle docs, and plans with zero Exchange") {
    val p = MinHashLsh.Params()
    // "" shingles to nothing (single empty token, bigram window empty):
    // the relational explode emits NO row for it and the row-local filter
    // must drop it identically.
    val withEmpty = docs.union(Seq((5L, "")).toDF("doc_id", "text"))
    val sh = withEmpty.select(col("doc_id").as("id"),
      MinHashLsh.shingles(col("text"), p.shingleSize).as("shingles"))
    val relational = MinHashTwin.signaturesRelational(sh)
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    val rowLocal = MinHashLsh.signaturesFromShingles(sh, p)
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(rowLocal === relational)
    assert(!rowLocal.map(_._1).contains(5L))
    // The same kernel through its SQL registration: the twin's signature
    // for every document with shingles, NULL for an empty shingle array
    // ("singletoken" and "").
    GraftFunctions.register(spark)
    sh.createOrReplaceTempView("mh_shingles")
    val viaSql = spark.sql(
      """SELECT id, graft_minhash_sig(transform(shingles, s -> xxhash64(s))) AS sig
         FROM mh_shingles""")
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(viaSql.collect { case (id, None) => id }.toSet === Set(4L, 5L),
      "an empty shingle array must give NULL")
    assert(viaSql.collect { case (id, Some(sig)) => id -> sig } === twin(sh))
    val plan = MinHashLsh.signaturesFromShingles(sh, p)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"row-local signatures must not shuffle:\n$plan")
  }
}
