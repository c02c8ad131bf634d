package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class MinHashLshSuite extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches the garden gate"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog while the cat watches the garden fence"
  private val unrelated =
    "completely different words about spark shuffles partitions and broadcast joins here"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated),
    (4L, "another unrelated short text entirely")).toDF("doc_id", "text")

  test("nearDupPairs finds the planted pair and nothing else") {
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("nearDupAgainst equals the symmetric pairs restricted to the split") {
    val fixture = graft.queries.Tables
      .documents(spark, graft.SparkTestSession.sfDir)
    val batch = fixture.filter(col("doc_id") % 7 === 0)
    val corpus = fixture.filter(col("doc_id") % 7 =!= 0)
    val cross = MinHashLsh.nearDupAgainst(batch, corpus, "doc_id", "text")
    // The incremental probe must return exactly the n02 self-join's pairs
    // with one side in the batch and one in the corpus, re-oriented
    // batch-first (the symmetric form is the oracle-checked ground truth).
    val symmetric: Set[(Long, Long)] = MinHashLsh
      .nearDupPairs(fixture, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = symmetric.collect {
      case (a, b) if a % 7 == 0 && b % 7 != 0 => (a, b)
      case (a, b) if b % 7 == 0 && a % 7 != 0 => (b, a)
    }
    val got = cross.select("batch_id", "corpus_id").as[(Long, Long)]
      .collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture has no cross-split near-dups to screen")
    // Plan shape: band-bucket joins only — never a corpus self-product.
    val plan = cross.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"pairwise plan:\n$plan")
  }

  test("signatures are deterministic across runs") {
    val p = MinHashLsh.Params()
    val s1 = MinHashLsh.signatures(docs, "doc_id", "text", p)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    val s2 = MinHashLsh.signatures(docs, "doc_id", "text", p)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(s1 === s2)
    assert(s1(1L).length === MinHashLsh.NPerms)
  }

  test("identical texts share the full signature; jaccard = 1.0") {
    val two = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val out = MinHashLsh.nearDupPairs(two, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("signature similarity estimates jaccard (planted pair ≫ unrelated)") {
    val p = MinHashLsh.Params()
    val sigs = MinHashLsh.signatures(docs, "doc_id", "text", p)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / MinHashLsh.NPerms
    assert(est(1L, 2L) > 0.7, s"near-dup estimate ${est(1L, 2L)}")
    assert(est(1L, 3L) < 0.2, s"unrelated estimate ${est(1L, 3L)}")
  }

  test("relational signatures equal the per-row expression form") {
    // On the fixture documents: the production row-local kernel against
    // the relational test twin, bit for bit.
    val p = MinHashLsh.Params()
    val sh = graft.queries.Tables.documents(spark, graft.SparkTestSession.sfDir)
      .select(col("doc_id").as("id"),
        MinHashLsh.shingles(col("text"), p.shingleSize).as("shingles"))
    val rel = MinHashTwin.signaturesRelational(sh)
      .select("id", "n_shingles", "sig").as[(Long, Long, Seq[Long])].collect().toSet
    val kernel = MinHashLsh.signaturesFromShingles(sh, p)
      .select("id", "n_shingles", "sig").as[(Long, Long, Seq[Long])].collect().toSet
    assert(rel.nonEmpty)
    assert(kernel === rel)
  }

  test("shingles are distinct word n-grams") {
    val g = Seq((1L, "a b a b c")).toDF("doc_id", "text")
      .select(MinHashLsh.shingles(col("text"), 2).as("g"))
      .as[Seq[String]].head()
    assert(g.toSet === Set("a b", "b a", "b c"))
  }
}
