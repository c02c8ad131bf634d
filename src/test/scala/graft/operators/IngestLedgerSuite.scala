package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Replay detection must key on (STREAM, batch): a new logical stream over
  * an existing store restarts its batchIds at 0, and a bare-batchId check
  * would silently skip its first batches as "replays" of the old stream's.
  */
class IngestLedgerSuite extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("isCommitted is per (stream, batch); visibility stays per attempt") {
    val led = IngestLedger("graft_snap.ledger_test", s"ledger_${System.nanoTime()}")
    assert(!led.isCommitted(spark, 0L, "s1"))
    led.commit(spark, 0L, "a1", streamId = "s1")
    assert(led.isCommitted(spark, 0L, "s1"))
    // The OTHER stream's batch 0 is NOT a replay.
    assert(!led.isCommitted(spark, 0L, "s2"))
    led.commit(spark, 0L, "a2", streamId = "s2")
    assert(led.isCommitted(spark, 0L, "s2"))
    // Visibility joins on (batch_nr, attempt) — both attempts committed.
    import spark.implicits._
    val store = Seq((0L, "a1", 1), (0L, "a2", 2), (0L, "dead", 3))
      .toDF("batch_nr", "attempt", "payload")
    val visible = IngestLedger.visible(store, led.committed(spark))
      .select("payload").as[Int].collect().toSet
    assert(visible === Set(1, 2), "dead attempt's rows must stay invisible")
  }
}
