package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.BlockBridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Session memos survive lost checkpoint blocks: a memo whose materialized
  * local checkpoint lost a block is rebuilt at its next hit instead of
  * failing every later query of the session with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
class MemoRecoverySpec extends SparkSpec {

  /** One registry consumer per memo label, with the labels it reads. */
  private val consumers = Seq(
    "q31" -> Seq("ngramPairs200"),
    "q125" -> Seq("spanPairs"),
    "q170" -> Seq("quantizedVecs", "lloydCentroids"),
    "q166" -> Seq("revTop5"),
    "q177" -> Seq("dailyRevenue"),
    "q174" -> Seq("bm25Index"),
    "q185" -> Seq("rrfFeat"),
    "q208" -> Seq("langProf"),
    "q216" -> Seq("chunkIndex", "chunkBm25Index"),
    "q162" -> Seq("pprNation1Seeds", "prGraphBase", "tradePairs"),
    "q219" -> Seq("hitsTrade"),
    "q167" -> Seq("coSupplyEdges_2"),
    "q175" -> Seq("coSupplyEdges_3"))

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(Probe.select(Some(q)).head)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("every memo consumer answers identically after all persisted RDDs are unpersisted") {
    val before = consumers.map { case (q, _) => q -> rows(q) }.toMap
    val held = SessionMemo.keysOf(spark).map(_._1).toSet
    assert(consumers.flatMap(_._2).toSet.subsetOf(held), s"memos built: $held")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    consumers.foreach { case (q, _) => assert(rows(q) == before(q), q) }
  }

  test("one block lost from one memo checkpoint rebuilds that memo") {
    val before = rows("q177")
    val memo = SessionMemo.cached[DataFrame](spark, "dailyRevenue", sf)(fail("q177 built it"))
    val rdd = SessionMemo.checkpointRdds(memo).head
    val rebuilt = SessionMemo.rebuilds.getOrDefault("dailyRevenue", 0)
    BlockBridge.dropBlock(rdd, 0)
    eventually(timeout(10.seconds))(assert(BlockBridge.missingBlocks(rdd) == 1))
    assert(rows("q177") == before)
    assert(SessionMemo.rebuilds.get("dailyRevenue") == rebuilt + 1)
  }
}
