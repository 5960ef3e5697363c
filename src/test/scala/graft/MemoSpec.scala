package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.BlockBridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The [[SessionMemo]] mechanism itself: nested builds, build accounting,
  * no false rebuilds, checkpoint release and stopped-session eviction. */
class MemoSpec extends SparkSpec {

  private def checkpointed(n: Int): DataFrame =
    spark.range(n).toDF().repartition(2).localCheckpoint(eager = true)

  test("a build that calls another memo succeeds and both labels land in buildSeconds") {
    val outer = SessionMemo.cached(spark, "memoSpecOuter", 1) {
      SessionMemo.cached(spark, "memoSpecInner", 1)(checkpointed(4)).count()
    }
    assert(outer == 4L)
    assert(SessionMemo.buildSeconds.containsKey("memoSpecOuter"))
    assert(SessionMemo.buildSeconds.containsKey("memoSpecInner"))
    assert(SessionMemo.keysOf(spark).contains(("memoSpecInner", 1)))
  }

  test("two warm hits with no lost block serve the stored value and rebuild nothing") {
    var builds = 0
    def hit(): (DataFrame, Long) = SessionMemo.cached(spark, "memoSpecWarm", "k") {
      builds += 1
      val df = checkpointed(8)
      (df, df.count())
    }
    val first = hit()
    assert(hit() eq first)
    assert(hit() eq first)
    assert(builds == 1)
    assert(!SessionMemo.rebuilds.containsKey("memoSpecWarm"))
  }

  test("freeing an iteration's checkpoint drops its blocks and its persistence entry") {
    val df = checkpointed(8)
    val rdd = SessionMemo.checkpointRdds(df).head
    assert(BlockBridge.missingBlocks(rdd) == 0)
    SessionMemo.freeCheckpoint(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    eventually(timeout(10.seconds))(assert(BlockBridge.missingBlocks(rdd) == rdd.partitions.length))
  }

  // stops the shared session, so it runs last; later specs get a fresh one
  test("stopping a session evicts its entries at the next access") {
    val first = spark
    SessionMemo.cached(first, "memoSpecEvict", 1)(checkpointed(4))
    assert(SessionMemo.keysOf(first).nonEmpty)
    first.stop()
    val second = SparkSpec.session
    assert(second ne first)
    assert(SessionMemo.cached(second, "memoSpecEvict", 1)(7) == 7)
    assert(SessionMemo.keysOf(first).isEmpty)
  }
}
