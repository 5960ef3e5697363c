package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BlockBridge

/** The one store of session memos: fit-once/serve-many state (checkpointed
  * corpus-derived relations, fitted models) keyed by (session, label, key),
  * so each session materializes its shared state once.
  *
  * - Every access first sweeps the entries of stopped sessions, which would
  *   otherwise keep DataFrame/checkpointed-RDD references alive for the life
  *   of the JVM (ADVICE r18).
  * - Single flight: the map holds one slot per key and the build runs under
  *   the slot's lock outside the map, so a build may call other memos (a
  *   `computeIfAbsent` build that re-enters its map throws "Recursive
  *   update").
  * - A materialized local checkpoint has no lineage to recompute lost blocks
  *   from, so a hit whose value reads one with a missing block (executor
  *   loss, an unpersist) releases the old value and builds it again.
  */
object SessionMemo {

  /** Seconds spent BUILDING each memo label — the cold cost a deployment
    * pays once per corpus version, which warm per-query figures leave out
    * (`memo_builds` in target/bench.json). A label built for several dirs
    * or rebuilt keeps the LAST build's seconds, which in a Bench run is the
    * timed dir's (warmup precedes the timed passes). */
  val buildSeconds = new ConcurrentHashMap[String, Double]()

  /** Rebuilds per label after lost checkpoint blocks (`memo_rebuilds`). */
  val rebuilds = new ConcurrentHashMap[String, Int]()

  private final class Slot { @volatile var value: Option[Any] = None }
  private val slots = new ConcurrentHashMap[(SparkSession, String, Any), Slot]()

  /** Memo `label` of `spark` for `key`: built on a miss, and again when the
    * stored value lost a checkpoint block. */
  def cached[V](spark: SparkSession, label: String, key: Any)(build: => V): V = {
    slots.keySet().removeIf(_._1.sparkContext.isStopped)
    val id = (spark, label, key)
    val slot = slots.computeIfAbsent(id, _ => new Slot)
    slot.synchronized {
      slot.value match {
        case Some(v) if !lost(v) => v.asInstanceOf[V]
        case old =>
          old.foreach { v => release(id, v); rebuilds.merge(label, 1, _ + _) }
          val t0 = System.nanoTime()
          val v = build
          buildSeconds.put(label, (System.nanoTime() - t0) / 1e9)
          slot.value = Some(v)
          v
      }
    }
  }

  /** (label, key) of `spark`'s entries. */
  private[graft] def keysOf(spark: SparkSession): Seq[(String, Any)] =
    slots.keySet().asScala.toSeq.collect { case (s, l, k) if s eq spark => (l, k) }

  /** The RDDs of the checkpoint leaves (`LogicalRDD`) of `df`'s plan. */
  private[graft] def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries { case l: LogicalRDD => l.rdd }

  /** Frees the blocks of an iteration's checkpoint once nothing reads it. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdds(df).foreach(BlockBridge.release)

  /** The DataFrames of a memo value: itself, or a tuple's or case class's. */
  private def frames(v: Any): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  /** Whether a checkpoint `v` reads lost a block. Each leaf's lineage is
    * followed down to the first materialized checkpoint: above it Spark
    * recomputes lost blocks from lineage itself. */
  private def lost(v: Any): Boolean = {
    val seen = mutable.Set[Int]()
    def broken(r: RDD[_]): Boolean = seen.add(r.id) && (
      if (r.isCheckpointed) BlockBridge.isLocalCheckpoint(r) && BlockBridge.missingBlocks(r) > 0
      else r.dependencies.exists(d => broken(d.rdd)))
    frames(v).exists(checkpointRdds(_).exists(broken))
  }

  /** Drops the old value's checkpoint blocks, except those another entry
    * of the session also reads. */
  private def release(id: (SparkSession, String, Any), old: Any): Unit = {
    val held = slots.asScala.toSeq.collect { case (k, s) if (k._1 eq id._1) && k != id => s.value }
      .flatten.flatMap(frames).flatMap(checkpointRdds).map(_.id).toSet
    frames(old).flatMap(checkpointRdds).filterNot(r => held(r.id)).foreach(BlockBridge.release)
  }
}
