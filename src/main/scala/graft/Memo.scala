package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A cross-entry memo: one value, keyed by (applicationId, key), shared
  * by every entry that asks for the same key in the same session. A hit
  * returns the held value; a miss records a [[MemoLedger]] build (before
  * the build runs), releases what the memo owns for the superseded key
  * when that key belongs to the live application, and builds. Plain-data
  * values own nothing; [[FrameMemo]] owns its checkpoint.
  */
class Memo[K, V](name: String) {
  import Memo.Held
  private var held: Option[Held[K, V]] = None

  def apply(s: SparkSession, key: K)(build: => V): V =
    lookup(s, key)((build, Set.empty[Int]))

  /** `build` returns the value and the persistent RDD ids it owns. */
  protected final def lookup(s: SparkSession, key: K)(
      build: => (V, Set[Int])): V = synchronized {
    val app = s.sparkContext.applicationId
    held match {
      case Some(h) if h.app == app && h.key == key =>
        MemoLedger.recordHit(name)
        h.value
      case prev =>
        MemoLedger.recordBuild(name)
        held = None
        prev.foreach(h => if (h.app == app) Memo.release(s, h.owned))
        val (value, owned) = build
        held = Some(Held(app, key, value, owned))
        value
    }
  }
}

/** A memo of a DataFrame. The memo takes the eager `localCheckpoint`
  * itself and owns exactly that checkpoint's RDD, read from the frame's
  * own plan: a memo built inside another memo's build never claims the
  * inner memo's frame.
  */
final class FrameMemo[K](name: String) extends Memo[K, DataFrame](name) {
  /** `plan`, checkpointed once per key. */
  override def apply(s: SparkSession, key: K)(plan: => DataFrame): DataFrame =
    scoped(s, key)(checkpoint => checkpoint(plan))

  /** For a plan whose inputs are cached only inside a scope: `build`
    * gets the memo's checkpoint function and calls it in that scope.
    */
  def scoped(s: SparkSession, key: K)(
      build: (DataFrame => DataFrame) => DataFrame): DataFrame =
    lookup(s, key) {
      var owned = Set.empty[Int]
      val df = build { plan =>
        val c = plan.localCheckpoint(true)
        owned ++= Memo.rddIds(c)
        c
      }
      (df, owned)
    }
}

object Memo {
  private final case class Held[K, V](
      app: String, key: K, value: V, owned: Set[Int])

  /** The RDDs a checkpointed frame reads: the `LogicalRDD`s of its plan. */
  private[graft] def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Drops the given persistent RDDs' blocks, non-blocking, at the raw-RDD
    * level: a local checkpoint never enters the Dataset cache manager, so
    * `Dataset.unpersist()` would not free it. Only for checkpoints nothing
    * reads again: the data and its truncated lineage both go.
    */
  private[graft] def release(s: SparkSession, ids: Set[Int]): Unit = {
    val live = s.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }
}

/** The eager `localCheckpoint`s of an iterative loop. Each [[step]]
  * materializes its plan and then frees the step it supersedes, so live
  * checkpoint storage stays one step whatever the round count; [[close]]
  * frees the last step. Release is by RDD id, taken from the step's own
  * plan, never from the frames the loop's inputs hold.
  */
final class CheckpointChain(s: SparkSession) extends AutoCloseable {
  private var live = Set.empty[Int]

  def step(plan: DataFrame): DataFrame = {
    val c = plan.localCheckpoint(true)
    Memo.release(s, live)
    live = Memo.rddIds(c)
    c
  }

  def close(): Unit = {
    Memo.release(s, live)
    live = Set.empty
  }
}

object CheckpointChain {
  /** Runs `body` with a fresh chain and frees its last step on exit. */
  def apply[T](s: SparkSession)(body: CheckpointChain => T): T = {
    val chain = new CheckpointChain(s)
    try body(chain) finally chain.close()
  }
}
