package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization policy: what an operator keeps,
  * how it is stored, and when it is let go. Every checkpoint, persist
  * and release in `src/main` outside `Bench.scala`'s timed protocol goes
  * through this object (a spec enforces it), so the storage decision is
  * one module's.
  *
  * An operator body opens a [[Scope]] ([[scoped]], or [[managed]] for a
  * [[ManagedFrame]] result) and materializes by declared kind:
  *  - [[Scope.proxy]]: eager, lineage-truncating, deserialized blocks
  *    (`localCheckpoint(true)`) — small proxy-grain state (ids, hashes,
  *    rank vectors, per-round loop state) whose deserialized reads are
  *    cheapest;
  *  - [[Scope.dataGrain]]: eager, lineage-truncating, SERIALIZED blocks
  *    with disk fallback — pair/edge/corpus-sized tables, where one
  *    buffer per block instead of ~2 JVM objects per row bounds storage
  *    memory and GC under many concurrent tasks, and memory-pressed
  *    blocks land on disk instead of thrashing the storage pool;
  *  - [[Scope.shared]]: a lazy `MEMORY_AND_DISK` persist, filled by the
  *    first action that reads it — a subtree with several consumers in
  *    one plan, or loop state re-read without needing lineage cut.
  *
  * Eager checkpoints exist because an iterative plan that merely caches
  * keeps nesting each round's plan inside the next (analysis cost grows
  * without bound); a local checkpoint's blocks cannot be recomputed, so
  * a lost or released block fails any plan still reading it.
  *
  * Release. The scope OWNS every table it materialized. On a normal
  * exit it frees each owned table that the returned value (a DataFrame,
  * or one in a tuple or case class) no longer reads; on an exception it
  * frees them all. Checkpoint blocks are unpersisted at once (a
  * `Dataset.unpersist` would not free them; they belong to the RDD), and
  * shared persists leave the CacheManager. `scope.release(t)` frees
  * superseded loop state early, at the point the next round has
  * materialized; it does nothing for a table the scope does not own.
  *
  * Hand-off. Owned tables the result still reads pass to the caller:
  * from [[scoped]], checkpoints are freed by [[release]] on the result
  * once it is materialized (shared persists follow the session's
  * `clearCache()`); from [[managed]], the [[ManagedFrame]] handle holds
  * exactly them and its `release()` frees them and nothing else. A
  * caller that takes over a callee's handed-off result inside its own
  * scope declares it with [[Scope.adopt]].
  *
  * Local checkpoints live in executor block managers; with executor
  * churn a reliable `checkpoint()` gives the same truncation with
  * replayable blocks — this object is where that swap would happen. */
object Checkpoints {

  /** Materialization scope of one operator body; see [[Checkpoints]]. */
  final class Scope private[Checkpoints] {
    private val owned = mutable.ArrayBuffer.empty[Owned]

    private def own(df: DataFrame, shared: Boolean): DataFrame = {
      owned += new Owned(df, shared)
      df
    }

    /** Eager deserialized checkpoint of proxy-grain state. */
    def proxy(df: DataFrame): DataFrame =
      own(df.localCheckpoint(true), shared = false)

    /** Eager serialized, disk-backed checkpoint of a data-grain table. */
    def dataGrain(df: DataFrame): DataFrame =
      own(df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER),
        shared = false)

    /** Lazy `MEMORY_AND_DISK` persist shared by several consumers. */
    def shared(df: DataFrame): DataFrame =
      own(df.persist(StorageLevel.MEMORY_AND_DISK), shared = true)

    /** Take ownership of the checkpoints a callee handed to this body
      * with its result (everything [[Checkpoints.release]] would free). */
    def adopt(df: DataFrame): DataFrame = own(df, shared = false)

    /** Free `df` now if this scope owns it; otherwise do nothing. */
    def release(df: DataFrame): Unit = {
      val i = owned.indexWhere(_.df eq df)
      if (i >= 0) owned.remove(i).free()
    }

    /** Frees every owned table `result` does not read (all of them for a
      * result holding no DataFrame); returns the rest. */
    private[Checkpoints] def close(result: Any): Seq[Owned] = {
      val plans = framesOf(result).map(_.queryExecution.analyzed).toSeq
      val leaves = plans.flatMap(leafRdds).map(_.id).toSet
      val (kept, dropped) = owned.partition(_.readBy(plans, leaves))
      owned.clear()
      dropped.foreach(_.free())
      kept.toSeq
    }
  }

  /** One table a scope owns. A checkpoint is the RDDs behind its
    * `LogicalRDD` leaves; a shared table is its CacheManager entry. */
  final class Owned private[Checkpoints] (private[Checkpoints] val df: DataFrame,
                                          shared: Boolean) {
    private val rdds = if (shared) Nil else leafRdds(df.queryExecution.analyzed)

    private[operators] def free(): Unit =
      if (shared) { df.unpersist(); () }
      else rdds.foreach(_.unpersist(blocking = false))

    private[operators] def isFree: Boolean =
      if (shared) df.storageLevel == StorageLevel.NONE
      else rdds.forall(_.getStorageLevel == StorageLevel.NONE)

    private[Checkpoints] def readBy(plans: Seq[LogicalPlan],
                                    leaves: Set[Int]): Boolean =
      if (shared) {
        val p = df.queryExecution.analyzed
        plans.exists(_.collectFirstWithSubqueries {
          case n if n.sameResult(p) => n
        }.isDefined)
      } else rdds.exists(r => leaves(r.id))
  }

  /** Runs `body` in a fresh [[Scope]] and returns its result; see the
    * object doc for what is freed on exit. */
  def scoped[T](body: Scope => T): T = run(body)._1

  /** [[scoped]] for an operator returning a [[ManagedFrame]]: the owned
    * tables `df` still reads go on the handle instead of to the caller. */
  def managed(body: Scope => DataFrame): ManagedFrame = {
    val (df, kept) = run(body)
    ManagedFrame(df, kept)
  }

  private def run[T](body: Scope => T): (T, Seq[Owned]) = {
    val scope = new Scope
    val out =
      try body(scope)
      catch { case e: Throwable => scope.close(()); throw e }
    (out, scope.close(out))
  }

  /** Frees the checkpoint blocks behind every `LogicalRDD` leaf of `df`
    * (async) — the caller's side of the hand-off. Call only after `df`
    * has been materialized, and only on a result whose checkpoints the
    * caller owns: a released local checkpoint cannot recompute. On a
    * plan without checkpoints this is a no-op. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The DataFrames a scope's result holds: itself, or the fields of a
    * tuple or case class (collections are not searched). */
  private def framesOf(x: Any): Iterator[DataFrame] = x match {
    case d: Dataset[_] => Iterator(d.toDF())
    case _: Iterable[_] => Iterator.empty
    case p: Product => p.productIterator.flatMap(framesOf)
    case _ => Iterator.empty
  }

  /** The RDDs behind a plan's checkpoint (`LogicalRDD`) leaves. */
  private def leafRdds(plan: LogicalPlan): Seq[RDD[_]] =
    plan.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
}

/** A DataFrame plus the operator-owned tables backing it, handed over by
  * [[Checkpoints.managed]]. Call [[release]] once `df` has been
  * materialized (written / collected); it frees exactly those tables,
  * never a checkpoint or cache the caller owns. A long-lived session
  * that skips it keeps them for the session lifetime. */
final case class ManagedFrame(df: DataFrame,
                              private val owned: Seq[Checkpoints.Owned]) {
  def release(): Unit = owned.foreach(_.free())
  /** True when every operator-owned table has been freed. */
  def isReleased: Boolean = owned.forall(_.isFree)
}
