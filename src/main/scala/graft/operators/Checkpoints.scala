package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization policy: what an operator keeps,
  * how it is stored, and when it is let go. Every checkpoint, persist
  * and release in `src/main` outside `Bench.scala`'s timed protocol goes
  * through this object (a spec enforces it), so the storage decision is
  * one module's.
  *
  * An operator body opens a [[Scope]] with [[scoped]] and materializes
  * by declared kind:
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
  * shared persists leave the CacheManager. An iterative body runs its
  * rounds on [[Scope.iterate]], which frees superseded loop state early.
  *
  * Hand-off. Owned tables the result still reads pass to the caller,
  * and [[release]] on the result, once it is materialized, is the one
  * way to free them. Every materialization carries the engine's mark
  * (the checkpoint RDD's name, the cache entry's table name), so
  * `release` walks the result's plan and frees exactly the marked
  * tables it reads — a checkpoint or cache the caller made itself is
  * never touched, and no registry outlives the scope. A caller that
  * skips it keeps them until `spark.catalog.clearCache()` and the
  * ContextCleaner reclaim them.
  *
  * Local checkpoints live in executor block managers; with executor
  * churn a reliable `checkpoint()` gives the same truncation with
  * replayable blocks — this object is where that swap would happen. */
object Checkpoints {

  /** The engine's mark on its own materializations. */
  private val Mark = "graft.Checkpoints"

  /** Materialization scope of one operator body; see [[Checkpoints]]. */
  final class Scope private[Checkpoints] {
    private val owned = mutable.ArrayBuffer.empty[Owned]

    /** Eager deserialized checkpoint of proxy-grain state. */
    def proxy(df: DataFrame): DataFrame = checkpoint(df.localCheckpoint(true))

    /** Eager serialized, disk-backed checkpoint of a data-grain table. */
    def dataGrain(df: DataFrame): DataFrame =
      checkpoint(df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))

    private def checkpoint(df: DataFrame): DataFrame = {
      val rdds = leafRdds(df.queryExecution.analyzed)
      rdds.foreach(_.setName(Mark))
      owned += new Owned(df, rdds)
      df
    }

    /** Lazy `MEMORY_AND_DISK` persist shared by several consumers. A plan
      * already cached stays its maker's: the scope neither marks nor
      * owns it. */
    def shared(df: DataFrame): DataFrame = {
      val ds = impl(df)
      val cm = ds.sparkSession.sharedState.cacheManager
      if (cm.lookupCachedData(ds).isEmpty) {
        cm.cacheQuery(ds, Some(Mark), StorageLevel.MEMORY_AND_DISK)
        owned += new Owned(df, Nil)
      }
      df
    }

    /** The round driver of every iterative operator. Round `r` (from 0)
      * calls `step(state, r)`, which returns the next state's lazy plan,
      * or `None` to stop; the driver materializes that plan with `keep`
      * (a kind of this scope) and it becomes the state of round `r + 1`.
      * Returns the last state and the number of states kept.
      *
      * Release rule: only AFTER `keep` has materialized the next state
      * does the driver free the superseded state and every table the
      * step materialized for itself — a local checkpoint cannot
      * recompute, so the next state's materialization may still read
      * them. A stopping round frees its own tables at once. So storage
      * stays one state generation deep however many rounds run. An
      * `init` the scope does not own, like any unowned table, is left
      * alone; an exception frees everything, as [[scoped]] does. Stride,
      * round cap and convergence are the step's: it folds several lazy
      * iterations into one plan, throws, or returns `None`. */
    def iterate(init: DataFrame, keep: DataFrame => DataFrame)(
        step: (DataFrame, Int) => Option[DataFrame]): (DataFrame, Int) = {
      @annotation.tailrec
      def loop(state: DataFrame, round: Int): (DataFrame, Int) = {
        val mark = owned.length
        val plan = step(state, round)
        val own = owned.drop(mark).map(_.df).toSeq
        plan match {
          case None =>
            own.foreach(release)
            (state, round)
          case Some(p) =>
            val next = keep(p)
            (state +: own).foreach(release)
            loop(next, round + 1)
        }
      }
      loop(init, 0)
    }

    /** Free `df` now if this scope owns it; otherwise do nothing. */
    private def release(df: DataFrame): Unit = {
      val i = owned.indexWhere(_.df eq df)
      if (i >= 0) owned.remove(i).free()
    }

    /** Frees every owned table `result` does not read (all of them for a
      * result holding no DataFrame); the rest pass to the caller. */
    private[Checkpoints] def close(result: Any): Unit = {
      val plans = framesOf(result).map(_.queryExecution.analyzed).toSeq
      val leaves = plans.flatMap(leafRdds).map(_.id).toSet
      owned.filterNot(_.readBy(plans, leaves)).foreach(_.free())
      owned.clear()
    }
  }

  /** One table a scope owns: a checkpoint is the RDDs behind its
    * `LogicalRDD` leaves; a shared table (no RDDs) is its CacheManager
    * entry. */
  private final class Owned(val df: DataFrame, rdds: Seq[RDD[_]]) {
    private def shared = rdds.isEmpty

    def free(): Unit =
      if (shared) { df.unpersist(); () }
      else rdds.foreach(_.unpersist(blocking = false))

    def readBy(plans: Seq[LogicalPlan], leaves: Set[Int]): Boolean =
      if (shared) {
        val p = df.queryExecution.analyzed
        plans.exists(_.collectFirstWithSubqueries {
          case n if n.sameResult(p) => n
        }.isDefined)
      } else rdds.exists(r => leaves(r.id))
  }

  /** Runs `body` in a fresh [[Scope]] and returns its result; see the
    * object doc for what is freed on exit and what is handed off. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    val out =
      try body(scope)
      catch { case e: Throwable => scope.close(()); throw e }
    scope.close(out)
    out
  }

  /** Frees every engine checkpoint and shared persist that `df` reads
    * (checkpoints async) — the caller's side of the hand-off. Call it
    * once `df` has been materialized: a released local checkpoint cannot
    * recompute. Checkpoints and caches the caller made are left alone;
    * on a plan that reads none of the engine's tables this is a no-op. */
  def release(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    leafRdds(plan).filter(_.name == Mark).foreach(_.unpersist(blocking = false))
    val session = impl(df).sparkSession
    val cm = session.sharedState.cacheManager
    if (!cm.isEmpty)
      plan.collectWithSubqueries { case p => cm.lookupCachedData(session, p) }
        .flatten.distinct
        .filter(_.cachedRepresentation.cacheBuilder.tableName.contains(Mark))
        .foreach(cd => cm.uncacheQuery(session, cd.plan, cascade = false,
          blocking = false))
  }

  private def impl(df: DataFrame): classic.Dataset[_] =
    df.asInstanceOf[classic.Dataset[_]]

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
