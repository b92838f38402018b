package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** The session memo: every intermediate one query leaves for later
  * queries of the same session — persisted frames, object-RDD
  * adjacencies, graph scalars, broadcasts — sits in ONE map under ONE
  * lock, keyed by (tag, session, dir). A build runs under the lock, so a
  * concurrent first call cannot double-build and leak a persisted copy;
  * the lock is reentrant, so a build may memoize further entries
  * (q54b's pair frame memoizes its prefix table).
  *
  * Release is by the value's type: a Dataset is unpersisted; an RDD or
  * a Broadcast is unpersisted without blocking, never destroyed — a
  * memoized RDD's recompute lineage may close over a broadcast (an
  * evicted adjacency partition re-reads its id array), and unpersist
  * keeps the re-fetch from the driver legal until GC collects it. Any
  * other value (graph scalars, id arrays) is simply dropped. */
object Memo {

  private val entries = scala.collection.mutable.Map.empty[(String, SparkSession, String), Any]
  /** Per-call broadcasts (a kernel's final-round rank vector, its
    * dense-id map) that no entry owns but whose lifetime is the
    * session's memo lifetime. */
  private val tracked = scala.collection.mutable.Buffer.empty[Broadcast[_]]

  def apply[T](tag: String, s: SparkSession, dir: String)(build: => T): T =
    synchronized(entries.getOrElseUpdate((tag, s, dir), build)).asInstanceOf[T]

  def track[T](b: Broadcast[T]): Broadcast[T] = synchronized { tracked += b; b }

  /** Releases and forgets ONE entry — for a caller that knows it is done
    * with a shared intermediate (a blob builder handing state to a
    * long-lived streaming job); the next query needing it rebuilds it. */
  def evict(tag: String, s: SparkSession, dir: String): Unit =
    synchronized(entries.remove((tag, s, dir))).foreach(release)

  /** Releases and forgets everything. The bench calls it between queries
    * so each pays its own full cost and no persisted blocks accumulate
    * across the run. */
  def reset(): Unit = synchronized {
    (entries.values ++ tracked).foreach(release)
    entries.clear()
    tracked.clear()
  }

  /** Entries plus tracked broadcasts currently held. */
  private[graft] def size: Int = synchronized(entries.size + tracked.size)

  private def release(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist()
    case r: RDD[_] => r.unpersist(blocking = false)
    case b: Broadcast[_] => b.unpersist(blocking = false)
    case _ => ()
  }
}
