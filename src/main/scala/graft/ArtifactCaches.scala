package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** Process-wide registry of the engine's cross-query artifact store:
  * every [[DirCache]] registers itself at construction. Exists for ONE
  * consumer: the bench's cold mode (`SPARK_GRAFT_BENCH_COLD=1`), which
  * must be able to drop every cross-query artifact between timed reps
  * so a query's COLD cost — first-invocation-in-a-session, artifact
  * build included — is measured alongside the warm median (r17 verdict:
  * warm-only medians made "shared artifact" and "query got faster"
  * indistinguishable).
  *
  * [[clearAll]] snapshots the list under the registry lock and clears
  * each cache OUTSIDE it (each clear takes its own cache's lock — the
  * copy keeps the registry lock trivially short). A clear releases only
  * artifacts belonging to the given session. */
object ArtifactCaches {
  private val caches = scala.collection.mutable.ArrayBuffer.empty[DirCache[_, _]]

  private[graft] def register(c: DirCache[_, _]): Unit =
    synchronized { caches += c }

  /** Drop every cache entry owned by `s` (releasing its
    * checkpoint/persist storage) so the next query invocation rebuilds
    * from the parquet inputs — the cold-start contract. */
  def clearAll(s: SparkSession): Unit =
    synchronized(caches.toList).foreach(_.clearSession(s))
}

/** Cached artifacts KEYED by (session, key) — the engine's one
  * cross-query artifact store (graph pairs and labels, the near-dup
  * pairs/clusters, trained PQ/BPE/NB models, the sales grain). The
  * build runs on first use, every later consumer reads the retained
  * artifact. Keyed (not single-slot — the r13 shape): a long-lived
  * listener alternating requests across two data dirs must not rebuild
  * the lineitem self-join (and 4 LPA rounds) on every flip. LRU with a
  * small cap bounds the retained storage; eviction RELEASES the artifact
  * when it belongs to the evicting caller's session (an entry from
  * another session is just dropped — its checkpoints die with that
  * session, and releasing through a foreign/stopped context is not
  * safe; a LIVE foreign session's entry evicted here is likewise dropped
  * unreleased — bounded by that session's lifetime, see the r14 verdict
  * note). `buildCount` is the test hook pinning build-once behavior;
  * `name` labels the cache in contract failures.
  *
  * CONSUMER CONTRACT (r14 advice): `get` alone is safe only for a
  * caller that finishes reading the artifact before any other get on
  * the same cache can run — it re-validates nothing once the lock is
  * dropped, so a LAZY plan returned to a caller may reference
  * checkpoints a concurrent caller's overflow has already released.
  * Consumers that hand plans OUT (the query lambdas) must instead use
  * [[withArtifact]], which holds the cache lock across the read and
  * rejects a result that is not eagerly materialised. */
private[graft] final class DirCache[K, A](
    build: (SparkSession, K) => A, releaseFn: A => Unit, cap: Int = 4,
    name: String = "artifact") {
  private val cached =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, K), A]
  private var builds = 0L
  ArtifactCaches.register(this)
  private[graft] def buildCount: Long = synchronized(builds)
  def get(s: SparkSession, key: K): A = synchronized(getLocked(s, key))

  /** The most recently built or read artifact, of any session/key. */
  def mostRecent: Option[A] = synchronized(cached.lastOption.map(_._2))

  /** Cold-mode hook ([[ArtifactCaches]]): release and forget every
    * entry built by THIS session, so the next consumer rebuilds from
    * the parquet inputs. Entries owned by other sessions are left
    * untouched (releasing through a foreign/stopped context is not safe
    * — the eviction rule). `buildCount` keeps counting across clears:
    * it pins build-once behavior WITHIN a warm window, and the cold
    * bench asserts rebuilds happen, not that they don't. */
  private[graft] def clearSession(s: SparkSession): Unit = synchronized {
    val keys = cached.keysIterator.filter(_._1 eq s).toList
    keys.foreach(k => cached.remove(k).foreach(releaseFn))
  }

  /** Pin the entry across the consumer's WHOLE read: `f` runs while
    * this cache's lock is held, so a concurrent `get`'s LRU eviction
    * can never release the artifact mid-plan. A `DataFrame` that `f`
    * returns must be eagerly materialised (a `cut(true)` of a BOUNDED
    * result, or a local relation) — checked here, because a lazy plan
    * escaping the lock would re-open exactly the race this closes.
    * Holding the lock across `f` adds no new serialisation point:
    * builds already run inside `get`'s lock, and the graph queries are
    * single-flight per cache by design. Nested cache locks are taken
    * ONLY in build-dependency order (labels → pairs, cores → pairs,
    * pairs/cc → sigs), so the nesting is acyclic; the lock is
    * reentrant, so `f` may `get` ONE second key from the SAME cache
    * (q282's two years) — with cap ≥ 2 a single additional insert can
    * never evict the just-touched pinned key, but a THIRD same-cache
    * get inside `f` could walk the eviction up to the pin (spec-pinned
    * boundary). */
  def withArtifact[B](s: SparkSession, key: K)(f: A => B): B =
    synchronized {
      val out = f(getLocked(s, key))
      out match {
        case df: Dataset[_] => df.queryExecution.analyzed match {
          case _: LogicalRDD | _: LocalRelation => ()
          case p => throw new IllegalStateException(
            s"artifact cache '$name': withArtifact must return an eagerly " +
              s"materialised DataFrame (a LogicalRDD or LocalRelation " +
              s"leaf), got a lazy plan:\n${p.treeString}")
        }
        case _ => ()
      }
      out
    }

  private def getLocked(s: SparkSession, key: K): A = {
    val k = (s, key)
    cached.remove(k) match {
      case Some(a) =>
        cached.put(k, a) // re-insert: most-recently-used at the tail
        a
      case None =>
        builds += 1
        val a = build(s, key)
        cached.put(k, a)
        while (cached.size > cap) {
          val (ek, ea) = cached.head
          cached.remove(ek)
          if (ek._1 eq s) releaseFn(ea)
        }
        a
    }
  }
}
