package graft.queries

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Pins the keyed artifact-cache policy (VERDICT r13 asks #3/#4): the
  * r12 single-slot cache rebuilt the lineitem self-join + 4 LPA rounds
  * on EVERY flip when a long-lived listener alternated two data dirs.
  * Keyed by (session, key) with LRU + release-on-evict, alternation
  * builds once per dir; the policy is tested with a counting build fn —
  * no data needed, the caches over real relations ride the same class.
  */
class DirCacheSpec extends SparkSpec {

  private def cache(cap: Int, released: collection.mutable.Buffer[Int]) = {
    var n = 0
    val c = new graft.DirCache[String, Int](
      (_: SparkSession, _: String) => { n += 1; n },
      (a: Int) => released += a, cap)
    c
  }

  test("alternating two dirs builds each ONCE — the r13 listener thrash " +
      "shape") {
    val released = collection.mutable.Buffer.empty[Int]
    val c = cache(cap = 4, released)
    val a1 = c.get(spark, "dirA")
    val b1 = c.get(spark, "dirB")
    // ten alternating flips: zero further builds, stable artifacts
    for (_ <- 1 to 5) {
      assert(c.get(spark, "dirA") == a1)
      assert(c.get(spark, "dirB") == b1)
    }
    assert(c.buildCount == 2)
    assert(released.isEmpty)
  }

  test("eviction past the cap releases the LEAST-recently-used entry of " +
      "the evicting session") {
    val released = collection.mutable.Buffer.empty[Int]
    val c = cache(cap = 2, released)
    val a = c.get(spark, "dirA") // LRU order: A
    c.get(spark, "dirB")         // A B
    c.get(spark, "dirA")         // B A  (re-access refreshes position)
    c.get(spark, "dirC")         // A C  — B evicted+released, not A
    assert(released.toList == List(a + 1)) // B was the 2nd build
    assert(c.get(spark, "dirA") == a) // A survived the eviction
    assert(c.buildCount == 3)
  }

  test("a distinct session is a distinct key; its eviction drops without " +
      "releasing (checkpoints die with their own session)") {
    val released = collection.mutable.Buffer.empty[Int]
    val c = cache(cap = 2, released)
    val other = spark.newSession()
    val a = c.get(spark, "dirA")
    val a2 = c.get(other, "dirA") // same dir, different session: rebuilt
    assert(a != a2 && c.buildCount == 2)
    // filling from `spark` evicts the `other` session's entry first —
    // dropped, NOT released through the foreign session
    c.get(spark, "dirA") // refresh: other's entry is now LRU head
    c.get(spark, "dirB") // evicts other's entry
    assert(released.isEmpty)
    // next eviction is spark's own dirA — released
    c.get(spark, "dirC")
    assert(released.toList == List(a))
  }

  test("withArtifact pins the entry across the consumer's read (r14 " +
      "advice): eviction by a concurrent get cannot release it " +
      "mid-plan, and a reentrant second get never evicts the pinned " +
      "key") {
    val released = collection.mutable.Buffer.empty[Int]
    val c = cache(cap = 2, released)
    val a = c.get(spark, "dirA")
    // the consumer's whole read runs inside the cache lock: a
    // concurrent thread's overflowing get BLOCKS until f returns, so
    // the artifact cannot be released underneath the plan. Simulated
    // single-threadedly by asserting the lock is held (the monitor is
    // this cache instance) while f runs.
    val r = c.withArtifact(spark, "dirA") { v =>
      assert(Thread.holdsLock(c))
      assert(v == a)
      // the q282 shape: ONE reentrant get of a second key from inside
      // f. The pinned key was just re-inserted at the tail, so with
      // cap >= 2 a single additional insert can never reach it (the
      // contract is ONE extra same-cache get — a second one could
      // walk the eviction up to the pin).
      c.get(spark, "dirB")
      assert(!released.contains(a))
      v * 10
    }
    assert(r == a * 10)
    // outside the lock again
    assert(!Thread.holdsLock(c))
    // dirA is still resident (no rebuild)
    val before = c.buildCount
    assert(c.get(spark, "dirA") == a)
    assert(c.buildCount == before)
  }

  test("withArtifact rejects a lazy DataFrame result, naming the cache") {
    import graft.Cut.CutOps
    val c = new graft.DirCache[String, org.apache.spark.sql.DataFrame](
      (s: SparkSession, _: String) => s.range(5).toDF("id").cut(true),
      graft.operators.Graph.release, name = "lazySpec")
    try {
      val e = intercept[IllegalStateException](
        c.withArtifact(spark, "d")(_.filter("id > 1")))
      assert(e.getMessage.contains("lazySpec"))
      // eager results pass: a cut, and a driver-local relation
      assert(c.withArtifact(spark, "d")(_.filter("id > 1").cut(true))
        .count() == 3)
      import spark.implicits._
      assert(c.withArtifact(spark, "d")(df => Seq(df.count()).toDF())
        .head().getLong(0) == 5)
    } finally c.clearSession(spark)
  }

  test("a former one-slot artifact alternating two data dirs builds " +
      "each ONCE (BPE merge lists)") {
    // a fresh session: the shared suite session may already hold them
    val s = spark.newSession()
    val bpe = PipelineQueries.BpeModels
    val before = bpe.cache.buildCount
    try {
      val small = bpe.trained(s, sf("sf0.001"))
      val large = bpe.trained(s, sf("sf0.01"))
      for (_ <- 1 to 3) {
        assert(bpe.trained(s, sf("sf0.001")) eq small)
        assert(bpe.trained(s, sf("sf0.01")) eq large)
      }
      assert(bpe.cache.buildCount - before == 2)
    } finally graft.ArtifactCaches.clearAll(s)
  }
}
