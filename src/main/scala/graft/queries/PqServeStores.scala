package graft.queries

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.ops.PqIndexStore

/** Process-level cache of the persisted IVF-PQ index the two serve
  * queries ([[PipelineQueries.pqIndexServe]] /
  * [[PipelineQueries.pqFilteredServe]]) answer from — the tier-cache
  * convention ([[graft.planner.MaterializedTiers]]) applied to the
  * vector store.
  *
  * Why: on a deployment the index is built at INGEST time and every
  * query serves from the already-persisted codes — build cost is
  * amortized over the index lifetime, exactly like the rollup tiers.
  * The round-12 bench rows instead re-trained a full index per timed
  * invocation (full-corpus Lloyd + m codebook trainings, each its own
  * Spark job), which measured the training scheduler, not the serve
  * path, and was the artifact's largest variance source (38.6 s median
  * / 89.9 s max on a 2,000-vector table). Building once per
  * (session, sfDir) and serving across repeats restores what the row
  * is meant to measure. Bench pre-builds in its tier-build phase so
  * even the first timed repeat is a pure serve; Verify builds lazily
  * on first use (its one-shot runs are untimed).
  *
  * Results are unchanged by construction: training is
  * bit-deterministic for a fixed corpus and config (spec-pinned:
  * PqIndexStoreSpec "cached serve store equals a fresh build"), the
  * version stamp never enters a result row, and both serve rows read
  * the store immutably (no audits, appends, or retrains) — so one
  * store can back both queries.
  *
  * Config stays the replayable legacy pin (sampleInit = false,
  * trainCap = 0): the oracle rows were recorded against it and
  * exactness at the exhaustive nprobe/rerank holds either way; the
  * scale-safe AUTO defaults are exercised by the non-store rows and
  * the store's own spec.
  *
  * Keyed by the session OBJECT via WeakHashMap (the MaterializedTiers
  * convention — identity hashes can collide across session churn),
  * then by sfDir: the bench warms at sf0.001 and times at sf0.1, and
  * the two must never share an index.
  *
  * Weak keying alone cannot reclaim entries (the MaterializedTiers
  * rule): a cached PqIndexStore strongly references its SparkSession
  * key, so the value pins the key. Lifecycle is therefore explicit —
  * one context-end listener per SparkContext clears the whole map
  * (ADVICE r13), [[invalidate]] retires a session early, and a JVM
  * shutdown hook recursively deletes the temp store dirs (File
  * .deleteOnExit would be a silent no-op on a non-empty directory).
  */
object PqServeStores {

  private val stores = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, PqIndexStore]]())

  // one cleanup listener per SparkContext, NOT per entry (a per-entry
  // listener would close over its session and pin it on the bus)
  private val hooked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def perSession(spark: SparkSession) = {
    val sc = spark.sparkContext
    if (hooked.putIfAbsent(sc, java.lang.Boolean.TRUE) == null)
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          stores.synchronized { stores.clear() }
      })
    stores.synchronized {
      var m = stores.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, PqIndexStore]
        stores.put(spark, m)
      }
      m
    }
  }

  /** The built store for (session, sfDir) — builds on first call,
    * serves from the same on-disk index thereafter. */
  def ensure(spark: SparkSession, sfDir: String): PqIndexStore =
    perSession(spark).getOrElseUpdate(sfDir, {
      val base = java.nio.file.Files.createTempDirectory("graft_pq_serve")
      // recursive delete at JVM exit — deleteOnExit only removes EMPTY
      // dirs, and the store writes quantizer/codes parquet beneath
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.sources.TierStore.deleteTree(base.toFile)))
      val store = new PqIndexStore(spark, base.toString, nlist = 16, m = 8,
        ksub = 16, sampleInit = false, trainCap = 0)
      store.build(Tables.embeddings(spark, sfDir))
      store
    })

  /** Drop a session's cached stores (tests that need a fresh build). */
  def invalidate(spark: SparkSession): Unit =
    stores.synchronized { stores.remove(spark); () }
}
