package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query in [[graft.SparkEntry]] takes `(spark, sfDir)` and reads
  * from these. At 100 TB these would be partitioned directory trees; the
  * loaders centralize the access so swapping layout means one change.
  */
object Tables {
  private val names = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Cross-engine-stable 6-decimal truncation: floor(x·1e6)/1e6. Unlike
    * round(), bit-identical across Spark and DuckDB for the same double
    * input (half-way rounding modes differ between engines). ONE shared
    * definition for every ops module — the truncation scheme is oracle
    * contract, and four drifting private copies was a review finding. */
  private[ops] def trunc6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.floor(c * 1000000.0) / 1000000.0

  /** Per-process memo for shared derived relations, keyed by
    * (relation, session, data dir). A real 100 TB curation pipeline
    * materializes its index relations (shingles, signatures, normed
    * vectors, cluster assignments) ONCE per run as tables and every
    * report reads them; rebuilding them per report query multiplies the
    * most expensive derivations in the engine by their consumer count.
    * Values are localCheckpoint'ed: materialized eagerly as pinned RDD
    * blocks that survive `spark.catalog.clearCache()` (they are not
    * SQL-cache entries) and are never ContextCleaner-collected while
    * this map strongly references them. Keying by session makes test
    * isolation automatic; the data dir is assumed immutable for the
    * life of a session — the same assumption every parquet scan makes.
    *
    * Recoverability boundary (round-6 advice): localCheckpoint blocks
    * are NOT recomputable after executor loss — acceptable in this
    * single-JVM harness, where losing the executor IS losing the
    * process. On a cluster the durable form of every relation in this
    * cache is a persisted bucketed table ([[IndexTables]]): survives
    * any executor, shared across sessions, and its bucket layout —
    * not pinned blocks — is what makes the consumers exchange-free.
    * The memo layer is the hot-path accelerator; the table is the
    * recovery story.
    *
    * NOT computeIfAbsent: memoized relations derive from each other
    * (ngramComponents → shinglePairStats → shingles), and a nested
    * computeIfAbsent on one ConcurrentHashMap is a documented
    * recursive-update hazard — it threw IllegalStateException
    * intermittently (bin-collision-dependent) in full bench runs.
    * Build OUTSIDE any map lock; a concurrent race builds twice and
    * putIfAbsent keeps the first — both are equivalent checkpoints,
    * the loser is just unreferenced blocks the ContextCleaner reaps. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String), DataFrame]()

  /** Resolved Parquet schema of each input table, keyed like [[relCache]]
    * — (table, session, data dir) — plus the session's values of the
    * confs that steer Parquet schema inference, so a conf change (say
    * `spark.sql.legacy.parquet.nanosAsLong`) re-infers instead of
    * serving a stale schema. Only the schema is cached, never the
    * DataFrame: every [[load]] builds a fresh relation with new
    * expression ids and a fresh file listing, so self-joins stay
    * unambiguous and appended files are seen, but no schema-inference
    * job runs after the first load. Entries share the memo's lifecycle:
    * [[evictStopped]], [[invalidate]] and [[invalidateDir]] drop them
    * with the relations. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, SparkSession, String, Seq[Option[String]]), StructType]()

  /** The SQL confs Spark's Parquet schema inference reads. */
  private val parquetInferenceConfs = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled")

  private[ops] def memoized(rel: String, s: SparkSession, dir: String)
                           (build: => DataFrame): DataFrame = {
    evictStopped()
    val key = (rel, s, dir)
    val existing = relCache.get(key)
    if (existing != null && checkpointHealthy(existing)) existing
    else {
      // either first build, or the cached checkpoint LOST blocks behind
      // our back (an unpersist we didn't issue; on a cluster, a dead
      // executor) — a localCheckpoint has no lineage to recompute from,
      // so every consumer of the stale entry would fail at action time.
      // Drop the husk, eagerly free whatever partitions SURVIVED (a
      // partial executor loss leaves live blocks that would otherwise
      // stay pinned until the ContextCleaner reaps the husk), and
      // rebuild; the loser of a concurrent rebuild race is unreferenced
      // blocks the ContextCleaner reaps (round-8, closing the round-6
      // recoverability advice).
      if (existing != null) {
        relCache.remove(key, existing)
        try unpersistCheckpoint(existing) catch { case _: Exception => () }
      }
      // DISK_ONLY, not the default MEMORY_AND_DISK (round-14, closing the
      // r13 bench regression): the memo holds tens of relations for the
      // life of the process, and deserialized heap blocks (a) squeeze the
      // unified-memory region every other query shuffles in, and (b) make
      // every full GC walk a large tenured object graph — measured as a
      // uniform ~+0.4-0.6 s tax on UNRELATED carried queries once the
      // r13 relations landed. The scratch dir is RAM-backed tmpfs
      // (Scratch.scala), so "disk" blocks still read at memory bandwidth;
      // consumers pay one deserialization per read, which benchmarks as
      // noise next to the reclaimed execution memory. On a real cluster
      // this maps to executors' NVMe-backed block storage — same
      // reasoning: pinned index relations do not belong in the heap that
      // prices every shuffle.
      val built = build.localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val prev = relCache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** A cached checkpoint is reusable only while every partition's
    * block survives — storage level stripped or any block gone means
    * the entry is a husk that can only throw. Non-LogicalRDD shapes
    * (never produced by [[memoized]], but harmless) count as healthy. */
  private def checkpointHealthy(df: DataFrame): Boolean =
    org.apache.spark.sql.graftshim.GraftShim.analyzed(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftshim.GraftShim.allBlocksPresent(lr.rdd)
      case _ => true
    }

  /** Drop cache entries whose session is stopped: their checkpoint
    * blocks died with the executor backend, and the strong map
    * reference would otherwise pin the stopped session's whole object
    * graph for the life of the process (a long-lived server or a test
    * harness cycling sessions grows the map monotonically). Blocks
    * can't be unpersisted through a stopped context — dropping the
    * reference is the whole cleanup. Runs on every [[memoized]] and
    * [[load]] call; the maps hold O(tables × live sessions) entries,
    * so the sweep is trivially cheap. `stopped` is the eviction test,
    * a parameter only so a spec can sweep a live session. */
  private[ops] def evictStopped(
      stopped: SparkSession => Boolean = _.sparkContext.isStopped): Unit = {
    forget((s, _) => stopped(s)); ()
  }

  /** Remove every schema and relation entry whose (session, dir)
    * matches `drop`, unpersisting the relations' checkpoint blocks
    * while their session is alive. Returns the relations released. */
  private def forget(drop: (SparkSession, String) => Boolean): Int = {
    schemaCache.keySet().removeIf(k => drop(k._2, k._3))
    val it = relCache.entrySet().iterator()
    var n = 0
    while (it.hasNext) {
      val e = it.next()
      val (_, s, dir) = e.getKey
      if (drop(s, dir)) {
        it.remove(); n += 1
        if (!s.sparkContext.isStopped)
          try unpersistCheckpoint(e.getValue) catch { case _: Exception => () }
      }
    }
    n
  }

  /** Release every memoized relation and resolved schema belonging to
    * `s`: evict the map entries and UNPERSIST the backing checkpoint
    * blocks (eagerly, not waiting for the ContextCleaner — a long-lived
    * session that has finished a curation run gets its executor memory
    * back NOW). Wired to the service tier's graceful shutdown; safe to
    * call at any time: the next [[memoized]] or [[load]] call simply
    * rebuilds, and a concurrent query already holding a released
    * DataFrame recomputes from lineage-free blocks... which are gone —
    * so callers must not race invalidate with in-flight queries on the
    * same session (the server calls it after quiescing its HTTP
    * executor). Returns the number of relations released. */
  def invalidate(s: SparkSession): Int = forget((owner, _) => owner eq s)

  /** CACHE COHERENCE ON STORE MUTATION: the memo layer's stated
    * contract is that a key's data dir is immutable for the life of a
    * session — true for every parquet scan of the test tables, and
    * violated by exactly one thing in the engine: the row-level purge
    * ([[graft.storage.ManifestLog.rewriteExcluding]]), which is the first
    * in-store MUTATOR. Without this hook a long-lived serving process
    * that purges and then reads a memoized derived relation keeps
    * serving the purged rows until restart — a right-to-be-forgotten
    * hole at the cache layer. The purge calls this with its store
    * root after a successful swap. A caller that rewrites an
    * input table in place must call it too, so the next [[load]]
    * re-infers the table's schema.
    *
    * Scope: every entry whose key dir OVERLAPS the mutated dir (equal,
    * contains it, or is contained by it — a relation memoized over a
    * parent dir can transitively derive from the mutated store), in
    * EVERY session (the mutation is to shared storage, not to one
    * session's view). Compaction does NOT invalidate: its rewrite is
    * bag-equal by contract, so memoized VALUES stay correct and the
    * checkpoint blocks hold rows, not file references. Returns the
    * relations dropped. */
  def invalidateDir(dir: String): Int = {
    def norm(p: String): String = {
      val u = new org.apache.hadoop.fs.Path(p).toUri.getPath
      if (u.length > 1 && u.endsWith("/")) u.dropRight(1) else u
    }
    val d = norm(dir)
    forget { (_, other) =>
      val o = norm(other)
      o == d || o.startsWith(d + "/") || d.startsWith(o + "/")
    }
  }

  /** A localCheckpoint'ed DataFrame's plan is a LogicalRDD over the
    * materialized (persisted) RDD — unpersist that RDD to free its
    * blocks. Non-LogicalRDD plans (nothing to release) are a no-op. */
  private[ops] def unpersistCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.graftshim.GraftShim.analyzed(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Read input table `name` under `dir`. The first load per session
    * (and set of inference confs) infers the schema, which costs a
    * Spark job; later loads read with that schema — see
    * [[schemaCache]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    evictStopped()
    val path = s"$dir/$name.parquet"
    val key = (name, spark, dir, parquetInferenceConfs.map(spark.conf.getOption))
    val resolved = schemaCache.get(key)
    if (resolved != null) spark.read.schema(resolved).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, df.schema)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver
    * regenerations of the test data — TIMESTAMP(NANOS) in earlier
    * rounds (readable only as a long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`), plain TIMESTAMP(µs)
    * now. Normalize every layout to a session-zone TimestampType
    * column so downstream queries and the DuckDB oracle agree on
    * instants regardless of which generation is on disk:
    *  - LongType (nanos-as-long): floor-divide to µs — the data is
    *    µs-aligned, so this is lossless;
    *  - TIMESTAMP_NTZ (µs, not UTC-adjusted): cast to TimestampType;
    *    with the harness-wide UTC session zone the naive values are
    *    reinterpreted as the same UTC instants DuckDB sees;
    *  - TimestampType: already the target shape. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // A silent pass-through here let an unexpected type (e.g.
        // StringType from a bad regeneration, or NANOS read without the
        // legacy conf surfacing Spark's raw PARQUET_TYPE_ILLEGAL) reach
        // downstream timestamp arithmetic — fail with the fix instead.
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected TIMESTAMP(µs)/" +
          "TIMESTAMP_NTZ, or a NANOS file read as LongType via " +
          "spark.sql.legacy.parquet.nanosAsLong=true")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` can be used.
    * `events` routes through [[events]] so the SQL interface sees the
    * same normalized TimestampType `ts` as every DataFrame-path
    * consumer (a raw load would expose TIMESTAMP_NTZ to SQL only). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
