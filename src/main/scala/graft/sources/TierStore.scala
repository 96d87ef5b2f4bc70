package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Persistent tier storage: one parquet table per (kind, resolution),
  * date-partitioned on the bucket's UTC day (reference keeps one
  * Cassandra table per kind×resolution with metric as partition key —
  * store/BucketStore.scala:66-71, store/SummaryStore.scala:73).
  *
  * Scale design:
  *  - `bucket_date` partitioning → time-range predicates prune whole
  *    partitions at the file listing, before any I/O; within a
  *    partition, parquet row-group stats on `bucket_start` skip pages.
  *  - retention = partition drops (the reference's per-tier TTL —
  *    reference.conf:22-47): deleting a day directory is O(1) metadata,
  *    no compaction or tombstones at any scale.
  *  - writes append per closed bucket window, so files arrive in
  *    date-partition order and never rewrite old partitions.
  */
class TierStore(spark: SparkSession, baseDir: String) {

  def path(kind: String, durationMs: Long): String = s"$baseDir/${kind}_$durationMs"

  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("bucket_date", TierStore.utcDate(col("bucket_start")))

  /** Append tier rows (metric, bucket_start, payload…) date-partitioned.
    * Rows are shuffled onto their date before the write so each date
    * directory gets one file per shuffle partition that actually holds
    * that date (for tier tables — post-aggregation rows of a few hundred
    * bytes — that is one file), instead of every write task spraying a
    * sliver into every date. Small-file counts are what kill both this
    * write and every later read's file listing; at larger volumes the
    * shuffle partition count bounds per-task file size as usual.
    *
    * A table written by a pre-partitioning version of this store (flat
    * parquet files at the directory top level) is migrated in place on
    * first append: appending partitioned files next to flat ones would
    * break partition discovery for every subsequent reader. */
  def append(kind: String, durationMs: Long, tier: DataFrame): Unit = {
    migrateFlatLayout(kind, durationMs)
    val dated = withDate(tier)
    dated.repartition(col("bucket_date")).write
      .mode(SaveMode.Append)
      .partitionBy("bucket_date")
      .parquet(path(kind, durationMs))
    TierStore.writeSchema(path(kind, durationMs), dated.schema)
  }

  /** One-time upgrade of a legacy flat tier table (no bucket_date
    * partitions) to the date-partitioned layout. Crash-safe swap: the
    * rewrite lands in a sibling `__migrating` dir, the original is
    * RENAMED aside (never deleted before the new dir is in place), and
    * only then removed — a crash at any point leaves the data intact
    * under exactly one of the three names, and the recovery branch at
    * the top restores a half-finished swap on the next call. No-op when
    * the dir is absent or already partitioned. Returns true when a
    * migration ran. */
  def migrateFlatLayout(kind: String, durationMs: Long): Boolean = {
    val p = path(kind, durationMs)
    val dir = new java.io.File(p)
    val old = new java.io.File(p + "__old")
    TierStore.recoverSwap(dir, old)
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    val flat = files.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (flat.isEmpty) return false
    val partitioned = files.exists(f => f.isDirectory && f.getName.startsWith("bucket_date="))
    require(!partitioned,
      s"$p mixes flat parquet files with bucket_date= partitions; " +
        "refusing to proceed — remove or migrate the flat files")
    val tmp = new java.io.File(p + "__migrating")
    deleteRecursively(tmp)
    deleteRecursively(old)
    withDate(spark.read.parquet(flat.map(_.getPath): _*))
      .repartition(col("bucket_date")).write
      .partitionBy("bucket_date").parquet(tmp.getPath)
    TierStore.swapInto(dir, tmp, old)
    spark.catalog.refreshByPath(p)
    println(s"[graft] migrated flat tier table to date partitions: $p (${flat.size} files)")
    true
  }

  /** Read a slice; the date filter is derived from the time range so
    * partition pruning applies (visible as PartitionFilters in the
    * scan). */
  def slice(kind: String, durationMs: Long, fromMs: Long, toMs: Long,
            metric: Option[String] = None): DataFrame = {
    val range = col("bucket_date").between(
        lit(TierStore.utcDateOf(fromMs)), lit(TierStore.utcDateOf(toMs))) &&
      col("bucket_start").between(fromMs, toMs)
    relation(path(kind, durationMs))
      .where(metric.fold(range)(m => range && col("metric") === m)).drop("bucket_date")
  }

  /** Full-table read (cascade builds; queries should use [[slice]]). */
  def readAll(kind: String, durationMs: Long): DataFrame =
    relation(path(kind, durationMs)).drop("bucket_date")

  /** The base relation of each table read, kept with the table's
    * [[TierStore.fingerprint]] at the time it was built. Building one
    * (data source lookup, file listing, Hadoop configuration copy) costs
    * several times what a point read then does, so it is reused while
    * the fingerprint holds: any append, compaction, retention drop,
    * migration or swap, by this store or another writer, changes it. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, (TierStore.Fingerprint, DataFrame)]()

  private def relation(p: String): DataFrame = {
    val seen = TierStore.fingerprint(p)
    relations.compute(p, (_, cached) =>
      if (cached != null && cached._1 == seen) cached else (seen, TierStore.read(spark, p)))._2
  }

  /** Retention: drop partitions older than ttl (reference applies TTL
    * per tier — buckets 6h, summaries 15d/30d/90d). Returns dropped
    * partition dirs. */
  def enforceRetention(kind: String, durationMs: Long, ttlMs: Long,
                       nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochMilli(nowMs - ttlMs), java.time.ZoneOffset.UTC)
    TierStore.dropPartitionsBefore(new java.io.File(path(kind, durationMs)), cutoff)
  }

  /** Compact date partitions that have accumulated many small files —
    * the streaming cascade appends one file per increment per date, so
    * a 30 s-cadence deployment writes ~2880 slivers into each day's
    * partition; file listings (and open() counts) are what degrade
    * first at scale. Partitions with more than `maxFiles` data files
    * are rewritten to one file (tier rows are a few hundred bytes
    * post-aggregation — a compacted day is well under one HDFS block;
    * adjust upstream if a kind ever outgrows that). Maintenance-window
    * op like [[enforceRetention]]: a concurrent reader can catch a
    * partition between the two renames; a CRASH, however, never loses
    * data — every partition survives under exactly one of its three
    * names and the recovery branch restores it on the next call.
    * Returns the compacted partition names. */
  def compact(kind: String, durationMs: Long, maxFiles: Int = 4): Seq[String] = {
    val tablePath = path(kind, durationMs)
    val root = new java.io.File(tablePath)
    if (!root.exists()) return Nil
    // staging roots live OUTSIDE the table dir so partition discovery
    // never sees a half-written partition, even mid-compaction
    val tmpRoot = new java.io.File(tablePath + "__compact_new")
    val oldRoot = new java.io.File(tablePath + "__compact_old")
    // recovery: restore any partition a crashed run left moved-aside
    Option(oldRoot.listFiles()).toSeq.flatten.foreach { moved =>
      TierStore.recoverSwap(new java.io.File(root, moved.getName), moved)
    }
    deleteRecursively(tmpRoot)
    deleteRecursively(oldRoot)
    val todo = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bucket_date="))
      .filter(_.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")) > maxFiles)
    todo.foreach { p =>
      val tmp = new java.io.File(tmpRoot, p.getName)
      val old = new java.io.File(oldRoot, p.getName)
      oldRoot.mkdirs()
      spark.read.parquet(p.getPath).coalesce(1).write.parquet(tmp.getPath)
      TierStore.swapInto(p, tmp, old)
    }
    deleteRecursively(tmpRoot)
    deleteRecursively(oldRoot)
    if (todo.nonEmpty) spark.catalog.refreshByPath(tablePath)
    todo.map(_.getName)
  }

  private def deleteRecursively(f: java.io.File): Unit = TierStore.deleteTree(f)
}

object TierStore {

  /** Schema sidecar file name; the underscore prefix keeps it out of
    * parquet file listings. */
  val SchemaSidecar = "_graft_schema.json"

  /** Record a table's schema (partition column included) next to its
    * files. Reads that supply it skip parquet schema inference, which
    * otherwise runs a Spark job over the file footers on every read, and
    * on a streaming sink may open a file that retention has deleted but
    * the sink's `_spark_metadata` log still names. Atomic replace: the
    * JSON lands in a temp file of the same directory and is renamed over
    * the sidecar, so a write killed midway never leaves truncated JSON
    * for readers to fail on. Rewritten only when the schema changes. */
  def writeSchema(dir: String, schema: StructType): Unit = {
    val nullable = StructType(schema.map(_.copy(nullable = true)))
    if (!readSchema(dir).contains(nullable)) {
      val p = Paths.get(dir, SchemaSidecar)
      Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(SchemaSidecar + ".tmp")
      Files.write(tmp, nullable.json.getBytes(UTF_8))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The sidecar schema of a table, if one has been written. */
  def readSchema(dir: String): Option[StructType] = {
    val p = Paths.get(dir, SchemaSidecar)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(new String(Files.readAllBytes(p), UTF_8)).asInstanceOf[StructType])
  }

  private type Fingerprint = (Long, Seq[(String, Long, Seq[String])])

  /** The table dir's mtime and, per top-level entry (partition dirs,
    * sidecar), its name, mtime and child names: the file set a reader
    * of the table lists. */
  private def fingerprint(dir: String): Fingerprint = {
    val root = new java.io.File(dir)
    (root.lastModified, Option(root.listFiles).toSeq.flatten.sortBy(_.getName)
      .map(f => (f.getName, f.lastModified, Option(f.list).toSeq.flatten.sorted)))
  }

  /** Read a parquet table with its sidecar schema; a table written
    * before sidecars existed falls back to schema inference. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readSchema(dir).fold(spark.read)(spark.read.schema).parquet(dir)

  /** Delete a file tree; no-op when absent. */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  /** THE per-path JVM lock registry: one monitor per normalized
    * absolute path, shared by every store that needs to serialize a
    * read-modify-write or staged-publish critical section against
    * other threads of this driver (PqIndexStore audits,
    * CurationMetrics publishes, …). Keeping the registry — and its
    * one normalization rule — in a single place is the point: two
    * spellings of one path must map to one monitor. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def pathLock(dir: String): Object =
    pathLocks.computeIfAbsent(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** Recovery half of the three-name swap protocol: a crashed run can
    * leave the data moved aside at `old` with nothing at `dst` — put it
    * back. Call before inspecting `dst`. */
  def recoverSwap(dst: java.io.File, old: java.io.File): Unit =
    if (old.exists() && !dst.exists()) {
      require(old.renameTo(dst), s"could not restore $old to $dst after crash")
      ()
    }

  /** Commit half of the three-name swap: `dst` is RENAMED aside to
    * `old` (never deleted before the replacement is in place), the
    * freshly-written `tmp` takes its name, and only then is `old`
    * dropped. A failed second rename rolls `old` back, so a crash at
    * any point leaves the data intact under exactly one name —
    * [[recoverSwap]] restores it on the next call. The ONE swap
    * implementation behind store compaction, tier-partition compaction,
    * and flat-layout migration: protocol fixes land here once. */
  def swapInto(dst: java.io.File, tmp: java.io.File, old: java.io.File): Unit = {
    require(dst.renameTo(old), s"could not move $dst aside for swap")
    if (!tmp.renameTo(dst)) {
      old.renameTo(dst) // roll back
      throw new IllegalStateException(s"could not move $tmp into place at $dst")
    }
    deleteTree(old)
  }

  /** Drop `bucket_date=` partition dirs strictly before `cutoff` (the
    * single implementation behind every retention path — tier tables
    * and raw streaming sinks must agree on naming and semantics). */
  def dropPartitionsBefore(dir: java.io.File, cutoff: java.time.LocalDate): Seq[String] = {
    if (!dir.exists()) return Nil
    val dropped = dir.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bucket_date="))
      .filter(f => java.time.LocalDate
        .parse(f.getName.stripPrefix("bucket_date=")).isBefore(cutoff))
    dropped.foreach(deleteTree)
    dropped.map(_.getName)
  }
  /** The bucket's UTC day as pure epoch-day arithmetic — deliberately
    * NOT `to_date(timestamp_millis(...))`, which renders in the session
    * time zone: a non-UTC session would shift rows across partition
    * boundaries and disagree with [[TierStore.enforceRetention]]'s UTC
    * cutoff (and with readers running in yet another zone). */
  def utcDate(bucketStartMs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      floor(bucketStartMs / lit(86400000L)).cast("int"))

  /** Driver-side twin of [[utcDate]] for literal filter bounds. */
  def utcDateOf(ms: Long): java.sql.Date =
    java.sql.Date.valueOf(
      java.time.LocalDate.ofInstant(java.time.Instant.ofEpochMilli(ms),
        java.time.ZoneOffset.UTC))
}
