package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
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
  *  - every write is staged, then published: a frame holding any
  *    number of a kind's tiers (a `tier` column of durations) is
  *    written once, partitioned by (tier, bucket_date), into a staging
  *    dir beside the tables, and its files are then moved into each
  *    tier's date partitions ([[stage]], [[publish]]). Files arrive in
  *    date-partition order and old partitions are never rewritten;
  *    each (tier, date) gets one file per write.
  *  - a kind's commit record ([[commit]]) names the staged increment
  *    with every tier's new cursor before any file moves, so an
  *    increment is published exactly once across a crash.
  */
class TierStore(spark: SparkSession, baseDir: String) {
  import TierStore.{CommitRecord, StageSuffix}

  def path(kind: String, durationMs: Long): String = s"$baseDir/${kind}_$durationMs"

  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("bucket_date", TierStore.utcDate(col("bucket_start")))

  /** Append one tier's rows (metric, bucket_start, payload…): the
    * one-tier case of [[write]]. */
  def append(kind: String, durationMs: Long, tier: DataFrame): Unit =
    write(kind, Seq(durationMs), tier.withColumn("tier", lit(durationMs)))

  /** Stage, then publish, the rows of `tiers` (metric, bucket_start,
    * payload…, tier) into tables `kind` × `tiers`. */
  def write(kind: String, tiers: Seq[Long], rows: DataFrame): Unit =
    publish(kind, stage(kind, tiers, rows))

  /** Step 1 of a write: every row of `rows` (metric, bucket_start,
    * payload…, tier) in one Parquet write, into a fresh staging dir of
    * this store's base; returns its id. Rows are shuffled onto their
    * (tier, date) before the write, into one partition per core, so
    * each (tier, date) gets exactly one file (tier rows are a few
    * hundred bytes post-aggregation; one file is enough), instead of
    * every write task spraying a sliver into every date. The explicit
    * partition count keeps adaptive execution from coalescing the
    * shuffle into one task, so a many-day write (a RollupJob tier: one
    * file per day) runs on every core. Small-file counts are what kill
    * both this write and every later read's file listing.
    *
    * A table written by a pre-partitioning version of this store (flat
    * parquet files at the directory top level) is migrated in place
    * first: partitioned files next to flat ones would break partition
    * discovery for every subsequent reader.
    *
    * A table keeps one schema: a column a table of `tiers` already
    * holds is up-cast to the stored type, and a write that would need
    * a lossy cast, for any of the tables, is refused, since readers
    * read every file with the one sidecar schema.
    *
    * The staging dir holds one `tier=` dir per tier of `tiers`, rows or
    * not, and last the sidecar schema its tables take, which marks the
    * stage complete. */
  private[graft] def stage(kind: String, tiers: Seq[Long], rows: DataFrame): String = {
    tiers.foreach(migrateFlatLayout(kind, _))
    val dated = tiers.foldLeft(withDate(rows))((df, d) => conform(path(kind, d), df))
    val id = java.util.UUID.randomUUID().toString
    val dir = stagingDir(kind, id)
    dated.repartition(spark.sparkContext.defaultParallelism, col("tier"), col("bucket_date"))
      .write.partitionBy("tier", "bucket_date").parquet(dir.toString)
    tiers.foreach(d => Files.createDirectories(dir.resolve(s"tier=$d")))
    TierStore.writeSchema(dir.toString, dated.drop("tier").schema)
    id
  }

  /** Step 2 of a streaming increment: atomically replace `kind`'s commit
    * record with the staged increment `id` and every tier's cursor. From
    * here on the increment is committed: its cursors are the ones read,
    * and [[recover]] publishes it if [[publish]] did not finish. */
  private[graft] def commit(kind: String, id: String, cursors: Map[Long, Long]): Unit =
    TierStore.replace(Paths.get(baseDir, CommitRecord + kind),
      (s"stage $id" +: cursors.toSeq.sorted.map { case (d, c) => s"$d $c" }).mkString("\n"))

  /** `kind`'s commit record: the last committed staging id and every
    * tier's cursor; None before the first commit. */
  private[graft] def committed(kind: String): Option[(String, Map[Long, Long])] =
    TierStore.readCommit(Paths.get(baseDir, CommitRecord + kind))

  /** Step 3 of a write: move each staged file into its table's date
    * partition, write each table's sidecar, then delete the staging dir.
    * Idempotent: a move already done left nothing behind to move again,
    * and a dir whose sidecar is gone was already published and is only
    * being deleted. Every staged tier's table dir exists afterwards, so
    * readers see exactly what a per-table append left. */
  private[graft] def publish(kind: String, id: String): Unit = {
    val dir = stagingDir(kind, id)
    TierStore.readSchema(dir.toString).foreach { schema =>
      TierStore.children(dir).filter(_.getFileName.toString.startsWith("tier=")).foreach { t =>
        val table = Paths.get(path(kind, t.getFileName.toString.stripPrefix("tier=").toLong))
        TierStore.children(t).foreach { date =>
          val dst = Files.createDirectories(table.resolve(date.getFileName))
          TierStore.children(date).foreach { f =>
            Files.move(f, dst.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
          }
        }
        TierStore.writeSchema(Files.createDirectories(table).toString, schema)
      }
    }
    deleteRecursively(dir.toFile)
  }

  /** Crash recovery for `kind`, before its next stage: finishes
    * publishing the increment its commit record names, and deletes
    * every other staging dir of `kind`, which no record ever named. */
  private[graft] def recover(kind: String): Unit = {
    val pending = committed(kind).map(_._1)
    TierStore.children(Paths.get(baseDir))
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(s"$kind.") && n.endsWith(StageSuffix))
      .map(_.stripPrefix(s"$kind.").stripSuffix(StageSuffix))
      .foreach(id => if (pending.contains(id)) publish(kind, id)
                     else deleteRecursively(stagingDir(kind, id).toFile))
  }

  private def stagingDir(kind: String, id: String): Path =
    Paths.get(baseDir, s"$kind.$id$StageSuffix")

  /** `rows` with every column the table at `p` already holds cast to its
    * stored type: the sidecar's, or for a table written before sidecars
    * existed, the inferred one. */
  private def conform(p: String, rows: DataFrame): DataFrame = {
    val hasFiles = Option(new java.io.File(p).list).exists(_.exists(_.startsWith("bucket_date=")))
    val stored = TierStore.readSchema(p)
      .orElse(if (hasFiles) Some(spark.read.parquet(p).schema) else None)
      .fold(Map.empty[String, DataType])(_.map(f => f.name -> f.dataType).toMap)
    rows.select(rows.schema.map { f =>
      stored.get(f.name).filter(_ != f.dataType) match {
        case Some(to) if Cast.canUpCast(f.dataType, to) => col(f.name).cast(to).as(f.name)
        case Some(to) => throw new IllegalArgumentException(
          s"$p stores column ${f.name} as ${to.sql}; refusing to append it as ${f.dataType.sql}")
        case None => col(f.name)
      }
    }: _*)
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
    if (!readSchema(dir).contains(nullable)) replace(Paths.get(dir, SchemaSidecar), nullable.json)
  }

  /** Atomic replace of a small file: `text` lands in a `.tmp` sibling
    * that is renamed over `p`, so a write killed midway leaves only the
    * temp file, never a truncated `p` for readers to trust. */
  private[graft] def replace(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Name prefix of a kind's commit record in a store's base dir. */
  private val CommitRecord = "_commit_"

  /** Name suffix of a staging dir (`<kind>.<id>.__stage`). */
  private val StageSuffix = ".__stage"

  private def readCommit(p: Path): Option[(String, Map[Long, Long])] =
    if (!Files.exists(p)) None
    else {
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq
      Some(lines.head.stripPrefix("stage ") -> lines.tail.map { l =>
        val Array(d, c) = l.split(' ')
        d.toLong -> c.toLong
      }.toMap)
    }

  /** The staging dir names the commit records in `dir` hold: staged
    * increments that are committed, whose data may live only there until
    * they are published. */
  def committedStages(dir: java.io.File): Set[String] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith(CommitRecord) && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        val kind = f.getName.stripPrefix(CommitRecord)
        readCommit(f.toPath).map { case (id, _) => s"$kind.$id$StageSuffix" }
      }.toSet

  /** The entries of a directory; empty when it does not exist. */
  private def children(dir: Path): Seq[Path] =
    Option(dir.toFile.listFiles).toSeq.flatten.sortBy(_.getName).map(_.toPath)

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
