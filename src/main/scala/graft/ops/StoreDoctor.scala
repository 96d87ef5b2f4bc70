package graft.ops

import java.io.File

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One loud end for the persisted-store lifecycle: a single invariant
  * sweep over a store tree that every staged-publish protocol in the
  * repo must pass — runnable as a spec (StoreDoctorSpec drives it over
  * a real PqIndexStore and all six snapshot twins) and as a tool
  * (`runMain graft.ops.StoreDoctor <baseDir>`, exit 1 on findings) for
  * a deployment's maintenance window.
  *
  * What it checks, by construction of the protocols it audits:
  *
  *  - **No orphaned staging dirs.** Every staged publish in the repo
  *    ([[graft.sources.TierStore.swapInto]], PqIndexStore's quantizer
  *    swap, the snapshot twins' `state__tmp`/`state__old` pairs,
  *    compaction's `__compact_new`/`__compact_old`) writes a TMP name,
  *    renames the primary aside to an OLD name, publishes, then drops
  *    OLD. A crash can strand either name: a stranded TMP is
  *    disposable (data never lives only there) unless it is a tier
  *    store's staged increment that its kind's commit record names
  *    (`TierStore.commit`) — that one is pending, and the next
  *    increment publishes it. A stranded OLD beside
  *    a live primary is the post-publish cleanup that never ran, and
  *    an OLD with NO primary is the recoverable mid-swap crash that
  *    the owner's next read heals via `recoverSwap`. The doctor
  *    reports each with its disposition rather than guessing-and-
  *    deleting — it is a diagnosis tool, not a mutation.
  *  - **Quantizer generations are complete.** A `quantizer/` dir
  *    (the [[PqIndexStore]] layout) must hold exactly one version,
  *    both artifact families (kind = 'cent' and 'cb'), and the
  *    assignment-geometry row (kind = 'mode') — a pre-mode generation
  *    serves with handle-config fallback and is flagged to retrain.
  *    Its `codes/` sibling must exist and hold rows for the committed
  *    version (a generation with no codes serves empty, silently).
  *  - **Audit seqs are dense.** An `audits/` history must have no
  *    duplicate seq (two drivers raced an append without the file
  *    lock) and no gap (a deleted row would silently shift
  *    [[PqIndexStore.driftTrend]]'s last-two comparison).
  *  - **Centroid stores are single-version.** A `centroids/` dir with
  *    a `version` column ([[graft.streaming.StreamingVecNearDup]])
  *    must not hold mixed generations.
  *
  * No reference analog (khronus delegates storage health to
  * Cassandra); the invariants are this repo's own publish protocols.
  */
object StoreDoctor {

  /** One diagnosed violation; `check` is the machine-readable class,
    * `detail` the human disposition. */
  case class Finding(path: String, check: String, detail: String) {
    override def toString: String = s"[$check] $path — $detail"
  }

  // Staging-name inventory of every publish protocol in the repo,
  // longest-match-first so `__compact_old` is not misread as `__old`.
  // TMP names hold a fresh copy that was never the only one; OLD names
  // hold the moved-aside previous primary.
  private val TmpSuffixes = Seq("__compact_new", "__migrating",
    ".__retrain", ".__compact", ".__stage", "__tmp", ".tmp")
  private val OldSuffixes =
    Seq("__compact_old", ".__oldc", ".__old", "__old", ".old")

  /** Sweep `base` recursively; empty result = healthy tree. */
  def diagnose(spark: SparkSession, base: String): Seq[Finding] = {
    val root = new File(base)
    if (!root.exists()) return Seq(Finding(base, "missing-root",
      "store root does not exist"))
    walk(root).flatMap { f =>
      stagingFindings(f) ++
        (if (f.isDirectory && f.getName == "quantizer" &&
             !isStaging(f.getName)) pqFindings(spark, f) else Nil) ++
        (if (f.isDirectory && f.getName == "centroids" &&
             !isStaging(f.getName)) centroidFindings(spark, f) else Nil) ++
        (if (f.isDirectory && f.getName == "meta" &&
             !isStaging(f.getName)) decontamFindings(spark, f) else Nil)
    }
  }

  /** Depth-first listing; does not descend into staging dirs (their
    * contents are covered by the verdict on the dir itself). */
  private def walk(f: File): Seq[File] = {
    val children =
      if (f.isDirectory && !isStaging(f.getName))
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
      else Nil
    children ++ children.flatMap(walk)
  }

  private def isStaging(name: String): Boolean =
    (TmpSuffixes ++ OldSuffixes).exists(name.endsWith)

  private def stagingFindings(f: File): Seq[Finding] = {
    // every publish protocol stages DIRECTORIES (parquet outputs);
    // plain files are never swap state (Spark's own checkpoint logs
    // use transient dot-tmp FILES that are not ours to judge)
    if (!f.isDirectory) return Nil
    val name = f.getName
    TmpSuffixes.find(name.endsWith) match {
      case Some(_) if graft.sources.TierStore.committedStages(f.getParentFile)(name) =>
        return Seq(Finding(f.getPath, "pending-commit",
          "a tier increment committed but not yet published; its data lives " +
            "only here until the next increment finishes it — do not delete"))
      case Some(_) =>
        return Seq(Finding(f.getPath, "orphaned-staging",
          "stranded staging copy from a crashed publish; the data never " +
            "lived only here — safe to delete"))
      case None => ()
    }
    OldSuffixes.find(name.endsWith) match {
      case Some(suf) =>
        val primary = new File(f.getParentFile, name.dropRight(suf.length))
        if (primary.exists())
          Seq(Finding(f.getPath, "leftover-old",
            "previous primary left beside the published one (crash between " +
              "publish rename and cleanup) — safe to delete"))
        else
          Seq(Finding(f.getPath, "recoverable-swap",
            s"primary ${primary.getName} missing with its moved-aside copy " +
              "present — the owner's next read heals this via recoverSwap; " +
              "do not delete"))
      case None => Nil
    }
  }

  /** [[PqIndexStore]] layout checks for a committed `quantizer/` dir
    * (the store's own `.__old` fallback is covered by the staging
    * sweep — a quantizer.__old with no primary reports as
    * recoverable-swap). */
  private def pqFindings(spark: SparkSession, quantDir: File): Seq[Finding] = {
    val baseDir = quantDir.getParentFile
    Try {
      spark.catalog.refreshByPath(quantDir.getPath)
      spark.read.parquet(quantDir.getPath)
        .select(col("version").cast("long"), col("kind"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    } match {
      case Failure(e) =>
        Seq(Finding(quantDir.getPath, "unreadable-quantizer",
          s"cannot read quantizer parquet: ${e.getMessage}"))
      case Success(rows) if rows.isEmpty =>
        Seq(Finding(quantDir.getPath, "empty-quantizer",
          "quantizer dir holds no rows — rebuild the index"))
      case Success(rows) =>
        val versions = rows.map(_._1).distinct.sorted
        val kinds = rows.map(_._2).toSet
        val vFind =
          if (versions.size > 1)
            Seq(Finding(quantDir.getPath, "mixed-versions",
              s"quantizer holds generations ${versions.mkString(", ")} — " +
                "the atomic-swap contract is one; rebuild the index"))
          else Nil
        val kindFind = Seq("cent" -> "centroids", "cb" -> "codebooks")
          .filterNot { case (k, _) => kinds(k) }
          .map { case (k, what) =>
            Finding(quantDir.getPath, "incomplete-quantizer",
              s"no kind='$k' rows — the committed generation has no $what")
          }
        val modeFind =
          if (!kinds("mode"))
            Seq(Finding(quantDir.getPath, "missing-mode-row",
              "no kind='mode' row: assignment geometry unrecorded " +
                "(pre-mode generation) — serves with handle-config " +
                "fallback; rebuild or retrain to record it"))
          else Nil
        vFind ++ kindFind ++ modeFind ++
          codesFindings(spark, baseDir, versions.lastOption) ++
          auditFindings(spark, baseDir)
    }
  }

  private def codesFindings(spark: SparkSession, baseDir: File,
                            committed: Option[Long]): Seq[Finding] = {
    val codes = new File(baseDir, "codes")
    if (!codes.exists())
      return Seq(Finding(codes.getPath, "no-codes-dir",
        "quantizer committed but no codes/ sibling — the index serves empty"))
    committed.toSeq.flatMap { v =>
      Try {
        spark.catalog.refreshByPath(codes.getPath)
        spark.read.parquet(codes.getPath)
          .where(col("version") === v).limit(1).count()
      } match {
        case Failure(e) =>
          Seq(Finding(codes.getPath, "unreadable-codes",
            s"cannot read codes parquet: ${e.getMessage}"))
        case Success(0L) =>
          Seq(Finding(codes.getPath, "empty-generation",
            s"no code rows for committed version $v — the index serves " +
              "empty; append or rebuild"))
        case Success(_) => Nil
      }
    }
  }

  private def auditFindings(spark: SparkSession, baseDir: File): Seq[Finding] = {
    val audits = new File(baseDir, "audits")
    if (!audits.exists()) return Nil // audits are optional history
    Try {
      spark.catalog.refreshByPath(audits.getPath)
      spark.read.option("mergeSchema", "true").parquet(audits.getPath)
        .select(col("seq").cast("long")).collect().map(_.getLong(0)).toSeq
    } match {
      case Failure(e) =>
        Seq(Finding(audits.getPath, "unreadable-audits",
          s"cannot read audit parquet: ${e.getMessage}"))
      case Success(seqs) =>
        val dups = seqs.groupBy(identity).collect {
          case (s, g) if g.size > 1 => s
        }.toSeq.sorted
        val dupFind =
          if (dups.nonEmpty)
            Seq(Finding(audits.getPath, "duplicate-audit-seq",
              s"seqs ${dups.mkString(", ")} appear more than once — two " +
                "writers raced recordAudit without the file lock; " +
                "driftTrend refuses this store until the extras are removed"))
          else Nil
        val distinct = seqs.distinct.sorted
        // arithmetic density check, NOT a materialized range: one
        // corrupt outlier seq (say 9e18) must yield a finding, not an
        // Int.MaxValue-range crash of the whole sweep; cap the printed
        // history too
        val gapFind =
          if (distinct.nonEmpty &&
              distinct.size.toLong != distinct.last - distinct.head + 1L)
            Seq(Finding(audits.getPath, "sparse-audit-seq",
              s"seqs have gaps (${distinct.take(20).mkString(", ")}" +
                s"${if (distinct.size > 20) ", …" else ""}) — history rows " +
                "were lost; trend comparisons may span missing generations"))
          else Nil
        dupFind ++ gapFind
    }
  }

  /** [[graft.streaming.StreamingVecNearDup]]'s centroid store: one
    * committed generation only (its loader hard-fails on mixed rows —
    * the doctor surfaces it without crashing the sweep). */
  private def centroidFindings(spark: SparkSession, dir: File): Seq[Finding] =
    Try {
      spark.catalog.refreshByPath(dir.getPath)
      val df = spark.read.parquet(dir.getPath)
      if (!df.columns.contains("version")) Nil
      else df.select(col("version").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    } match {
      case Failure(e) =>
        Seq(Finding(dir.getPath, "unreadable-centroids",
          s"cannot read centroid parquet: ${e.getMessage}"))
      case Success(versions) if versions.size > 1 =>
        Seq(Finding(dir.getPath, "mixed-versions",
          s"centroid store holds generations ${versions.mkString(", ")} — " +
            "rebuild the index"))
      case Success(_) => Nil
    }

  /** [[graft.streaming.StreamingDecontam]]'s benchmark index: the
    * `meta/` row is the completeness certificate (written LAST by
    * indexBenchmark), so a meta that promises a benchmark must have
    * its centroids and cells siblings, all agreeing on the version.
    * Other stores also own dirs NAMED `meta` (the tier store's
    * resolution row) — the decontam layout is recognized by its
    * (version, bench_n) schema and every other shape is skipped, not
    * judged. A centroids dir with NO meta is not flagged: that is the
    * half-build indexBenchmark's write order makes structurally
    * invisible (start() refuses it; the next build overwrites it). */
  private def decontamFindings(spark: SparkSession, metaDir: File): Seq[Finding] =
    Try {
      spark.catalog.refreshByPath(metaDir.getPath)
      val df = spark.read.parquet(metaDir.getPath)
      if (!df.columns.contains("bench_n") || !df.columns.contains("version"))
        None // some other store's meta — not ours to judge
      else Some(df.select(col("version").cast("long"),
          col("bench_n").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    } match {
      case Failure(e) =>
        Seq(Finding(metaDir.getPath, "unreadable-meta",
          s"cannot read meta parquet: ${e.getMessage}"))
      case Success(None) => Nil
      case Success(Some(rows)) if rows.size != 1 =>
        Seq(Finding(metaDir.getPath, "bad-meta",
          s"decontam meta holds ${rows.size} rows — the completeness " +
            "certificate is exactly one; rebuild via indexBenchmark"))
      case Success(Some(rows)) if rows.head._2 == 0L =>
        Nil // empty benchmark: complete
      case Success(Some(rows)) =>
        val version = rows.head._1
        val base = metaDir.getParentFile
        val cents = new File(base, "centroids")
        val cells = new File(base, "cells")
        val centFind =
          if (!cents.exists())
            Seq(Finding(cents.getPath, "incomplete-index",
              "meta promises a benchmark but centroids/ is missing — " +
                "the certificate lies; rebuild via indexBenchmark"))
          else versionsOf(spark, cents, "version") match {
            case Some(vs) if vs != Seq(version) =>
              Seq(Finding(cents.getPath, "version-mismatch",
                s"centroid generations ${vs.mkString(", ")} disagree with " +
                  s"meta version $version — rebuild via indexBenchmark"))
            case None =>
              // mirror of the cells handling: an unreadable quantizer
              // under a meta that promises a benchmark is a
              // certified-but-unservable store, not a clean sweep
              Seq(Finding(cents.getPath, "unreadable-centroids",
                "cannot read centroid parquet — the certified index " +
                  "cannot serve; rebuild via indexBenchmark"))
            case _ => Nil
          }
        val cellFind =
          if (!cells.exists())
            Seq(Finding(cells.getPath, "incomplete-index",
              "meta promises a benchmark but cells/ is missing — probes " +
                "would match nothing and keep everything; rebuild"))
          else versionsOf(spark, cells, "version") match {
            case Some(vs) if !vs.contains(version) =>
              Seq(Finding(cells.getPath, "empty-generation",
                s"no assignment rows for meta version $version — probes " +
                  "match nothing and keep everything; rebuild"))
            case None =>
              Seq(Finding(cells.getPath, "unreadable-cells",
                "cannot read assignment parquet — the certified index " +
                  "cannot serve; rebuild via indexBenchmark"))
            case _ => Nil
          }
        centFind ++ cellFind
    }

  /** Distinct sorted versions of a parquet dir, or None if unreadable
    * (the caller decides whether unreadable is a finding). */
  private def versionsOf(spark: SparkSession, dir: File,
                         colName: String): Option[Seq[Long]] =
    Try {
      spark.catalog.refreshByPath(dir.getPath)
      spark.read.parquet(dir.getPath)
        .select(col(colName).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    }.toOption

  /** Maintenance-window entry point: sweep each arg dir, print every
    * finding, exit 1 if any store is unhealthy. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StoreDoctor <storeDir> [more dirs...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder(cpus.toInt, cpus.toInt)
      .appName("graft-store-doctor").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val findings = args.toSeq.flatMap(diagnose(spark, _))
    findings.foreach(f => println(f.toString))
    println(s"${findings.size} finding(s) across ${args.length} root(s)")
    spark.stop()
    if (findings.nonEmpty) sys.exit(1)
  }
}
