package graft.extract

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Snapshot/manifest table layout for resumable batch runs (north rule:
 * "resumable from checkpoint"). Iceberg-shaped — an append-only snapshot
 * log (id, parent, operation, data directories) plus an atomically-swapped
 * manifest pointer — behind a seam so a real Iceberg catalog is a config
 * swap (no Iceberg jar ships in this sandbox; see SURVEY.md §7.3).
 *
 * Commit protocol: write parquet to `snapshot=<id>/` (zstd-compressed, the
 * Parquet codec Iceberg writes by default; reads take any codec, so older
 * Snappy directories in a chain stay readable), write the snapshot's
 * metadata record to `_snapshots/<id>.json` (invisible until referenced),
 * then atomically move `_manifest.json.tmp` → `_manifest.json` pointing at
 * it. A killed run leaves either no manifest (stage recomputed) or a fully
 * committed one (stage skipped on resume) — never a half-read state.
 *
 * Like Iceberg, an APPEND snapshot does not rewrite data: it records only
 * its own new directory and inherits the rest from its parent chain, so
 * committing 1 GB onto a 100 TB table moves 1 GB. That chain also gives
 * time travel ([[TableIO.readAt]]), O(1) [[TableIO.rollback]] (re-point the
 * manifest; orphaned snapshots stay readable), and incremental consumption
 * ([[TableIO.readIncremental]] — only the directories added after a known
 * snapshot, the batch analog of a streaming source offset).
 */
trait TableIO {
  def committedSnapshot(stage: String): Option[String]
  def read(spark: SparkSession, stage: String): DataFrame
  /** Full-replace commit: the new snapshot's chain starts from scratch. */
  def commit(df: DataFrame, stage: String, snapshotId: String): Unit
  /** Append commit: new data directory + everything in the parent chain. */
  def commitAppend(df: DataFrame, stage: String, snapshotId: String): Unit
  /** Time travel: read the table as of `snapshotId`. */
  def readAt(spark: SparkSession, stage: String, snapshotId: String): DataFrame
  /** Rows added strictly after `fromSnapshot` up to the latest commit.
   * `None` = everything (a consumer starting from the beginning). */
  def readIncremental(spark: SparkSession, stage: String,
      fromSnapshot: Option[String]): DataFrame
  /** Re-point the manifest at an earlier snapshot. Data is untouched —
   * rolled-past snapshots remain time-travel-readable. */
  def rollback(stage: String, snapshotId: String): Unit
  /** Snapshot metadata records, latest-first along the parent chain. */
  def history(stage: String): Seq[SnapshotMeta]
  /** Small-file maintenance (Iceberg rewrite-data-files role): rewrite the
   * CURRENT chain — possibly hundreds of append directories — into ONE new
   * snapshot with `targetPartitions` files. Logically a no-op: reads
   * before and after are row-identical, older snapshots stay
   * time-travel-readable, and [[readIncremental]] consumers positioned
   * before the compaction do NOT re-receive the rewritten rows (a compact
   * snapshot introduces no new data, so incremental walks skip it). */
  def compact(spark: SparkSession, stage: String, snapshotId: String,
      targetPartitions: Int): Unit
}

final case class SnapshotMeta(id: String, parent: Option[String], op: String,
    tsMillis: Long)

final class LocalSnapshotIO(root: String) extends TableIO {

  /** Snapshot ids and stage names are written into JSON records and
   * directory names unescaped, so only `[A-Za-z0-9._-]+`, not `.` or `..`. */
  private def checkName(kind: String, s: String): Unit =
    require(s.matches("[A-Za-z0-9._-]+") && s != "." && s != "..",
      s"invalid $kind '$s': use [A-Za-z0-9._-]+, not . or ..")

  private def stageDir(stage: String) = Paths.get(root, stage)
  private def manifest(stage: String) = stageDir(stage).resolve("_manifest.json")
  private def metaDir(stage: String) = stageDir(stage).resolve("_snapshots")
  private def metaFile(stage: String, id: String) = metaDir(stage).resolve(s"$id.json")

  def committedSnapshot(stage: String): Option[String] = {
    val m = manifest(stage)
    if (Files.exists(m)) {
      val s = new String(Files.readAllBytes(m), "UTF-8")
      """"latest"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1))
    } else None
  }

  private def readMeta(stage: String, id: String): SnapshotMeta = {
    val p = metaFile(stage, id)
    if (!Files.exists(p))
      // pre-log layout (or foreign writer): treat as a root overwrite so
      // old tables remain readable
      return SnapshotMeta(id, None, "overwrite", 0L)
    val s = new String(Files.readAllBytes(p), "UTF-8")
    def field(k: String): Option[String] =
      ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).map(_.group(1))
    SnapshotMeta(id,
      field("parent").filter(_.nonEmpty),
      field("op").getOrElse("overwrite"),
      """"ts"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L))
  }

  /** The snapshot's readable directories: its own plus, for appends, the
   * parent chain's. Chain length = number of commits, bounded and tiny. */
  private def chainDirs(stage: String, id: String): Seq[Path] = {
    val meta = readMeta(stage, id)
    val own = stageDir(stage).resolve(s"snapshot=$id")
    meta match {
      case SnapshotMeta(_, Some(p), "append", _) => chainDirs(stage, p) :+ own
      case _ => Seq(own)
    }
  }

  def history(stage: String): Seq[SnapshotMeta] = {
    def walk(id: Option[String]): List[SnapshotMeta] = id match {
      case None => Nil
      case Some(i) =>
        val m = readMeta(stage, i)
        m :: walk(m.parent)
    }
    walk(committedSnapshot(stage))
  }

  def read(spark: SparkSession, stage: String): DataFrame = {
    val snap = committedSnapshot(stage).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for stage $stage"))
    readAt(spark, stage, snap)
  }

  def readAt(spark: SparkSession, stage: String, snapshotId: String): DataFrame =
    spark.read.parquet(chainDirs(stage, snapshotId).map(_.toString): _*)

  def readIncremental(spark: SparkSession, stage: String,
      fromSnapshot: Option[String]): DataFrame = {
    val latest = committedSnapshot(stage).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for stage $stage"))
    // primary path: walk the snapshot log latest→from, collecting each
    // snapshot's own directory EXCEPT compact rewrites (they introduce no
    // new rows). Walk fails — `from` behind an overwrite, or not an
    // ancestor (rollback divergence) — falls back to the directory-set
    // difference, which re-baselines the consumer on the current table.
    @annotation.tailrec
    def walk(id: String, acc: List[Path]): Option[List[Path]] =
      if (fromSnapshot.contains(id)) Some(acc)
      else {
        val m = readMeta(stage, id)
        val own = stageDir(stage).resolve(s"snapshot=$id")
        val acc2 = if (m.op == "compact") acc else own :: acc
        m.parent match {
          case Some(p) if m.op == "append" || m.op == "compact" => walk(p, acc2)
          case _ => None // overwrite or chain root reached before `from`
        }
      }
    val fallback = {
      val have = fromSnapshot.map(chainDirs(stage, _).toSet).getOrElse(Set.empty)
      chainDirs(stage, latest).filterNot(have)
    }
    val want =
      fromSnapshot.flatMap(_ => walk(latest, Nil)).getOrElse(fallback)
    if (want.isEmpty) {
      val full = readAt(spark, stage, latest)
      full.where(org.apache.spark.sql.functions.lit(false)) // empty, same schema
    } else spark.read.parquet(want.map(_.toString): _*)
  }

  def compact(spark: SparkSession, stage: String, snapshotId: String,
      targetPartitions: Int): Unit = {
    require(targetPartitions > 0, "targetPartitions must be positive")
    // reads the old directories, writes a fresh one — source data is never
    // touched, so a kill mid-compaction leaves the previous commit live
    doCommit(read(spark, stage).repartition(targetPartitions),
      stage, snapshotId, "compact")
  }

  def rollback(stage: String, snapshotId: String): Unit = {
    checkName("stage", stage)
    checkName("snapshot id", snapshotId)
    require(Files.exists(metaFile(stage, snapshotId)) ||
      Files.exists(stageDir(stage).resolve(s"snapshot=$snapshotId")),
      s"unknown snapshot $snapshotId for stage $stage")
    writeManifest(stage, snapshotId)
  }

  def commit(df: DataFrame, stage: String, snapshotId: String): Unit =
    doCommit(df, stage, snapshotId, "overwrite")

  def commitAppend(df: DataFrame, stage: String, snapshotId: String): Unit =
    doCommit(df, stage, snapshotId, "append")

  private def doCommit(df: DataFrame, stage: String, snapshotId: String,
      op: String): Unit = {
    checkName("stage", stage)
    checkName("snapshot id", snapshotId)
    val dir = stageDir(stage)
    Files.createDirectories(metaDir(stage))
    val parent = committedSnapshot(stage)
    // reject ANY previously used id, not just the direct parent: an older
    // chain id (s1 after s1<-s2<-s3) would pass a parent-only check and
    // then SaveMode.Overwrite a directory that is still part of the live
    // chain — and possibly of this very commit's input — losing data
    val snapDir = dir.resolve(s"snapshot=$snapshotId")
    require(!Files.exists(metaFile(stage, snapshotId)) && !Files.exists(snapDir),
      s"snapshot id $snapshotId already used for stage $stage " +
        "(ids are immutable; pick a fresh id)")
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(snapDir.toString)
    val meta = s"""{"id": "$snapshotId", "parent": "${parent.getOrElse("")}", """ +
      s""""op": "$op", "ts": ${System.currentTimeMillis()}}"""
    Files.write(metaFile(stage, snapshotId), meta.getBytes("UTF-8"))
    writeManifest(stage, snapshotId)
  }

  private def writeManifest(stage: String, snapshotId: String): Unit = {
    val tmp = stageDir(stage).resolve("_manifest.json.tmp")
    Files.write(tmp,
      s"""{"latest": "$snapshotId", "stage": "$stage"}""".getBytes("UTF-8"))
    Files.move(tmp, manifest(stage), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
