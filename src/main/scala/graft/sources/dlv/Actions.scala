package graft.sources.dlv

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** The dlv log's action model — the minimal transactional-lakehouse
  * vocabulary (cf. the Delta spec the reference drives through
  * delta-spark; `validation_suite.py` never reads the log directly, so
  * this format is free to be its own thing):
  *
  *   - [[Metadata]]: schema (Spark DDL string), partition columns,
  *     table properties
  *   - [[AddFile]]: one data file with hive-style partition values,
  *     size, and per-column stats (numRecords/min/max/nullCount) that
  *     power file skipping and metadata-answered aggregates
  *   - [[RemoveFile]]: logical deletion (the file stays until VACUUM)
  *   - [[CommitInfo]]: operation provenance per version
  *   - [[Protocol]]: reader/writer feature gate
  *
  * One JSON object per line per action, `{"add": {...}}`-wrapped like
  * the public Delta format so log dumps read familiarly.
  */
sealed trait Action

final case class Metadata(
    id: String,
    schemaDdl: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    createdTime: Long) extends Action {
  def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
  def dataSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionColumns.contains(f.name)))
  def partitionSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      partitionColumns.map(c => schema(c)))
}

/** File statistics as carried in [[AddFile.stats]] (JSON-encoded).
  * min/max values are stored in a lexical-JSON form per type (numbers,
  * strings, ISO timestamps as micros-long). */
final case class FileStats(
    numRecords: Long,
    minValues: Map[String, JValue],
    maxValues: Map[String, JValue],
    nullCount: Map[String, Long])

/** A file's deletion vector: the set of row indices soft-deleted from
  * it, stored as sidecar parquet under `_dlv_log/_dv/` (rows of
  * `(dv_file, dv_row)` — scan-reported file URI + parquet row index).
  * `paths` accumulates one sidecar per DV-writing commit (merged away
  * by OPTIMIZE or any rewrite); `cardinality` counts THIS file's dead
  * rows across all of them — disjoint by construction, because DV
  * discovery scans through the existing vector, so an already-dead
  * row can never re-match. Readers anti-join the union of sidecars;
  * metadata COUNT answers as Σ numRecords − Σ cardinality. */
final case class DeletionVector(paths: Seq[String], cardinality: Long)

final case class AddFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long,
    modificationTime: Long,
    dataChange: Boolean,
    stats: Option[String],
    dv: Option[DeletionVector] = None) extends Action {
  def parsedStats: Option[FileStats] =
    stats.map { s =>
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(s)
      FileStats(
        numRecords = (j \ "numRecords").extract[Long],
        minValues = (j \ "minValues") match {
          case JObject(f) => f.toMap
          case _ => Map.empty
        },
        maxValues = (j \ "maxValues") match {
          case JObject(f) => f.toMap
          case _ => Map.empty
        },
        nullCount = (j \ "nullCount") match {
          case JObject(f) => f.collect {
            case (k, JInt(v)) => k -> v.toLong
            case (k, JLong(v)) => k -> v
          }.toMap
          case _ => Map.empty
        })
    }

  /** This file's tombstone — the one place a [[RemoveFile]] is built
    * from an AddFile, so every remove carries the size and vector
    * state a change-feed replay of it needs. */
  def remove(deletionTimestamp: Long, dataChange: Boolean): RemoveFile =
    RemoveFile(path, deletionTimestamp, partitionValues, dataChange,
      hadDv = dv.nonEmpty, size = Some(size))
}

/** `hadDv`: whether the file carried a deletion vector WHEN REMOVED —
  * the one bit CDF replay needs (a raw read of such a file cannot
  * subtract its soft-deleted rows, so the replay must refuse unless an
  * eager CDC blob covers the commit). Absent in pre-DV logs → false.
  * `size`: the removed file's bytes, so a remove replay plans from the
  * log without touching the file (Delta's `RemoveFile.size`). Absent
  * in logs written before it was recorded → None. */
final case class RemoveFile(
    path: String,
    deletionTimestamp: Long,
    partitionValues: Map[String, String],
    dataChange: Boolean,
    hadDv: Boolean = false,
    size: Option[Long] = None) extends Action

final case class CommitInfo(
    version: Long,
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String],
    isBlindAppend: Boolean,
    cdcPath: Option[String] = None,
    operationMetrics: Option[Map[String, String]] = None) extends Action

object CommitInfo {
  /** Delta-parity `operationMetrics`, derived from the commit's own
    * actions at the one choke point every operation passes through:
    * file/byte counts always; `numOutputRows` when every added file
    * carries stats (cheap string probe + parse over the commit's OWN
    * adds — bounded by the commit, never the table). */
  private val NumRecordsRe = """"numRecords"\s*:\s*(\d+)""".r

  /** Total rows across `files` per their stats — Some only when EVERY
    * file carries a numRecords (a partial sum would misreport).
    * Substring probe, never a JSON parse (commit-path hot). */
  def rowCount(files: Seq[AddFile]): Option[Long] = {
    val counts = files.flatMap(_.stats.flatMap(s =>
      NumRecordsRe.findFirstMatchIn(s).map(_.group(1).toLong)))
    if (files.nonEmpty && counts.size == files.size) Some(counts.sum)
    else None
  }

  /** A version-less carrier whose ONLY payload is caller-computed
    * operationMetrics — merged (caller wins) into the commit's own
    * CommitInfo at the transaction choke point, like the CDC
    * carrier's cdcPath. */
  def metricsCarrier(m: Map[String, String]): Option[CommitInfo] =
    if (m.isEmpty) None
    else Some(CommitInfo(-1, 0, "METRICS-CARRIER", Map.empty,
      isBlindAppend = false, operationMetrics = Some(m)))

  def metricsOf(actions: Seq[Action]): Map[String, String] = {
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    val base = Map(
      "numAddedFiles" -> adds.size.toString,
      "numRemovedFiles" -> removes.size.toString,
      "numAddedBytes" -> adds.map(_.size).sum.toString)
    // cheap substring probe, not a JSON parse: this runs on EVERY
    // commit over each add's stats string, and a full json4s parse
    // per file added a visible per-commit tax across the dlv gates
    val rows = adds.flatMap(a => a.stats.flatMap(s =>
      NumRecordsRe.findFirstMatchIn(s).map(_.group(1).toLong)))
    if (adds.nonEmpty && rows.size == adds.size)
      base + ("numOutputRows" -> rows.sum.toString)
    else base
  }
}

final case class Protocol(
    minReaderVersion: Int = 1, minWriterVersion: Int = 1) extends Action

object Actions {
  implicit private val formats: Formats = DefaultFormats

  def toJson(a: Action): String = a match {
    case m: Metadata => Serialization.write(Map("metaData" -> m))
    case f: AddFile => Serialization.write(Map("add" -> f))
    case r: RemoveFile => Serialization.write(Map("remove" -> r))
    case c: CommitInfo => Serialization.write(Map("commitInfo" -> c))
    case p: Protocol => Serialization.write(Map("protocol" -> p))
  }

  def fromJson(line: String): Option[Action] = {
    val j = JsonMethods.parse(line)
    (j \ "metaData") match {
      case JNothing =>
      case m => return Some(m.extract[Metadata])
    }
    (j \ "add") match {
      case JNothing =>
      case a => return Some(a.extract[AddFile])
    }
    (j \ "remove") match {
      case JNothing =>
      case r => return Some(r.extract[RemoveFile])
    }
    (j \ "commitInfo") match {
      case JNothing =>
      case c => return Some(c.extract[CommitInfo])
    }
    (j \ "protocol") match {
      case JNothing =>
      case p => return Some(p.extract[Protocol])
    }
    None
  }
}
