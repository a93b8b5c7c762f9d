package graft.lake

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One immutable data-file entry — IMMUTABLE PER PATH: once committed, an
  * entry's stats never change (the manifest delta chain diffs by path, and
  * consolidation carries a bucketed part over by name on that ground — see
  * [[graft.lake.LakeTable.commit]]); a rewrite lands under a new path.
  *
  * Per-file column statistics used for scan pruning — the analogue of the
  * reference's per-partition synopses (min/max + bloom,
  * `libtenzir/include/tenzir/partition_synopsis.hpp:30-44`,
  * `libtenzir/src/synopsis.cpp:70-110`). We track min/max over `_lsn` and
  * `_urlhash` (and row/byte counts) extracted from Parquet footers at commit
  * time, so pruning is a driver-side O(#files) manifest scan — no data IO.
  */
case class DataFile(
    path: String,
    bucket: Int,
    schemaId: Int,
    rows: Long,
    bytes: Long,
    minLsn: Long,
    maxLsn: Long,
    minUrlHash: Long,
    maxUrlHash: Long)

/** One positional-delete sidecar file (Iceberg-v2 delete-vector analogue): a
  * parquet file of `(_dv_path, _dv_pos)` rows naming data-file row ordinals
  * superseded by a later writer. Readers subtract these positions from the
  * scan instead of LWW-resolving the whole table ([[LakeTable.readFiles]]).
  * `rows` is carried so the read path can choose broadcast vs shuffled
  * masking without running a count job.
  */
case class DvFile(path: String, rows: Long)

/** Per-batch lineage record (north rule: "checkpoints per-partition offsets and
  * lineage (source LSN range, batch id, snapshot id, row counts)").
  */
case class LineageEntry(
    queryId: String,
    batchId: Long,
    events: Long,
    upserts: Long,
    deletes: Long,
    minLsn: Long,
    maxLsn: Long,
    snapshotVersion: Long)

/** One committed table version. `schemas` maps schemaId → Spark StructType JSON
  * of the *file* schema in force when each file was written (schema evolution
  * never rewrites old files; readers align per-schemaId and cast up).
  * `watermarks` maps streaming queryId → highest committed batchId: batches
  * commit in order within a query, so a high-watermark (not a set) suffices for
  * exactly-once replay skipping at 10^10-event scale.
  *
  * `files` is the fully-resolved file list and lives only in memory: on disk
  * the snapshot stores `manifests` — an ordered list of immutable manifest
  * *delta* files (Iceberg's manifest-list indirection) — and `files` is
  * reconstructed by folding them at read. A commit therefore writes
  * O(batch files), not O(table files); every K commits the chain is
  * consolidated into at most two parts, the bucketed files and the L0
  * spanning files, so reads stay O(K) JSON files. A window that only
  * appended L0 files keeps the previous bucketed part and rewrites the L0
  * part alone.
  */
case class Snapshot(
    version: Long,
    parentVersion: Long,
    currentSchemaId: Int,
    schemas: Map[String, String], // schemaId (as string, for JSON keys) → StructType.json
    buckets: Int,
    files: Seq[DataFile],
    watermarks: Map[String, Long],
    lineage: Seq[LineageEntry],
    props: Map[String, String],
    manifests: Seq[String] = Nil,
    // Positional-delete sidecars in force at this snapshot (deletion-vector
    // apply mode). Stored inline in the snapshot JSON, NOT in the manifest
    // delta chain: the list is bounded by batches since the last compaction
    // (compaction folds the masks into the data and clears it), so it stays
    // O(recent batches) — unlike `files`, which grows with the table.
    dvFiles: Seq[DvFile] = Nil) {
  def schemaJson(id: Int): String = schemas(id.toString)
  def currentSchemaJson: String = schemaJson(currentSchemaId)
}

/** One immutable manifest file: the file-list delta a single commit introduced
  * (`added` entries with stats; `removedPaths` of files it dropped, e.g. by
  * compaction). A consolidated part is the same shape with its share of the
  * full list (bucketed or L0 files) as `added`.
  */
case class ManifestDelta(added: Seq[DataFile], removedPaths: Seq[String])

object ManifestCodec {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def toJson(s: Snapshot): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(s)
  /** Manifest files are streamed, never held as one `String`: a
    * consolidated part of 10^6 entries is over 300 MB of JSON. */
  def writeDelta(out: java.io.OutputStream, d: ManifestDelta): Unit =
    mapper.writeValue(out, d)
  def readDelta(in: java.io.InputStream): ManifestDelta =
    mapper.readValue(in, classOf[ManifestDelta])
  def deltaFromJson(j: String): ManifestDelta = mapper.readValue(j, classOf[ManifestDelta])
  /** One compact JSON line per lineage entry (the append-only commit log). */
  def lineageToJson(e: LineageEntry): String = mapper.writeValueAsString(e)
  def lineageFromJson(line: String): LineageEntry =
    mapper.readValue(line, classOf[LineageEntry])
  def fromJson(j: String): Snapshot = {
    val s = mapper.readValue(j, classOf[Snapshot])
    // Type erasure: Jackson fills Map[String, Long] with boxed Integers for
    // small values — normalize through Number to avoid unboxing CCEs.
    val wm = s.watermarks.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
    // dvFiles was added after the first on-disk format: manifests written
    // before it deserialize the field as null, not the default Nil
    s.copy(watermarks = wm, dvFiles = Option(s.dvFiles).getOrElse(Nil))
  }
}
