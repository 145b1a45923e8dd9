package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter => SFilter}

import graft.core.CanonicalJson
import graft.core.CanonicalJson._

/** Apache Iceberg table-format reader/writer built from the PUBLIC
  * format spec (iceberg.apache.org/spec, format v2) — no Iceberg jars
  * exist on this classpath, so the metadata plumbing is implemented
  * directly: `metadata/version-hint.text` → `vN.metadata.json` →
  * snapshot list → manifest-list Avro → manifest Avro → parquet data
  * files. Mirrors the reference's biggest connector (cdf:
  * crates/cdf-source-iceberg/src/driver.rs:1035 — snapshot-pinned
  * scans, incremental append-diff between snapshots, typed snapshot
  * positions).
  *
  * Scale shape: metadata files are KB-sized and read driver-side
  * (exactly how Iceberg's own planner works); the DATA read is a
  * normal distributed parquet scan over the planned file list, so
  * pushdown/pruning/AQE all apply. Incremental scan reads ONLY the
  * files added by snapshots in `(from, to]` — the append-diff, never
  * a full-table diff.
  *
  * v2 coverage: append snapshots AND merge-on-read deletes. Position
  * delete files (file_path + pos) anti-join against the parquet
  * scan's own `_metadata` columns; equality delete files anti-join
  * null-safely on the columns their `equality_ids` name; both are
  * gated by the spec's sequence rules (pos: dataSeq <= deleteSeq;
  * eq: dataSeq < deleteSeq), so time travel before a delete snapshot
  * naturally sees the undeleted rows (the reference reads full v2,
  * crates/cdf-source-iceberg/src/driver.rs:1035). v3 puffin DELETION
  * VECTORS read through the same machinery ([[Puffin]] decodes each
  * blob inside one task; a DV supersedes position delete files for
  * its data file, per the v3 spec). Still REJECTED with a typed
  * [[graft.core.GraftError.Plan]] error, because reading past them
  * would be silently wrong: delete files in formats other than
  * parquet/puffin, unknown data_file content kinds, equality ids
  * that resolve to no schema field, and incremental append-diff
  * windows that contain a delete snapshot (row removal cannot be
  * represented as added files).
  *
  * Partition handling (ANY transform): per-file partition values come
  * from the manifest entries' `data_file.partition` struct; scans
  * accept `org.apache.spark.sql.sources.Filter` predicates and prune
  * the planned file list driver-side BEFORE the distributed parquet
  * scan — at 100 TB the pruning decision is a metadata operation over
  * KB-sized manifests, and a partition-restricted query never opens
  * the other partitions' files. Transforms never change row CONTENT
  * (the spec stores source columns in the data files regardless of
  * layout), so every spec is READABLE; what varies per transform is
  * how much a predicate can prune:
  *  - identity: exact file-level evaluation (=, range, IN, null tests)
  *  - truncate[W], year/month/day/hour: ORDER-PRESERVING — equality
  *    via T(lit) == value, ranges via the monotone interval rule
  *    (keep unless the transformed literal provably excludes the file)
  *  - bucket[N]: equality/IN via the spec's murmur3_x86_32 bucket
  *    function (Appendix B hash, pinned to the published test vectors)
  *  - void / unknown transforms: never pruned — read everything
  * Pruning is conservative everywhere: a file is skipped only when a
  * predicate PROVABLY matches no rows (unknown columns, missing
  * values, incomparable types → keep).
  */
object IcebergSource {

  // ---------------------------------------------------------- avro schemas
  // Field names follow the spec ("manifest_file" / "manifest_entry" /
  // "data_file" records); subset of required fields.

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"added_snapshot_id","type":"long"},
      |{"name":"added_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"}]}""".stripMargin)

  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  final val StatusAdded = 1
  final val StatusExisting = 0

  /** Writer version law: this writer emits v2 metadata (sequence
    * numbers, v2 manifests). Committing to a format-version 1 table
    * would silently REWRITE it as v2 with no sequence-number backfill
    * semantics — and v1 cannot hold delete files or explicit entry
    * sequence numbers at all — so every commit path refuses typed
    * rather than guessing at a migration ("never downgraded, never
    * guessed"; reads of v1 tables stay supported). */
  private def requireV2Plus(meta: TableMeta, op: String): Unit =
    if (meta.formatVersion < 2L)
      throw graft.core.GraftError.Plan(
        s"iceberg fidelity: cannot $op to a format-version ${meta.formatVersion} table — " +
          "this writer emits v2 metadata and a silent v1→v2 rewrite has no " +
          "sequence-number backfill semantics; migrate the table explicitly")

  // ------------------------------------------------------------ model

  final case class Snapshot(id: Long, parentId: Option[Long], sequenceNumber: Long,
      timestampMs: Long, manifestList: String,
      /** summary.operation ("append" | "delete" | "replace" | ...);
        * incremental windows refuse to cross "replace" (compaction)
        * because the compacted manifest list no longer carries the
        * window's add/delete history. */
      operation: String = "append",
      /** the schema this snapshot was written under (spec
        * `Snapshot.schema-id`) — time travel reads with it, and files
        * added by this snapshot resolve their columns through it when
        * the parquet footer carries no field ids. */
      schemaId: Option[Long] = None)

  /** One field of an iceberg schema: the SPEC's identity is the field
    * ID — renames change only the name, adds allocate fresh ids, and
    * ids are never reused (schema evolution, spec §Schemas). `tpe` is
    * the iceberg primitive type name ("long", "string",
    * "decimal(12, 2)", "timestamp", ...). */
  final case class SchemaField(id: Long, name: String, tpe: String)

  /** One named ref (spec `refs`): the snapshot it names and its kind —
    * "tag" (immutable) or "branch" (movable head). */
  final case class SnapshotRef(snapshotId: Long, refType: String)

  /** One field of the default partition spec: the manifest struct's
    * field name, the SOURCE column it derives from, and the transform
    * ("identity", "bucket[N]", "truncate[W]", "year", "month", "day",
    * "hour", "void", or anything future — unknown transforms read
    * fine, they just never prune). */
  final case class PartField(name: String, source: String, transform: String,
      /** schema field id of the source column, when known (parsed from
        * metadata, or resolved at commit). Serialization uses it so a
        * spec written under an evolved schema round-trips exactly even
        * after renames — positional fallbacks break there. */
      sourceId: Option[Long] = None)

  final case class TableMeta(location: String, currentSnapshotId: Option[Long],
      snapshots: Seq[Snapshot], version: Int,
      /** the default partition spec (empty = unpartitioned). */
      spec: Seq[PartField] = Nil,
      /** schema field-id → column name (resolves equality-delete ids). */
      fieldNamesById: Map[Long, String] = Map.empty,
      /** table format-version (2 default; 3 once deletion vectors are
        * committed — never downgraded by later commits). */
      formatVersion: Long = 2L,
      /** schema field-id → primitive iceberg type name ("long", "int",
        * "string", "date", ...) — decodes the manifest column bounds. */
      fieldTypesById: Map[Long, String] = Map.empty,
      /** ALL schemas ever current for this table, by schema-id, fields
        * in declaration order — id-based column resolution reads old
        * files through the schema they were written under. */
      schemasById: Map[Long, Seq[SchemaField]] = Map.empty,
      /** spec `current-schema-id` (0 for pre-evolution tables). */
      currentSchemaId: Long = 0L,
      /** spec `last-column-id` — the high-water mark alterSchema
        * allocates fresh field ids above (ids are never reused). */
      lastColumnId: Long = 0L,
      /** ALL partition specs ever default for this table, by spec-id —
        * partition EVOLUTION: files written under an old spec keep
        * their layout, and pruning interprets each file's partition
        * tuple under the spec its manifest names. */
      specsById: Map[Long, Seq[PartField]] = Map.empty,
      /** spec `default-spec-id` (0 for single-spec tables). */
      defaultSpecId: Long = 0L,
      /** named refs (spec `refs` map): TAGS pin a snapshot immutably,
        * BRANCHES are movable heads with their own lineage beside
        * `main` (= current-snapshot-id). Refs also pin retention:
        * expiry refuses to drop a snapshot a ref names. */
      refs: Map[String, SnapshotRef] = Map.empty,
      /** the default WRITE SORT ORDER's identity source columns (spec
        * `sort-orders`) — advisory for writers; sorted commits give
        * tight per-file bounds for range pruning. */
      sortOrder: Seq[String] = Nil) {
    def currentSchema: Seq[SchemaField] =
      schemasById.getOrElse(currentSchemaId, Seq.empty)
    /** The spec a manifest's partition_spec_id names; unknown ids fall
      * back to the default spec (single-spec tables wrote id 0 before
      * evolution support — their only spec IS the default). */
    def specFor(id: Long): Seq[PartField] = specsById.getOrElse(id, spec)
    /** Snapshot id a named ref points at — typed refusal on unknown
      * names (a guessed head would silently read the wrong lineage).
      * `main` is the IMPLICIT branch every table has (spec: the
      * current-snapshot-id is main's head), resolvable even when the
      * refs map never materialized it — the same rule metaTable("refs")
      * renders. */
    def resolveRef(name: String): Long =
      refs.get(name).map(_.snapshotId)
        .orElse(if (name == "main") currentSnapshotId else None)
        .getOrElse(
          throw graft.core.GraftError.Plan(
            s"iceberg fidelity: unknown ref '$name' — known refs: " +
              (if (refs.isEmpty) "(none)" else refs.keys.toSeq.sorted.mkString(", "))))
    /** true once more than one schema exists (any rename/add/drop). */
    def schemaEvolved: Boolean = schemasById.size > 1
    /** identity-transform source columns — the subset the WRITER can
      * lay out (commitAppend inherits these). */
    def partitionFields: Seq[String] =
      spec.collect { case PartField(_, s, "identity", _) => s }
    def snapshot(id: Long): Snapshot = snapshots.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(s"unknown snapshot $id"))
    /** parent-chain from `to` (inclusive) down to `fromExclusive`
      * (exclusive); newest first. */
    def lineage(fromExclusive: Option[Long], to: Long): Seq[Snapshot] = {
      val out = Seq.newBuilder[Snapshot]
      var cur: Option[Long] = Some(to)
      while (cur.isDefined && fromExclusive != cur) {
        // a parent EXPIRED from metadata means the window crosses
        // history that no longer exists — typed, not an unknown-id
        // crash (expireSnapshots leaves kept snapshots' parent ids
        // dangling by design)
        val s = snapshots.find(_.id == cur.get).getOrElse(
          throw graft.core.GraftError.Plan(
            s"iceberg fidelity: incremental window (${fromExclusive.getOrElse("-")}, $to] " +
              s"crosses snapshot ${cur.get}, which is expired from metadata — re-window " +
              "from a retained snapshot"))
        out += s
        cur = s.parentId
      }
      require(fromExclusive.forall(f => cur.contains(f)),
        s"snapshot $fromExclusive is not an ancestor of $to")
      out.result()
    }
  }
  final case class DataFileRef(path: String, recordCount: Long, sizeBytes: Long,
      /** identity partition values from the manifest entry's
        * `data_file.partition` struct (empty for unpartitioned). */
      partition: Map[String, Any] = Map.empty,
      /** data sequence number (inherited from the adding snapshot) —
        * decides which delete files apply to this file's rows. */
      seq: Long = 0L,
      /** snapshot that added the file (entry snapshot_id, falling back
        * to the manifest's) — carried so compaction can preserve it on
        * EXISTING entries. */
      addedBy: Option[Long] = None,
      /** manifest column statistics (spec data_file fields 125/128/110):
        * field-id → Appendix-D single-value bytes for per-file min/max,
        * field-id → null count. Written from parquet FOOTERS at commit;
        * read back for stats-based file pruning. Absent entries prune
        * nothing (conservative-on-missing). */
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      /** partition_spec_id of the manifest that listed this file —
        * pruning interprets `partition` under THAT spec (partition
        * evolution: different files, different layouts). */
      specId: Long = 0L)

  /** A delete file from a v2/v3 merge-on-read table. content 1 =
    * position deletes (parquet `file_path`+`pos`, or a v3 puffin
    * DELETION VECTOR — format "PUFFIN" with the blob coordinates and
    * the one data file it references), content 2 = equality deletes
    * (the columns named by `equalityIds`). */
  final case class DeleteFileRef(path: String, content: Int, seq: Long,
      equalityIds: Seq[Int], format: String = "PARQUET",
      contentOffset: Option[Long] = None, contentSize: Option[Long] = None,
      referencedFile: Option[String] = None) {
    def isDv: Boolean = format.equalsIgnoreCase("PUFFIN")
  }

  // ------------------------------------------------------------- read

  def currentVersion(tableDir: String): Int = {
    val hint = Paths.get(tableDir, "metadata", "version-hint.text")
    new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt
  }

  def readMeta(tableDir: String): TableMeta = readMeta(tableDir, currentVersion(tableDir))

  def readMeta(tableDir: String, version: Int): TableMeta = {
    val p = Paths.get(tableDir, "metadata", s"v$version.metadata.json")
    val j = CanonicalJson.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    val f = CanonicalJson.objFields(j)
    // the spec's version gate: readers MUST refuse tables written under
    // a format version they do not implement — a v4 table may encode
    // semantics (new delete kinds, new entry fields) this reader would
    // silently misread. ONE extraction feeds both the gate and the
    // recorded TableMeta.formatVersion so they can never diverge.
    val fmtVersion = f.get("format-version").collect { case JInt(v) => v }.getOrElse(2L)
    if (fmtVersion < 1 || fmtVersion > 3)
      throw graft.core.GraftError.Plan(
        s"iceberg fidelity: format-version $fmtVersion at $p — this reader implements " +
          "versions 1-3 and refuses to guess at newer semantics")
    def longOf(x: J): Long = x match {
      case JInt(v) => v
      case other => throw new IllegalArgumentException(s"expected int, got $other")
    }
    val snaps = f.get("snapshots") match {
      case Some(JArr(vs)) => vs.map { s =>
        val sf = CanonicalJson.objFields(s)
        Snapshot(
          longOf(sf("snapshot-id")),
          sf.get("parent-snapshot-id").collect { case JInt(v) => v },
          longOf(sf("sequence-number")),
          longOf(sf("timestamp-ms")),
          sf("manifest-list") match { case JStr(v) => v; case o => o.toString },
          sf.get("summary").map(CanonicalJson.objFields).flatMap(_.get("operation"))
            .collect { case JStr(op) => op }.getOrElse("append"),
          sf.get("schema-id").collect { case JInt(v) => v })
      }
      case _ => Seq.empty
    }
    val cur = f.get("current-snapshot-id").collect { case JInt(v) if v >= 0 => v }
    val loc = f.get("location").collect { case JStr(v) => v }.getOrElse(tableDir)
    // schemas, each under its schema-id: field identity is the ID
    // (renames keep it, adds allocate fresh) — id-based resolution
    // reads files written under any historical schema
    val schemasById: Map[Long, Seq[SchemaField]] = f.get("schemas") match {
      case Some(JArr(ss)) => ss.zipWithIndex.map { case (s, i) =>
        val sf = CanonicalJson.objFields(s)
        val sid = sf.get("schema-id").collect { case JInt(v) => v }.getOrElse(i.toLong)
        val fields = sf.get("fields") match {
          case Some(JArr(fs)) => fs.flatMap { fd =>
            val ff = CanonicalJson.objFields(fd)
            (ff.get("id"), ff.get("name")) match {
              case (Some(JInt(id)), Some(JStr(n))) =>
                // primitive types only — nested types (JObj) carry no
                // decodable bounds; record a vestigial name for them
                Seq(SchemaField(id, n,
                  ff.get("type").collect { case JStr(t) => t }.getOrElse("struct")))
              case _ => Nil
            }
          }
          case _ => Seq.empty
        }
        sid -> fields
      }.toMap
      case _ => Map.empty
    }
    val currentSchemaId = f.get("current-schema-id").collect { case JInt(v) => v }
      .getOrElse(schemasById.keys.maxOption.getOrElse(0L))
    val lastColumnId = f.get("last-column-id").collect { case JInt(v) => v }
      .getOrElse(schemasById.values.flatten.map(_.id).maxOption.getOrElse(0L))
    // id maps are scoped to the CURRENT schema: equality-delete ids and
    // partition sources resolve to the names a reader sees TODAY, and
    // bounds written under an old name still decode (same id)
    val curFields = schemasById.getOrElse(currentSchemaId, Seq.empty)
    val fieldNameById: Map[Long, String] = curFields.map(x => x.id -> x.name).toMap
    val fieldTypeById: Map[Long, String] =
      curFields.filterNot(_.tpe == "struct").map(x => x.id -> x.tpe).toMap
    // partition specs: every transform is accepted — transforms decide
    // LAYOUT and how much a predicate can prune, never row content
    // (source columns live in the data files regardless). The typed
    // spec drives per-transform pruning in fileMayMatch.
    val defaultSpecId = f.get("default-spec-id").collect { case JInt(v) => v }
    val allSpecs: Seq[(Long, Seq[PartField])] = f.get("partition-specs") match {
      case Some(JArr(specs)) if specs.nonEmpty =>
        specs.map { s =>
          val sf = CanonicalJson.objFields(s)
          val specId = sf.get("spec-id").collect { case JInt(v) => v }.getOrElse(0L)
          val fields = sf.get("fields") match {
            case Some(JArr(fds)) => fds.map { fd =>
              val ff = CanonicalJson.objFields(fd)
              val transform = ff.get("transform").collect { case JStr(t) => t }.getOrElse("?")
              val name = ff.get("name").collect { case JStr(n) => n }
              val srcId = ff.get("source-id").collect { case JInt(v) => v }
              val source = srcId.flatMap(fieldNameById.get).orElse(name)
                .getOrElse(throw graft.core.GraftError.Plan(
                  "iceberg fidelity: partition field without a resolvable name"))
              PartField(name.getOrElse(source), source, transform, sourceId = srcId)
            }
            case _ => Seq.empty
          }
          specId -> fields
        }
      case _ => Seq.empty
    }
    val chosenDefault = allSpecs.find(p => defaultSpecId.contains(p._1))
      .orElse(allSpecs.lastOption)
    val spec: Seq[PartField] = chosenDefault.map(_._2).getOrElse(Seq.empty)
    val refs: Map[String, SnapshotRef] = f.get("refs") match {
      case Some(JObj(rs)) => rs.flatMap { case (name, v) =>
        val rf = CanonicalJson.objFields(v)
        rf.get("snapshot-id").collect { case JInt(sid) =>
          name -> SnapshotRef(sid,
            rf.get("type").collect { case JStr(t) => t }.getOrElse("branch"))
        }
      }.toMap
      case _ => Map.empty
    }
    val sortOrder: Seq[String] = f.get("sort-orders") match {
      case Some(JArr(sos)) =>
        val defaultOid = f.get("default-sort-order-id").collect { case JInt(v) => v }
        sos.map(CanonicalJson.objFields)
          .find(so => defaultOid.forall(oid =>
            so.get("order-id").collect { case JInt(v) => v }.contains(oid)))
          .flatMap(_.get("fields")).collect { case JArr(fs) =>
            fs.flatMap { fd =>
              val ff = CanonicalJson.objFields(fd)
              ff.get("source-id").collect { case JInt(sid) => sid }
                .flatMap(fieldNameById.get)
            }
          }.getOrElse(Seq.empty)
      case _ => Seq.empty
    }
    TableMeta(loc, cur, snaps, version, spec, fieldNameById,
      formatVersion = fmtVersion, fieldTypesById = fieldTypeById,
      schemasById = schemasById, currentSchemaId = currentSchemaId,
      lastColumnId = lastColumnId,
      specsById = allSpecs.toMap,
      defaultSpecId = chosenDefault.map(_._1).getOrElse(0L),
      refs = refs,
      sortOrder = sortOrder)
  }

  private def readAvro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](new File(path),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  /** Plan-time fidelity gate: any long-valued field of an Avro record
    * (reader uses the WRITER's embedded schema, so fields outside our
    * subset schema are still visible) that signals deletes must be 0. */
  private def longField(r: GenericRecord, name: String): Long =
    if (r.getSchema.getField(name) == null) 0L
    else r.get(name) match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case _ => 0L
    }

  /** One manifest as listed by the manifest list: its path, its
    * content (0 = data, 1 = deletes) and the snapshot that added it. */
  private final case class ManifestRef(path: String, content: Int, addedSnapshotId: Long,
      specId: Long = 0L)

  /** manifest-list → manifests, optionally restricted to those added
    * by `addedBy`. Delete manifests (content=1) are RETURNED, not
    * rejected — the planner routes their delete files into the
    * merge-on-read apply; data manifests recording removed files are
    * fine too (their status=2 entries are skipped per entry). */
  private def manifests(manifestList: String, addedBy: Option[Set[Long]]): Seq[ManifestRef] =
    readAvro(manifestList)
      .filter(m => addedBy.forall(_.contains(m.get("added_snapshot_id").asInstanceOf[Long])))
      .map(m => ManifestRef(m.get("manifest_path").toString,
        longField(m, "content").toInt,
        m.get("added_snapshot_id").asInstanceOf[Long],
        specId = longField(m, "partition_spec_id")))

  /** identity partition values from the entry's `data_file.partition`
    * struct (reader sees the writer's schema, so the struct is visible
    * even though our subset schema omits it). Avro Utf8 → String.
    *
    * A null STRING-typed partition value is recorded as NO INFO (key
    * omitted) rather than null: Spark's path layout writes BOTH null
    * and empty-string values as `__HIVE_DEFAULT_PARTITION__`, so a
    * string null in a manifest cannot prove the source rows are null —
    * treating it as null would let the null-preserving rule prune a
    * file of `""` rows for `EqualTo(c, "")` (silent row loss). The
    * pruning layer already keeps files whose partition key is absent.
    * Non-string types have no such collision (no value renders empty),
    * so their nulls stay exact information. */
  private def partitionOf(df: GenericRecord): Map[String, Any] =
    Option(df.getSchema.getField("partition")).map(_ => df.get("partition")) match {
      case Some(r: GenericRecord) =>
        r.getSchema.getFields.asScala.flatMap { pf =>
          r.get(pf.name()) match {
            case u: org.apache.avro.util.Utf8 => Some(pf.name() -> u.toString)
            case null if avroFieldIsString(pf) => None // null-or-"" → no info
            case other => Some(pf.name() -> other)
          }
        }.toMap
      case _ => Map.empty
    }

  /** Does the (possibly nullable-union) avro field hold strings? */
  private def avroFieldIsString(pf: Schema.Field): Boolean = {
    val s = pf.schema()
    val branches = if (s.getType == Schema.Type.UNION) s.getTypes.asScala.toSeq else Seq(s)
    branches.exists(_.getType == Schema.Type.STRING)
  }

  /** One manifest entry: status, adding snapshot, file content kind
    * (0 data / 1 position deletes / 2 equality deletes), the file
    * reference, the entry's EXPLICIT sequence number when the writer
    * recorded one (compacted EXISTING entries carry it; inheritance
    * only covers null + ADDED), and — for equality deletes — the
    * equality field ids. */
  private final case class RawEntry(status: Int, snapshotId: Option[Long],
      content: Int, ref: DataFileRef, equalityIds: Seq[Int], fileFormat: String,
      seqNumber: Option[Long] = None,
      /** v3 deletion-vector coordinates from the data_file struct. */
      referencedFile: Option[String] = None,
      contentOffset: Option[Long] = None, contentSize: Option[Long] = None)

  private def entries(manifestPath: String): Seq[RawEntry] =
    readAvro(manifestPath).map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      def optLong(name: String): Option[Long] =
        if (e.getSchema.getField(name) == null) None
        else Option(e.get(name)).map(_.asInstanceOf[Long])
      val content = longField(df, "content").toInt
      if (content < 0 || content > 2)
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: unknown data_file content=$content in $manifestPath — " +
            "refusing to guess its semantics")
      val eqIds: Seq[Int] =
        if (df.getSchema.getField("equality_ids") == null) Nil
        else df.get("equality_ids") match {
          case null => Nil
          case xs: java.util.Collection[_] =>
            xs.asScala.toSeq.collect {
              case i: java.lang.Integer => i.intValue()
              case l: java.lang.Long => l.intValue()
            }
          case _ => Nil
        }
      def optDfLong(name: String): Option[Long] =
        if (df.getSchema.getField(name) == null) None
        else Option(df.get(name)).map {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case other => throw graft.core.GraftError.Plan(
            s"iceberg fidelity: non-numeric $name in $manifestPath: $other")
        }
      // manifest column stats: the spec's array<struct<key,value>>
      // map encoding (data_file fields 110/125/128) — absent fields or
      // null values read as empty maps (no pruning, never an error)
      def kvRecords(name: String): Seq[GenericRecord] =
        if (df.getSchema.getField(name) == null) Nil
        else df.get(name) match {
          case xs: java.util.Collection[_] =>
            xs.asScala.toSeq.collect { case r: GenericRecord => r }
          case _ => Nil
        }
      def kvKey(r: GenericRecord): Int = r.get("key") match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case other => throw graft.core.GraftError.Plan(
          s"iceberg fidelity: non-int stats map key in $manifestPath: $other")
      }
      def kvBytes(name: String): Map[Int, Array[Byte]] =
        kvRecords(name).flatMap { r =>
          Option(r.get("value")).map {
            case bb: java.nio.ByteBuffer =>
              val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
            case ab: Array[Byte] => ab
            case other => throw graft.core.GraftError.Plan(
              s"iceberg fidelity: non-binary bound value in $manifestPath: ${other.getClass}")
          }.map(kvKey(r) -> _)
        }.toMap
      def kvLongs(name: String): Map[Int, Long] =
        kvRecords(name).flatMap { r =>
          Option(r.get("value")).map {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case other => throw graft.core.GraftError.Plan(
              s"iceberg fidelity: non-long stats count in $manifestPath: $other")
          }.map(kvKey(r) -> _)
        }.toMap
      RawEntry(e.get("status").asInstanceOf[Int],
        Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]),
        content,
        DataFileRef(df.get("file_path").toString,
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          partitionOf(df),
          lowerBounds = kvBytes("lower_bounds"),
          upperBounds = kvBytes("upper_bounds"),
          nullCounts = kvLongs("null_value_counts")),
        eqIds,
        Option(df.get("file_format")).map(_.toString).getOrElse("PARQUET"),
        optLong("sequence_number").orElse(optLong("data_sequence_number")),
        referencedFile =
          if (df.getSchema.getField("referenced_data_file") == null) None
          else Option(df.get("referenced_data_file")).map(_.toString),
        contentOffset = optDfLong("content_offset"),
        contentSize = optDfLong("content_size_in_bytes"))
    }

  /** Validate a delete entry's format and build its ref: parquet
    * position/equality files, and v3 PUFFIN deletion vectors —
    * content=1 with the blob coordinates and the single data file
    * they reference (Iceberg table-spec v3). Anything else is refused
    * typed, never guessed at. */
  private def deleteRefOf(e: RawEntry, manifestPath: String): DeleteFileRef =
    if (e.fileFormat.equalsIgnoreCase("PUFFIN")) {
      if (e.content != 1 || e.referencedFile.isEmpty ||
          e.contentOffset.isEmpty || e.contentSize.isEmpty)
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: puffin delete file ${e.ref.path} in $manifestPath is not a " +
            "well-formed v3 deletion vector (needs content=1, referenced_data_file, " +
            "content_offset, content_size_in_bytes)")
      DeleteFileRef(e.ref.path, 1, 0L, Nil, "PUFFIN",
        e.contentOffset, e.contentSize, e.referencedFile)
    } else if (!e.fileFormat.equalsIgnoreCase("PARQUET"))
      throw graft.core.GraftError.Plan(
        s"iceberg fidelity: ${e.fileFormat} delete file ${e.ref.path} — only parquet " +
          "position/equality delete files and v3 puffin deletion vectors are readable")
    else DeleteFileRef(e.ref.path, e.content, 0L, e.equalityIds)

  /** Data sequence number for an entry: the entry's EXPLICIT field
    * first (the spec's rule — v2 inheritance applies only when the
    * field is null), else inherited from the adding snapshot. None
    * when neither resolves (compacted EXISTING entry whose adding
    * snapshot expired from metadata) — the caller decides whether
    * that matters (it only does when delete files exist). */
  private def entrySeq(e: RawEntry, m: ManifestRef, meta: TableMeta): Option[Long] =
    e.seqNumber.orElse {
      val sid = e.snapshotId.getOrElse(m.addedSnapshotId)
      meta.snapshots.find(_.id == sid).map(_.sequenceNumber)
    }

  // ------------------------------------------- partition transforms

  /** MurmurHash3 x86_32 over bytes, seed 0 — the spec's bucket hash
    * (Appendix B; pinned to the published test vectors in IcebergSpec). */
  private[graft] def murmur3(data: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = seed
    var i = 0
    val n = data.length & ~3
    while (i < n) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k1 = 0
    (data.length & 3) match {
      case 3 => k1 ^= (data(n + 2) & 0xff) << 16; k1 ^= (data(n + 1) & 0xff) << 8; k1 ^= data(n) & 0xff
      case 2 => k1 ^= (data(n + 1) & 0xff) << 8; k1 ^= data(n) & 0xff
      case 1 => k1 ^= data(n) & 0xff
      case _ => ()
    }
    if ((data.length & 3) != 0) { k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h ^= k1 }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /** Spec bucket function: (murmur3(serialized) & Int.MaxValue) % N.
    * Integral values hash as 8-byte little-endian longs (int and long
    * agree — Appendix B), strings as UTF-8 bytes, dates as their
    * epoch-day int widened to long. Unsupported types → None. */
  private[graft] def bucketOf(v: Any, n: Int): Option[Int] = {
    def longBytes(l: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
    val bytes: Option[Array[Byte]] = v match {
      case i: java.lang.Integer => Some(longBytes(i.longValue()))
      case l: java.lang.Long => Some(longBytes(l.longValue()))
      case s: java.lang.Short => Some(longBytes(s.longValue()))
      case b: java.lang.Byte => Some(longBytes(b.longValue()))
      case s: String => Some(s.getBytes(StandardCharsets.UTF_8))
      case d: java.sql.Date => Some(longBytes(d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => Some(longBytes(d.toEpochDay))
      case _ => None
    }
    bytes.map(b => (murmur3(b) & Int.MaxValue) % n)
  }

  private def toLocalDate(v: Any): Option[java.time.LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: java.time.LocalDate => Some(d)
    case t: java.sql.Timestamp => Some(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    case i: java.time.Instant => Some(i.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    case _ => None
  }

  private def toInstant(v: Any): Option[java.time.Instant] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant)
    case i: java.time.Instant => Some(i)
    case _ => None
  }

  /** T(literal) for a transform — the value the spec's transform would
    * store for a row carrying `lit`. None = not computable (no prune).
    * Temporal ordinals per the spec: year/month relative to 1970,
    * day = epoch days, hour = epoch hours (UTC). */
  private[graft] def transformLit(transform: String, lit: Any): Option[Any] = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    transform match {
      case "identity" => Option(lit)
      case Bucket(n) => bucketOf(lit, n.toInt)
      case Truncate(w) =>
        val width = w.toInt
        lit match {
          case i: java.lang.Integer => Some(Int.box(i - java.lang.Math.floorMod(i.intValue(), width)))
          case l: java.lang.Long => Some(Long.box(l - java.lang.Math.floorMod(l.longValue(), width.toLong)))
          case s: String =>
            val cps = s.codePoints().toArray
            Some(if (cps.length <= width) s else new String(cps, 0, width))
          case _ => None
        }
      case "year" => toLocalDate(lit).map(d => Int.box(d.getYear - 1970))
      case "month" => toLocalDate(lit).map(d => Int.box((d.getYear - 1970) * 12 + d.getMonthValue - 1))
      case "day" => toLocalDate(lit).map(d => Long.box(d.toEpochDay))
      case "hour" => toInstant(lit).map(i => Long.box(Math.floorDiv(i.getEpochSecond, 3600L)))
      case _ => None // void / unknown: no pruning
    }
  }

  /** order-preserving transforms: the interval rule applies. */
  private def monotone(transform: String): Boolean =
    transform == "identity" || transform.startsWith("truncate[") ||
      Set("year", "month", "day", "hour").contains(transform)

  /** transforms KNOWN to map null→null and non-null→non-null. Null-based
    * exclusion is sound only for these — void maps everything to null,
    * and an UNKNOWN transform might too, so both are excluded (a future
    * void-like transform must never cause a wrong prune). */
  private def nullPreserving(transform: String): Boolean =
    transform == "identity" || transform.startsWith("bucket[") || monotone(transform)

  /** Order comparison for pruning decisions — sound or absent. Integral
    * values compare as longs (a double roundtrip collides beyond 2^53:
    * Not(EqualTo) could prune a file whose value merely ROUNDS to the
    * literal); floating values compare as doubles; strings compare by
    * CODE POINT to match Spark's UTF-8 binary order (UTF-16
    * String.compareTo misorders supplementary characters against
    * the U+E000..U+FFFF block, which could unsoundly exclude a range
    * file). Mixed
    * or unknown type pairs → None → keep the file. */
  private[graft] def cmpValues(pv: Any, lit: Any): Option[Int] = {
    def integral(v: Any): Option[Long] = v match {
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long => Some(l.longValue())
      case s: java.lang.Short => Some(s.longValue())
      case b: java.lang.Byte => Some(b.longValue())
      case _ => None
    }
    def floating(v: Any): Option[Double] = v match {
      case d: java.lang.Double => Some(d.doubleValue())
      case f: java.lang.Float => Some(f.doubleValue())
      case _ => None
    }
    def cmpCodePoints(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
    (pv, lit) match {
      case (null, _) | (_, null) => None
      case (a: String, b: String) => Some(cmpCodePoints(a, b))
      case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
      case (a: java.math.BigDecimal, b: java.math.BigDecimal) => Some(a.compareTo(b))
      case (a: java.math.BigDecimal, b: scala.math.BigDecimal) => Some(a.compareTo(b.bigDecimal))
      case (a: scala.math.BigDecimal, b: java.math.BigDecimal) => Some(a.bigDecimal.compareTo(b))
      // instant-semantics timestamps: bound is Instant; Spark's pushed
      // literal is java.sql.Timestamp (default) or Instant (java8 API).
      // Wall-clock (NTZ) bounds are LocalDateTime and only compare
      // against LocalDateTime literals — never across the two domains.
      case (a: java.time.Instant, b: java.time.Instant) => Some(a.compareTo(b))
      case (a: java.time.Instant, b: java.sql.Timestamp) => Some(a.compareTo(b.toInstant))
      case (a: java.time.LocalDateTime, b: java.time.LocalDateTime) => Some(a.compareTo(b))
      case _ =>
        // dates compare by epoch day — STRICTLY date-typed on both
        // sides (a timestamp literal date-truncated against a date
        // bound would make ranges unsound)
        def dateOnly(v: Any): Option[Long] = v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case _ => None
        }
        (integral(pv), integral(lit)) match {
          case (Some(a), Some(b)) => Some(java.lang.Long.compare(a, b))
          case _ => (floating(pv), floating(lit)) match {
            case (Some(a), Some(b)) => Some(java.lang.Double.compare(a, b))
            case _ => (dateOnly(pv), dateOnly(lit)) match {
              case (Some(a), Some(b)) => Some(java.lang.Long.compare(a, b))
              case _ => None // mixed families / unsupported: keep
            }
          }
        }
    }
  }

  // ------------------------------------- manifest column statistics

  /** Iceberg Appendix-D binary single-value serialization for the
    * primitive types whose parquet footer stats prune soundly:
    * int (4 LE), long (8 LE), boolean (1 byte), date (epoch-day int,
    * 4 LE), string (UTF-8 bytes), decimal (minimal two's-complement
    * BIG-endian unscaled bytes; the scale lives in the type),
    * timestamp/timestamptz (long micros, 8 LE — footers yield these
    * only for INT64 layouts; INT96 records no usable stats and simply
    * produces no bound). Everything else → None (no bound —
    * float/double are excluded for NaN soundness). */
  private[graft] def serializeBound(tpe: String, v: Any): Option[Array[Byte]] = {
    def le(n: Int)(put: java.nio.ByteBuffer => Unit): Option[Array[Byte]] = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      put(b); Some(b.array())
    }
    (tpe, v) match {
      case ("int", i: Int) => le(4)(_.putInt(i))
      case ("long", l: Long) => le(8)(_.putLong(l))
      case ("boolean", b: Boolean) => Some(Array[Byte](if (b) 1 else 0))
      case ("date", d: java.time.LocalDate) => le(4)(_.putInt(d.toEpochDay.toInt))
      case ("string", s: String) => Some(s.getBytes(StandardCharsets.UTF_8))
      case (DecimalRe(_, s), d: java.math.BigDecimal) =>
        // rescale to the declared scale first: the unscaled integer is
        // only comparable under ONE scale, and readers reconstruct with
        // the type's. Precision overflow cannot happen for values that
        // came out of a column of this very type.
        Some(d.setScale(s.toInt).unscaledValue().toByteArray)
      // timestamps: Appendix-D long micros (8 LE). The VALUE domain
      // keeps instant vs wall-clock distinct (Instant for timestamptz,
      // LocalDateTime for timestamp) so a bound can never compare
      // against the wrong kind of literal.
      case ("timestamptz", i: java.time.Instant) =>
        le(8)(_.putLong(i.getEpochSecond * 1000000L + i.getNano / 1000L))
      case ("timestamp", l: java.time.LocalDateTime) =>
        le(8)(_.putLong(
          l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L))
      case _ => None
    }
  }

  private[graft] def deserializeBound(tpe: String, bytes: Array[Byte]): Option[Any] = {
    def le = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tpe match {
      case "int" if bytes.length == 4 => Some(le.getInt)
      case "long" if bytes.length == 8 => Some(le.getLong)
      case "boolean" if bytes.length == 1 => Some(bytes(0) != 0)
      case "date" if bytes.length == 4 => Some(java.time.LocalDate.ofEpochDay(le.getInt.toLong))
      case "string" => Some(new String(bytes, StandardCharsets.UTF_8))
      case DecimalRe(_, s) if bytes.nonEmpty =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), s.toInt))
      case "timestamptz" if bytes.length == 8 =>
        val us = le.getLong
        Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case "timestamp" if bytes.length == 8 =>
        val us = le.getLong
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case _ => None // unknown type or malformed width: no bound
    }
  }

  /** String-bound truncation (the spec's recommended 16-unit cap, so
    * long text columns never bloat manifests). Lower bounds truncate
    * DOWN (a prefix is ≤ every string it prefixes); upper bounds
    * truncate UP by incrementing the last incrementable code point —
    * None when no prefix can be incremented (bound omitted). */
  private[graft] def truncLower(s: String, w: Int = 16): String =
    if (s.codePointCount(0, s.length) <= w) s
    else new String(s.codePoints().toArray, 0, w)

  private[graft] def truncUpper(s: String, w: Int = 16): Option[String] =
    if (s.codePointCount(0, s.length) <= w) Some(s)
    else {
      val cps = s.codePoints().toArray.take(w)
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
      if (i < 0) None
      else {
        // skip the surrogate gap: an isolated D800..DFFF code point
        // would not survive a UTF-8 round trip
        val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
        Some(new String(cps.take(i) :+ next, 0, i + 1))
      }
    }

  /** Smallest string strictly greater than EVERY string with prefix
    * `p`: increment p's last incrementable code point (skipping the
    * surrogate gap), dropping anything after it. None when p is all
    * MAX_CODE_POINT (no such string — the caller skips that clause).
    * Every p-prefixed s satisfies p ≤ s < succPrefix(p). */
  private[graft] def succPrefix(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  /** Push NOT through a pushed-filter tree into positive forms the
    * pruning evaluators can decide. Every rewrite is truth-set-EXACT
    * under SQL's Kleene 3VL (a row survives a filter iff it evaluates
    * TRUE, never NULL): De Morgan holds exactly in Kleene logic,
    * NOT(c > v) is TRUE iff c <= v (a null c satisfies neither side),
    * `<=>` is two-valued so its negation splits into IS NULL OR ≠, and
    * NOT(c IN (v..)) with no null element is exactly the conjunction
    * of the ≠s. A null literal inside a comparison, or a null element
    * inside a negated IN, makes the predicate unsatisfiable-or-null —
    * those stay wrapped (evaluators retain conservatively). The
    * rewrite itself never prunes; it only exposes structure. */
  private[graft] def normalizeNot(f: SFilter): SFilter = {
    import org.apache.spark.sql.{sources => sf}
    f match {
      case sf.And(l, r) => sf.And(normalizeNot(l), normalizeNot(r))
      case sf.Or(l, r) => sf.Or(normalizeNot(l), normalizeNot(r))
      // c <=> null ⟺ c IS NULL; c <=> v ⟺ c = v for filtering (null c
      // fails both — FALSE vs NULL is the same survivorship)
      case sf.EqualNullSafe(c, null) => sf.IsNull(c)
      case sf.EqualNullSafe(c, v) => sf.EqualTo(c, v)
      case sf.Not(g) => g match {
        case sf.Not(h) => normalizeNot(h)
        case sf.And(l, r) => sf.Or(normalizeNot(sf.Not(l)), normalizeNot(sf.Not(r)))
        case sf.Or(l, r) => sf.And(normalizeNot(sf.Not(l)), normalizeNot(sf.Not(r)))
        case sf.GreaterThan(c, v) if v != null => sf.LessThanOrEqual(c, v)
        case sf.GreaterThanOrEqual(c, v) if v != null => sf.LessThan(c, v)
        case sf.LessThan(c, v) if v != null => sf.GreaterThanOrEqual(c, v)
        case sf.LessThanOrEqual(c, v) if v != null => sf.GreaterThan(c, v)
        case sf.IsNull(c) => sf.IsNotNull(c)
        case sf.IsNotNull(c) => sf.IsNull(c)
        case sf.EqualNullSafe(c, null) => sf.IsNotNull(c)
        case sf.EqualNullSafe(c, v) => sf.Or(sf.IsNull(c), sf.Not(sf.EqualTo(c, v)))
        case sf.In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
          vs.map(v => sf.Not(sf.EqualTo(c, v)): SFilter).reduce(sf.And(_, _))
        case other => sf.Not(other)
      }
      case other => other
    }
  }

  /** The one gate every scan path applies per (pushed filter, data
    * file): normalize NOT first, then both the transform-aware
    * partition rules and the manifest bounds/null-count rules must
    * agree the file may match. */
  private def fileSurvives(filters: Seq[SFilter], f: DataFileRef,
      meta: TableMeta): Boolean =
    filters.forall { fl0 =>
      val fl = normalizeNot(fl0)
      fileMayMatch(fl, f.partition, meta.specFor(f.specId)) && statsMayMatch(fl, f, meta)
    }

  /** Conservative file-level predicate evaluation against the manifest
    * column bounds + null counts (the reference's stats-pruning law:
    * Pruned | RetainedMayMatch | RetainedConservatively — verified
    * statistics may skip work but never produce identity-bearing
    * bytes, crates/cdf-engine/src/statistics_pruning.rs:27-160 and
    * docs/performance-envelope.md:107). Returns false ONLY when the
    * predicate PROVABLY matches no row: missing bounds, unknown
    * columns, undecodable types → keep the file. Sound with truncated
    * string bounds (lower ≤ true min, upper ≥ true max). */
  private[graft] def statsMayMatch(f: SFilter, ref: DataFileRef,
      meta: TableMeta): Boolean = {
    if (ref.lowerBounds.isEmpty && ref.upperBounds.isEmpty && ref.nullCounts.isEmpty)
      return true
    import org.apache.spark.sql.{sources => sf}
    val idByName: Map[String, Long] = meta.fieldNamesById.map(_.swap)
    def decode(c: String, m: Map[Int, Array[Byte]]): Option[Any] =
      for {
        id <- idByName.get(c)
        tpe <- meta.fieldTypesById.get(id)
        bytes <- m.get(id.toInt)
        v <- deserializeBound(tpe, bytes)
      } yield v
    def lower(c: String): Option[Any] = decode(c, ref.lowerBounds)
    def upper(c: String): Option[Any] = decode(c, ref.upperBounds)
    def nullsOf(c: String): Option[Long] =
      idByName.get(c).flatMap(id => ref.nullCounts.get(id.toInt))
    // every row null → no comparison predicate can match (SQL nulls)
    def allNull(c: String): Boolean =
      ref.recordCount > 0 && nullsOf(c).contains(ref.recordCount)
    def eqNoMatch(c: String, lit: Any): Boolean =
      lit != null && (allNull(c) ||
        lower(c).exists(lo => cmpValues(lit, lo).exists(_ < 0)) ||
        upper(c).exists(hi => cmpValues(lit, hi).exists(_ > 0)))
    f match {
      case sf.EqualTo(c, lit) => !eqNoMatch(c, lit)
      case sf.In(c, vs) => !(vs.nonEmpty && vs.forall(v => eqNoMatch(c, v)))
      case sf.GreaterThan(c, lit) => !(lit != null && (allNull(c) ||
        upper(c).exists(hi => cmpValues(hi, lit).exists(_ <= 0))))
      case sf.GreaterThanOrEqual(c, lit) => !(lit != null && (allNull(c) ||
        upper(c).exists(hi => cmpValues(hi, lit).exists(_ < 0))))
      case sf.LessThan(c, lit) => !(lit != null && (allNull(c) ||
        lower(c).exists(lo => cmpValues(lo, lit).exists(_ >= 0))))
      case sf.LessThanOrEqual(c, lit) => !(lit != null && (allNull(c) ||
        lower(c).exists(lo => cmpValues(lo, lit).exists(_ > 0))))
      case sf.IsNull(c) => !nullsOf(c).contains(0L)
      case sf.IsNotNull(c) => !allNull(c)
      // LIKE 'p%': every p-prefixed s satisfies p ≤ s < succPrefix(p),
      // so the file provably has no match when max < p or min ≥ succ(p).
      // Sound under bound truncation (lower ≤ true min, upper ≥ true
      // max only ever WEAKENS both clauses).
      case sf.StringStartsWith(c, p) => !(p != null && (allNull(c) ||
        upper(c).exists(hi => cmpValues(hi, p).exists(_ < 0)) ||
        succPrefix(p).exists(sp =>
          lower(c).exists(lo => cmpValues(lo, sp).exists(_ >= 0)))))
      case sf.And(l, r) => statsMayMatch(l, ref, meta) && statsMayMatch(r, ref, meta)
      case sf.Or(l, r) => statsMayMatch(l, ref, meta) || statsMayMatch(r, ref, meta)
      // ≠ prunes only when every non-null row provably EQUALS lit
      // (lower == upper == lit, untruncated by construction when
      // equal) — null rows never satisfy ≠ either, so no null guard
      case sf.Not(sf.EqualTo(c, lit)) =>
        !(lit != null && lower(c).isDefined && lower(c) == upper(c) &&
          lower(c).exists(lo => cmpValues(lo, lit).contains(0)))
      // NOT LIKE 'p%' is satisfied only by non-null non-p-prefixed
      // rows; provably none when every row is null, or both bounds are
      // themselves p-prefixed — any s with lo ≤ s ≤ hi where lo and hi
      // share the prefix p must share it too (a first differing
      // codepoint below |p| would push s outside [lo, hi]). Truncation
      // only widens [lo, hi], so p-prefixed TRUNCATED bounds still pin
      // every true value inside the prefix interval.
      case sf.Not(sf.StringStartsWith(c, p)) =>
        !(p != null && (allNull(c) ||
          (lower(c).exists { case lo: String => lo.startsWith(p); case _ => false } &&
            upper(c).exists { case hi: String => hi.startsWith(p); case _ => false })))
      case _ => true
    }
  }

  // -------------------------------------------------- partition pruning

  /** Conservative file-level predicate evaluation against identity
    * partition values: returns false ONLY when `f` provably matches no
    * row of the file (every row shares the file's partition value under
    * identity). Unknown columns, absent values, or incomparable types
    * keep the file — pruning can never change results, only skip I/O
    * (the stats-pruning conservative-on-missing law, SURVEY §2.10). */
  private[sources] def mayMatch(f: SFilter, part: Map[String, Any]): Boolean = {
    import org.apache.spark.sql.{sources => sf}
    def cmp(pv: Any, lit: Any): Option[Int] = cmpValues(pv, lit)
    def rel(c: String, lit: Any)(keep: Int => Boolean): Boolean = part.get(c) match {
      case None => true        // not a partition column → unknown → keep
      case Some(null) => false // all rows null → comparison never matches
      case Some(pv) => cmp(pv, lit).forall(keep)
    }
    f match {
      case sf.EqualTo(c, lit) => rel(c, lit)(_ == 0)
      case sf.GreaterThan(c, lit) => rel(c, lit)(_ > 0)
      case sf.GreaterThanOrEqual(c, lit) => rel(c, lit)(_ >= 0)
      case sf.LessThan(c, lit) => rel(c, lit)(_ < 0)
      case sf.LessThanOrEqual(c, lit) => rel(c, lit)(_ <= 0)
      case sf.In(c, vs) => part.get(c) match {
        case None => true
        case Some(null) => false
        case Some(pv) =>
          val cs = vs.toSeq.map(cmp(pv, _))
          cs.exists(_.contains(0)) || cs.exists(_.isEmpty)
      }
      case sf.IsNull(c) => part.get(c).forall(_ == null)
      case sf.IsNotNull(c) => part.get(c).forall(_ != null)
      // identity partition: every row holds pv exactly, so LIKE 'p%'
      // is decidable per file (null rows never satisfy LIKE)
      case sf.StringStartsWith(c, p) if p != null => part.get(c) match {
        case None => true
        case Some(null) => false
        case Some(pv: String) => pv.startsWith(p)
        case Some(_) => true // non-string partition value: no info
      }
      case sf.And(l, r) => mayMatch(l, part) && mayMatch(r, part)
      case sf.Or(l, r) => mayMatch(l, part) || mayMatch(r, part)
      // Not cannot be derived from !mayMatch (both sides conservative);
      // only the provable case: a file whose every row EQUALS lit has no
      // row satisfying ≠ lit
      case sf.Not(sf.EqualTo(c, lit)) => part.get(c) match {
        case None => true
        case Some(null) => false
        case Some(pv) => !cmp(pv, lit).contains(0)
      }
      // identity: every row holds pv exactly, so NOT LIKE 'p%' is
      // decidable per file (null rows satisfy neither side)
      case sf.Not(sf.StringStartsWith(c, p)) if p != null => part.get(c) match {
        case None => true
        case Some(null) => false
        case Some(pv: String) => !pv.startsWith(p)
        case Some(_) => true
      }
      case _ => true
    }
  }

  /** Spec-aware file-level pruning: evaluates `f` against the file's
    * partition struct under the spec's TRANSFORMS. Per transform:
    * identity gets the exact [[mayMatch]] rules; order-preserving
    * transforms (truncate, year/month/day/hour) get equality via
    * T(lit) and the conservative interval rule for ranges (a file
    * whose transformed value equals T(lit) may straddle the literal,
    * so it is always kept); bucket gets equality/IN via the spec hash;
    * void/unknown only answer null tests where sound. Null reasoning
    * holds for every real transform (they all map null→null and
    * non-null→non-null) EXCEPT void, which maps everything to null —
    * so null tests skip void fields. Returns false only on a PROVABLE
    * no-match; empty spec falls back to identity-keyed behavior. */
  private[graft] def fileMayMatch(f: SFilter, part: Map[String, Any],
      spec: Seq[PartField]): Boolean = {
    if (spec.isEmpty) return mayMatch(f, part)
    import org.apache.spark.sql.{sources => sf}
    def cmp(pv: Any, tl: Any): Option[Int] = cmpValues(pv, tl)
    // fields derived from column c that have a recorded value
    def fieldsOf(c: String): Seq[(PartField, Any)] =
      spec.filter(_.source == c).flatMap(pf =>
        part.get(pf.name).map(pf -> _)) // absent from struct → no info
    // provable no-match for one spec field under an equality literal
    def eqNoMatch(pf: PartField, pv: Any, lit: Any): Boolean =
      if (lit == null) false
      // null-preserving only: all-null source never equals a value.
      // void AND unknown transforms map non-null→null, so a null pv
      // proves nothing about the source column there.
      else if (pv == null) nullPreserving(pf.transform)
      else pf.transform match {
        case t if t == "identity" || monotone(t) || t.startsWith("bucket[") =>
          transformLit(t, lit).exists(tl => cmp(pv, tl).exists(_ != 0))
        case _ => false
      }
    def rangeNoMatch(pf: PartField, pv: Any, lit: Any)(excl: Int => Boolean): Boolean =
      if (!monotone(pf.transform)) false
      else if (pv == null) true // monotone ⊂ null-preserving: all-null source never satisfies a comparison
      else transformLit(pf.transform, lit).exists(tl => cmp(pv, tl).exists(excl))
    f match {
      case sf.EqualTo(c, lit) => !fieldsOf(c).exists { case (pf, pv) => eqNoMatch(pf, pv, lit) }
      case sf.In(c, vs) => !fieldsOf(c).exists { case (pf, pv) =>
        vs.nonEmpty && vs.forall(v => eqNoMatch(pf, pv, v)) }
      // interval rule: file covers T-preimage of pv; provably excluded
      // when pv sits strictly on the wrong side of T(lit)
      case sf.GreaterThan(c, lit) =>
        !fieldsOf(c).exists { case (pf, pv) => rangeNoMatch(pf, pv, lit)(_ < 0) }
      case sf.GreaterThanOrEqual(c, lit) =>
        !fieldsOf(c).exists { case (pf, pv) => rangeNoMatch(pf, pv, lit)(_ < 0) }
      case sf.LessThan(c, lit) =>
        !fieldsOf(c).exists { case (pf, pv) => rangeNoMatch(pf, pv, lit)(_ > 0) }
      case sf.LessThanOrEqual(c, lit) =>
        !fieldsOf(c).exists { case (pf, pv) => rangeNoMatch(pf, pv, lit)(_ > 0) }
      // null tests: only the KNOWN null-preserving transforms prove
      // anything (void — and possibly an unknown transform — maps
      // non-null→null, so its fields answer no null test)
      case sf.IsNull(c) => !fieldsOf(c).exists { case (pf, pv) =>
        nullPreserving(pf.transform) && pv != null }
      case sf.IsNotNull(c) => !fieldsOf(c).exists { case (pf, pv) =>
        nullPreserving(pf.transform) && pv == null }
      case sf.And(l, r) => fileMayMatch(l, part, spec) && fileMayMatch(r, part, spec)
      case sf.Or(l, r) => fileMayMatch(l, part, spec) || fileMayMatch(r, part, spec)
      case sf.Not(sf.EqualTo(c, lit)) => !fieldsOf(c).exists { case (pf, pv) =>
        // only identity proves ≠: every row equals pv exactly
        pf.transform == "identity" && pv != null && lit != null && cmp(pv, lit).contains(0) }
      // NOT LIKE 'p%': provably no match when every row is null
      // (null-preserving fields) or provably p-prefixed — identity rows
      // equal pv; truncate[W] rows all start with their prefix pv, so a
      // p-prefixed pv (only possible when |p| ≤ W) covers them too
      case sf.Not(sf.StringStartsWith(c, p)) if p != null =>
        !fieldsOf(c).exists { case (pf, pv) =>
          if (pv == null) nullPreserving(pf.transform)
          else (pf.transform, pv) match {
            case ("identity", s: String) => s.startsWith(p)
            case (t, s: String) if t.startsWith("truncate[") => s.startsWith(p)
            case _ => false
          }
        }
      // LIKE 'p%' under identity (rows hold pv exactly) and truncate
      // (rows share the w-cp prefix pv): null rows never satisfy LIKE,
      // so all-null null-preserving fields prove no-match too
      case sf.StringStartsWith(c, p) if p != null => !fieldsOf(c).exists { case (pf, pv) =>
        if (pv == null) nullPreserving(pf.transform)
        else pf.transform match {
          case "identity" => pv match {
            case s: String => !s.startsWith(p)
            case _ => false
          }
          case t if t.startsWith("truncate[") => (pv, transformLit(t, p)) match {
            case (s: String, Some(tl: String)) =>
              // p fits the width → s startsWith p ⟺ trunc(s) startsWith p;
              // p longer than the width → s startsWith p ⟹ trunc(s) == trunc(p)
              if (tl == p) !s.startsWith(p) else s != tl
            case _ => false
          }
          case _ => false
        }
      }
      case _ => true
    }
  }

  /** All live data files at a snapshot (append-only subset: every
    * non-deleted entry across the snapshot's manifest list), pruned
    * against `filters` via manifest partition values under the spec's
    * transforms. */
  def dataFiles(tableDir: String, snapshotId: Option[Long] = None,
      filters: Seq[SFilter] = Nil): Seq[DataFileRef] =
    planFiles(tableDir, snapshotId, filters)._1

  /** Full scan plan at a snapshot: (live data files, live delete
    * files). Entry sequence numbers are INHERITED from the adding
    * snapshot (entry snapshot_id, falling back to the manifest's
    * added_snapshot_id) — the v2 inheritance rule for writers that
    * leave sequence_number null. Delete files must be parquet or v3
    * puffin deletion vectors (anything else is rejected typed, not
    * guessed at). Partition
    * pruning applies to DATA files; delete files are kept
    * conservatively (applying a delete file to a file it cannot touch
    * only costs work, never rows). */
  def planFiles(tableDir: String, snapshotId: Option[Long] = None,
      filters: Seq[SFilter] = Nil): (Seq[DataFileRef], Seq[DeleteFileRef]) = {
    val meta = readMeta(tableDir)
    val snap = snapshotId.orElse(meta.currentSnapshotId)
      .map(meta.snapshot)
      .getOrElse(return (Seq.empty, Seq.empty))
    val data = Seq.newBuilder[(DataFileRef, Option[Long])]
    val dels = Seq.newBuilder[(DeleteFileRef, Option[Long])]
    manifests(snap.manifestList, None).foreach { m =>
      entries(m.path).foreach { e =>
        if (e.status != 2) {
          // spec invariant: data manifests list data files, delete
          // manifests list delete files. A mismatch is corrupt
          // metadata — resolving it either way could resurrect or
          // drop rows, so refuse.
          if ((m.content == 0) != (e.content == 0))
            throw graft.core.GraftError.Plan(
              s"iceberg fidelity: manifest ${m.path} (content=${m.content}) lists a " +
                s"file with content=${e.content} — inconsistent metadata")
          e.content match {
            case 0 => data += ((e.ref.copy(
              addedBy = e.snapshotId.orElse(Some(m.addedSnapshotId)),
              specId = m.specId), entrySeq(e, m, meta)))
            case _ => dels += ((deleteRefOf(e, m.path), entrySeq(e, m, meta)))
          }
        }
      }
    }
    val (dataR, delsR) = resolveSeqs(data.result(), dels.result())
    (dataR.filter(f => fileSurvives(filters, f, meta)), delsR)
  }

  /** Sequence resolution law (delete correctness hinges on it): a file
    * whose sequence cannot be resolved — compacted EXISTING entry, its
    * adding snapshot expired — must NOT silently default to 0, which
    * would make every delete apply to it. Without delete files the
    * number is inert, so 0 is safe; with them, refuse typed. */
  private def resolveSeqs(data: Seq[(DataFileRef, Option[Long])],
      dels: Seq[(DeleteFileRef, Option[Long])]): (Seq[DataFileRef], Seq[DeleteFileRef]) = {
    val delsR = dels.map { case (d, so) =>
      d.copy(seq = so.getOrElse(throw graft.core.GraftError.Plan(
        s"iceberg fidelity: cannot resolve the sequence number of delete file ${d.path} " +
          "(no entry-level sequence_number and the adding snapshot is absent from metadata)")))
    }
    val dataR = data.map { case (f, so) =>
      f.copy(seq = so.getOrElse {
        if (delsR.isEmpty) 0L
        else throw graft.core.GraftError.Plan(
          s"iceberg fidelity: cannot resolve the sequence number of data file ${f.path} " +
            "(no entry-level sequence_number and the adding snapshot is absent from " +
            "metadata) — with delete files present a guessed sequence could silently " +
            "delete or resurrect rows")
      })
    }
    (dataR, delsR)
  }

  /** The append-diff: data files added by snapshots in
    * `(fromExclusive, to]`, via parent-chain lineage — the exact shape
    * of the reference's incremental scan. Partition-pruned like
    * [[dataFiles]]. */
  /** Window lineage with the compaction-crossing gate: the parent
    * chain of (from, to], refused typed when it contains an
    * operation=replace snapshot — the compacted manifest list no
    * longer carries the window's add/delete history, so net-changes
    * across it would fabricate or drop rows. Shared by the strict
    * append-diff and the net-changes readers. */
  private def windowLineage(meta: TableMeta, fromExclusive: Option[Long],
      to: Long): Seq[Snapshot] = {
    val lin = meta.lineage(fromExclusive, to)
    lin.find(_.operation == "replace").foreach(r =>
      throw graft.core.GraftError.Plan(
        s"iceberg fidelity: incremental window (${fromExclusive.getOrElse("-")}, $to] crosses " +
          s"compaction snapshot ${r.id} (operation=replace) — the compacted manifest list no " +
          "longer carries the window's add/delete history; re-window on either side of the " +
          "compaction"))
    lin
  }

  def addedFiles(tableDir: String, fromExclusive: Option[Long], to: Long,
      filters: Seq[SFilter] = Nil): Seq[DataFileRef] = {
    val meta = readMeta(tableDir)
    val lineageIds = windowLineage(meta, fromExclusive, to).map(_.id).toSet
    val snap = meta.snapshot(to)
    val ms = manifests(snap.manifestList, Some(lineageIds))
    val es = ms.flatMap(m => entries(m.path).map(e => (m, e)))
    // append-diff semantics are only honest when the window ADDED rows
    // and nothing else: a delete snapshot inside the window would make
    // "the files added by (from, to]" a superset of the actual diff —
    // rows it removed from EARLIER snapshots are invisible to any
    // added-files scan. Refuse rather than emit phantom rows.
    es.collectFirst { case (_, e) if e.content != 0 && e.status == StatusAdded => e }
      .foreach(e =>
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: incremental window (${fromExclusive.getOrElse("-")}, $to] " +
            s"contains delete file ${e.ref.path} — the append-diff cannot represent row " +
            "removal; run a full merge-on-read scan at each endpoint instead"))
    // the v2 inheritance rule as everywhere else: an ADDED entry's
    // null snapshot_id inherits the manifest's added_snapshot_id — a
    // Some-only pattern would silently DROP inheritance-style writers'
    // files from the diff
    es.collect {
      case (m, e)
        if e.status == StatusAdded && e.content == 0 &&
          lineageIds.contains(e.snapshotId.getOrElse(m.addedSnapshotId)) =>
        e.ref.copy(specId = m.specId)
    }
      .filter(f => fileSurvives(filters, f, meta))
  }

  /** Snapshot-pinned distributed read (time travel when `snapshotId`
    * names an older snapshot). `filters` prune whole files via the
    * manifests' partition values; they do NOT replace row-level
    * filtering — apply the same predicates on the returned frame (the
    * parquet scan then also gets them as pushed filters).
    *
    * Merge-on-read: when the snapshot carries delete files, the net
    * rows are produced Spark-first —
    *  - POSITION deletes anti-join on (file, position) using the
    *    parquet scan's own `_metadata.file_path` / `_metadata
    *    .row_index` columns (no bespoke row-numbering job: the
    *    vectorized reader emits positions for free), gated by the v2
    *    sequence rule dataSeq <= deleteSeq;
    *  - EQUALITY deletes anti-join null-safely (<=>) on the columns
    *    named by `equality_ids`, gated by dataSeq < deleteSeq (a
    *    delete never applies to rows its own snapshot added).
    * Per-file data sequence numbers reach rows through a BROADCAST
    * join against the (file → seq) plan table — metadata-sized by
    * construction. Time travel composes for free: planning from an
    * older snapshot's manifest list never sees later delete files.
    * At 100 TB every stage stays distributed: delete files scan as
    * ordinary parquet, both anti-joins shuffle only (path, pos) /
    * key-column tuples, and Catalyst broadcasts small delete sides. */
  /** Iceberg METADATA TABLES (`tbl.snapshots` / `.history` / `.refs` /
    * `.files` / `.delete_files` / `.manifests` / `.partitions`): the
    * introspection surface the spec's "Metadata tables" section (and
    * every engine's `SELECT * FROM tbl$snapshots`) exposes. Planned
    * entirely from table metadata — json + avro manifests, KB-scale by
    * construction — exactly like Iceberg's own metadata-table scans;
    * zero data files are opened. Partition tuples render as the
    * familiar `k=v/k=v` path form (keys in spec order) so the column
    * is engine-portable. Unknown names refuse typed with the menu. */
  def metaTable(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val meta = readMeta(tableDir)
    def partPath(f: DataFileRef): String = {
      val fields = meta.specFor(f.specId).map(_.name)
      val named = fields.flatMap(n => f.partition.get(n).map(v => s"$n=$v"))
      // values for spec fields absent from the tuple (e.g. string null
      // recorded as no-info) render as the hive default token — honest
      // "no exact value" rather than a fabricated null
      val withDefaults = fields.map(n =>
        f.partition.get(n).map(v => s"$n=$v").getOrElse(s"$n=__HIVE_DEFAULT_PARTITION__"))
      if (named.isEmpty && fields.isEmpty) "" else withDefaults.mkString("/")
    }
    name match {
      case "snapshots" =>
        meta.snapshots.map(s => (s.timestampMs, s.id, s.parentId, s.operation,
            s.sequenceNumber, s.schemaId, s.manifestList))
          .toDF("committed_at_ms", "snapshot_id", "parent_id", "operation",
            "sequence_number", "schema_id", "manifest_list")
      case "history" =>
        val ancestors = meta.currentSnapshotId.map { cur =>
          Iterator.iterate(Option(cur))(_.flatMap(id =>
              meta.snapshots.find(_.id == id).flatMap(_.parentId)))
            .takeWhile(_.isDefined).flatten.toSet
        }.getOrElse(Set.empty[Long])
        meta.snapshots.map(s => (s.timestampMs, s.id, s.parentId,
            ancestors.contains(s.id)))
          .toDF("made_current_at_ms", "snapshot_id", "parent_id",
            "is_current_ancestor")
      case "refs" =>
        // `main` is the implicit branch every table has (spec: the
        // current-snapshot-id IS the main head) — but if the refs map
        // carries an explicit 'main' (other writers may persist one),
        // that row wins; emitting both would be two conflicting rows
        val main =
          if (meta.refs.contains("main")) Seq.empty
          else meta.currentSnapshotId.map(id => ("main", "branch", id)).toSeq
        (main ++ meta.refs.toSeq.sortBy(_._1)
            .map { case (n, r) => (n, r.refType, r.snapshotId) })
          .toDF("name", "type", "snapshot_id")
      case "files" =>
        dataFiles(tableDir, snapshotId).map(f => (0, f.path, "PARQUET",
            f.specId, partPath(f), f.recordCount, f.sizeBytes, f.seq,
            f.lowerBounds.size, f.nullCounts.values.sum))
          .toDF("content", "file_path", "file_format", "spec_id", "partition",
            "record_count", "file_size_in_bytes", "sequence_number",
            "bounded_columns", "null_value_count")
      case "delete_files" =>
        planFiles(tableDir, snapshotId)._2.map(d => (d.content, d.path,
            d.format, d.seq, d.equalityIds.map(_.toLong),
            d.referencedFile))
          .toDF("content", "file_path", "file_format", "sequence_number",
            "equality_ids", "referenced_data_file")
      case "manifests" =>
        val snap = snapshotId.orElse(meta.currentSnapshotId).map(meta.snapshot)
        snap.map(s => manifests(s.manifestList, None)).getOrElse(Seq.empty)
          .map(m => (m.path, m.content, m.specId, m.addedSnapshotId))
          .toDF("path", "content", "partition_spec_id", "added_snapshot_id")
      case "partitions" =>
        val fs = dataFiles(tableDir, snapshotId)
        fs.groupBy(f => (partPath(f), f.specId)).toSeq
          .map { case ((p, specId), group) =>
            (p, specId, group.map(_.recordCount).sum, group.size.toLong)
          }
          .toDF("partition", "spec_id", "record_count", "file_count")
      case other =>
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: unknown metadata table '$other' — known: snapshots, " +
            "history, refs, files, delete_files, manifests, partitions")
    }
  }

  def read(spark: SparkSession, tableDir: String, snapshotId: Option[Long] = None,
      filters: Seq[SFilter] = Nil): DataFrame = {
    val (files, deletes) = planFiles(tableDir, snapshotId, filters)
    val meta = readMeta(tableDir)
    // time travel reads with the SNAPSHOT's schema (spec: a snapshot
    // records the schema it was written under); table scans use current
    val targetSid = snapshotId
      .map(id => meta.snapshot(id).schemaId.getOrElse(meta.currentSchemaId))
      .getOrElse(meta.currentSchemaId)
    if (files.isEmpty && filters.nonEmpty) return emptyOf(spark, meta, targetSid, tableDir, snapshotId)
    require(files.nonEmpty, s"no data files at snapshot $snapshotId")
    val plain = resolvedData(spark, files, meta, targetSid, withPos = false)
    if (deletes.isEmpty) plain
    else applyDeletes(spark, files, deletes, meta, plain.columns.toSeq, targetSid)
  }

  /** Read `files` AS the target schema, resolving every file's columns
    * by FIELD ID (spec schema evolution): a file written before a
    * rename exposes the CURRENT name, a file written before a column
    * was added null-fills it, a dropped column's bytes are simply not
    * selected. Resolution sources, in order: the file's parquet footer
    * field ids (authoritative — foreign writers included), the schema
    * of the snapshot that added the file, and — only when the table
    * never evolved — the identity mapping. A file resolvable by none
    * is refused typed rather than guessed by name. Files group by
    * their mapping, so the plan stays a handful of scans unioned, not
    * per-file plans. */
  private def resolvedData(spark: SparkSession, files: Seq[DataFileRef],
      meta: TableMeta, targetSchemaId: Long, withPos: Boolean): DataFrame = {
    def rawRead(paths: Seq[String]): DataFrame = {
      val d = spark.read.parquet(paths: _*)
      if (!withPos) d
      else d.withColumn("__g_file", normPath(col("_metadata.file_path")))
        .withColumn("__g_pos", col("_metadata.row_index"))
    }
    if (!meta.schemaEvolved) return rawRead(files.map(_.path))
    val target = meta.schemasById.getOrElse(targetSchemaId,
      throw graft.core.GraftError.Plan(
        s"iceberg fidelity: schema $targetSchemaId is absent from the metadata's history"))
    val footerIds = ParquetFooters.fieldIdsAll(spark, files.map(_.path))
    val schemaIdBySnapshot: Map[Long, Option[Long]] =
      meta.snapshots.map(s => s.id -> s.schemaId).toMap
    def mappingOf(f: DataFileRef): Seq[(String, Long)] = {
      val fromFooter = footerIds.getOrElse(f.path, Map.empty)
      if (fromFooter.nonEmpty)
        fromFooter.toSeq.map { case (n, id) => (n, id.toLong) }.sortBy(_._2)
      else f.addedBy.flatMap(schemaIdBySnapshot.get).flatten
        .flatMap(meta.schemasById.get) match {
          case Some(fields) => fields.map(fl => (fl.name, fl.id))
          case None =>
            // File lacks footer field ids AND its snapshot predates
            // schema-id stamping. Such files can only have been written
            // by a pre-evolution writer, i.e. under the OLDEST schema in
            // the history (every later schema exists only because an
            // alterSchema ran, and every post-evolution commit stamps
            // both footer ids and snapshot schema-ids) — so the oldest
            // schema IS the write schema, not a guess. Without this,
            // the first alterSchema bricked legacy tables: resolvedData
            // threw, and the error's suggested compaction routed through
            // the same throw — no recovery path.
            meta.schemasById.minByOption(_._1).map(_._2) match {
              case Some(fields) => fields.map(fl => (fl.name, fl.id))
              case None => throw graft.core.GraftError.Plan(
                s"iceberg fidelity: cannot resolve columns of ${f.path} — no footer field " +
                  "ids and no schema history; compact the table")
            }
        }
    }
    val groups = files.map(f => (mappingOf(f), f)).groupBy(_._1).toSeq
      .map { case (m, fs) => (m, fs.map(_._2)) }
      .sortBy(_._2.head.path) // deterministic union order
    groups.map { case (mapping, fs) =>
      val nameById = mapping.map { case (n, id) => id -> n }.toMap
      val d = rawRead(fs.map(_.path))
      val cols = target.map { tf =>
        nameById.get(tf.id) match {
          case Some(written) => col(written).as(tf.name)
          case None => lit(null).cast(sparkTypeOf(tf.tpe)).as(tf.name)
        }
      } ++ (if (withPos) Seq(col("__g_file"), col("__g_pos")) else Nil)
      d.select(cols: _*)
    }.reduce(_ unionByName _)
  }

  /** empty frame with the target schema — built from the metadata when
    * its types resolve, else from a data file (legacy tables). */
  private def emptyOf(spark: SparkSession, meta: TableMeta, targetSid: Long,
      tableDir: String, snapshotId: Option[Long]): DataFrame = {
    val target = meta.schemasById.getOrElse(targetSid, Seq.empty)
    val resolvable = target.nonEmpty &&
      target.forall(f => scala.util.Try(sparkTypeOf(f.tpe)).isSuccess)
    if (resolvable) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(target.map(f =>
        org.apache.spark.sql.types.StructField(f.name, sparkTypeOf(f.tpe)))))
    else sparkEmpty(spark, tableDir, snapshotId)
  }

  /** file: URI → plain path, so manifest paths, delete-file `file_path`
    * values and `_metadata.file_path` all join in one namespace. */
  private def normPath(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^file:/+", "/")

  private def applyDeletes(spark: SparkSession, files: Seq[DataFileRef],
      deletes: Seq[DeleteFileRef], meta: TableMeta, dataCols: Seq[String],
      targetSchemaId: Long): DataFrame = {
    import spark.implicits._
    val data = resolvedData(spark, files, meta, targetSchemaId, withPos = true)
    val seqDf = files.map(f => (f.path.replaceFirst("^file:/+", "/"), f.seq))
      .toDF("__g_seqfile", "__g_dataseq")
    val withSeq = data.join(seqDf, data("__g_file") === seqDf("__g_seqfile"))
      .drop("__g_seqfile")

    val (dvFiles, pqPosFiles) = deletes.filter(_.content == 1).partition(_.isDv)
    val dvPos: Option[DataFrame] =
      if (dvFiles.isEmpty) None
      else {
        // v3 deletion vectors: ONE TASK PER DV decodes its blob
        // executor-side (Puffin.readDeletionVector seeks straight to
        // the blob) — only manifest coordinates transit the driver,
        // never bitmap bytes; memory per task is one blob.
        val coords = dvFiles.map(d => (d.path, d.contentOffset.get, d.contentSize.get,
          d.referencedFile.get.replaceFirst("^file:/+", "/"), d.seq))
        Some(spark.sparkContext
          .parallelize(coords, math.max(1, math.min(coords.size, 32)))
          .flatMap { case (p, off, len, ref, seq) =>
            Puffin.readDeletionVector(p, off, len).map(pos => (ref, pos, seq))
          }
          .toDF("__d_file", "__d_pos", "__d_seq"))
      }
    val pqPos: Option[DataFrame] =
      if (pqPosFiles.isEmpty) None
      else {
        val raw = pqPosFiles.map { p =>
          spark.read.parquet(p.path).select(
            normPath(col("file_path")).as("__d_file"),
            col("pos").cast("long").as("__d_pos"),
            lit(p.seq).as("__d_seq"))
        }.reduce(_ unionByName _)
        // v3 supersede rule: a data file covered by a deletion vector
        // ignores position delete FILES entirely (the DV replaced
        // them); file list is planning metadata, so broadcast it.
        val dvRefs = dvFiles.flatMap(_.referencedFile)
          .map(_.replaceFirst("^file:/+", "/")).distinct
        if (dvRefs.isEmpty) Some(raw)
        else {
          val refsDf = dvRefs.toDF("__dv_ref")
          Some(raw.join(refsDf,
            raw("__d_file") === refsDf("__dv_ref"), "left_anti"))
        }
      }
    val afterPos = (dvPos.toSeq ++ pqPos.toSeq).reduceOption(_ unionByName _) match {
      case None => withSeq
      case Some(pos) =>
        withSeq.join(pos,
          withSeq("__g_file") === pos("__d_file") &&
            withSeq("__g_pos") === pos("__d_pos") &&
            pos("__d_seq") >= withSeq("__g_dataseq"),
          "left_anti")
    }

    val eqGroups = deletes.filter(_.content == 2).groupBy(_.equalityIds).toSeq
    val afterEq = eqGroups.foldLeft(afterPos) { case (acc, (ids, fs)) =>
      val names = ids.map(id => meta.fieldNamesById.getOrElse(id.toLong,
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: equality delete references field id $id absent from the " +
            "table schema — cannot resolve the delete key")))
      val del = fs.map { f =>
        val raw = spark.read.parquet(f.path)
        // delete files written under an OLD schema carry old column
        // names: resolve id-wise (footer ids, else the newest schema
        // whose names for these ids all appear in the file)
        val writtenOf: Map[Int, String] =
          if (!meta.schemaEvolved) ids.zip(names).toMap
          else {
            val fids = ParquetFooters.fieldIdsOf(f.path)
            if (fids.nonEmpty) fids.map { case (n, id) => id -> n }
            else meta.schemasById.toSeq.sortBy(-_._1).iterator.map { case (_, flds) =>
              val m = flds.filter(fl => ids.contains(fl.id.toInt))
                .map(fl => fl.id.toInt -> fl.name).toMap
              if (ids.forall(id => m.get(id).exists(raw.columns.contains))) Some(m) else None
            }.collectFirst { case Some(m) => m }.getOrElse(
              throw graft.core.GraftError.Plan(
                s"iceberg fidelity: cannot resolve equality-delete columns of ${f.path}"))
          }
        raw.select(
          ids.zip(names).map { case (id, n) =>
            col(writtenOf.getOrElse(id,
              throw graft.core.GraftError.Plan(
                s"iceberg fidelity: equality delete ${f.path} lacks field id $id"))).as(s"__d_$n")
          } :+ (lit(f.seq).as("__d_seq")): _*)
      }.reduce(_ unionByName _)
      // spec null semantics: an equality delete matches null keys, so
      // the join is null-SAFE (<=>), not =
      val cond = names.map(n => acc(n) <=> del(s"__d_$n")).reduce(_ && _) &&
        del("__d_seq") > acc("__g_dataseq")
      acc.join(del, cond, "left_anti")
    }
    afterEq.select(dataCols.map(col): _*)
  }

  /** empty frame with the table's schema (all files pruned away). */
  private def sparkEmpty(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long]): DataFrame = {
    val any = dataFiles(tableDir, snapshotId)
    require(any.nonEmpty, s"no data files at snapshot $snapshotId")
    spark.read.parquet(any.head.path).limit(0)
  }

  /** NET-CHANGES incremental read of `(from, to]`: the rows added by
    * the window's snapshots that are STILL LIVE at `to` — the window's
    * added data files with the window's position/equality deletes
    * applied through the same merge-on-read machinery as [[read]]
    * (reference: the incremental driver reads full v2,
    * crates/cdf-source-iceberg/src/driver.rs:1035).
    *
    * Scope law: only deletes ADDED IN THE WINDOW can touch
    * window-added files — an older delete fails the sequence gates
    * (pos: delSeq >= dataSeq, eq: delSeq > dataSeq) by construction —
    * so the plan restricts delete manifests to the window's lineage;
    * a delete snapshot's effect on PRE-window rows is row removal,
    * which an added-rows read cannot represent (consumers needing the
    * removal side run full MoR scans at each endpoint and diff).
    * A delete-free window degenerates to the plain append-diff scan. */
  def readIncremental(spark: SparkSession, tableDir: String,
      fromExclusive: Option[Long], to: Long,
      filters: Seq[SFilter] = Nil): DataFrame = {
    val meta = readMeta(tableDir)
    val lineageIds = windowLineage(meta, fromExclusive, to).map(_.id).toSet
    val snap = meta.snapshot(to)
    val data = Seq.newBuilder[(DataFileRef, Option[Long])]
    val dels = Seq.newBuilder[(DeleteFileRef, Option[Long])]
    manifests(snap.manifestList, Some(lineageIds)).foreach { m =>
      entries(m.path).foreach { e =>
        val addedInWindow = e.status == StatusAdded &&
          lineageIds.contains(e.snapshotId.getOrElse(m.addedSnapshotId))
        if (addedInWindow) e.content match {
          case 0 => data += ((e.ref.copy(specId = m.specId), entrySeq(e, m, meta)))
          case _ => dels += ((deleteRefOf(e, m.path), entrySeq(e, m, meta)))
        }
      }
    }
    val (dataR, delsR) = resolveSeqs(data.result(), dels.result())
    val files = dataR.filter(f => fileSurvives(filters, f, meta))
    if (files.isEmpty) spark.emptyDataFrame
    else {
      // the window's END snapshot names the schema the caller sees
      val targetSid = snap.schemaId.getOrElse(meta.currentSchemaId)
      val plain = resolvedData(spark, files, meta, targetSid, withPos = false)
      if (delsR.isEmpty) plain
      else applyDeletes(spark, files, delsR, meta, plain.columns.toSeq, targetSid)
    }
  }

  // ------------------------------------------------------------- write

  private def writeAvro(path: String, schema: Schema, records: Seq[GenericRecord]): Long = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(path))
    records.foreach(w.append)
    w.close()
    new File(path).length()
  }

  /** Avro type for an identity partition value, from the Spark column. */
  private def avroPartType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case BooleanType => "boolean"
      case other => throw new IllegalArgumentException(
        s"unsupported identity partition type: $other")
    }
  }

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncRe = """truncate\[(\d+)\]""".r

  /** Avro type of a partition field's stored VALUE under its transform. */
  private def avroTransformType(pf: PartField,
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    pf.transform match {
      case "identity" => avroPartType(dt)
      case BucketRe(_) => "int"
      case "year" | "month" => "int"
      case "day" | "hour" => "long"
      case "void" => "long" // always null; the type is vestigial
      case TruncRe(_) => dt match {
        case IntegerType => "int"
        case LongType => "long"
        case StringType => "string"
        case other => throw graft.core.GraftError.Plan(
          s"iceberg fidelity: truncate transform over unsupported type $other")
      }
      case other => throw graft.core.GraftError.Plan(
        s"iceberg fidelity: cannot append under unknown transform '$other'")
    }
  }

  /** The transform as a per-ROW Column — the write-side counterpart of
    * [[transformLit]] (identical spec semantics; the read side prunes
    * with the same functions on literals). Bucket runs the codegen'd
    * spec-murmur3 kernel; temporal ordinals are computed in the UTC
    * session; truncate substrings by code point (Spark's substring
    * counts code points, matching the spec). */
  private def transformCol(spark: SparkSession, pf: PartField,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val c = col(pf.source)
    pf.transform match {
      case "identity" => c
      case BucketRe(n) =>
        graft.functions.IcebergTransformFunctions.register(spark)
        call_function("graft_iceberg_bucket", c, lit(n.toInt))
      case TruncRe(w) => dt match {
        case IntegerType => (c - pmod(c, lit(w.toInt))).cast(IntegerType)
        case LongType => c - pmod(c, lit(w.toLong))
        case StringType => substring(c, 1, w.toInt)
        case other => throw graft.core.GraftError.Plan(
          s"iceberg fidelity: truncate transform over unsupported type $other")
      }
      case "year" => (year(c) - 1970).cast(IntegerType)
      case "month" => ((year(c) - 1970) * 12 + month(c) - 1).cast(IntegerType)
      case "day" => datediff(c, to_date(lit("1970-01-01"))).cast(LongType)
      case "hour" =>
        if (dt != TimestampType) throw graft.core.GraftError.Plan(
          s"iceberg fidelity: hour transform requires a timestamp column, got $dt")
        floor(unix_timestamp(c) / 3600).cast(LongType)
      case "void" => lit(null).cast(LongType)
      case other => throw graft.core.GraftError.Plan(
        s"iceberg fidelity: cannot append under unknown transform '$other'")
    }
  }

  private def icebergType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case BooleanType => "boolean"
      case FloatType => "float"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case BinaryType => "binary"
      case _ => "string"
    }
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** iceberg primitive type name → Spark type (the inverse of
    * [[icebergType]]); schema-evolution reads build missing-column
    * nulls and empty frames from it. */
  private def sparkTypeOf(tpe: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    tpe match {
      case "long" => LongType
      case "int" => IntegerType
      case "string" => StringType
      case "double" => DoubleType
      case "boolean" => BooleanType
      case "float" => FloatType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "binary" => BinaryType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => throw graft.core.GraftError.Plan(
        s"iceberg fidelity: no Spark type for iceberg type '$other'")
    }
  }

  /** manifest_entry schema with the spec's partition struct (name r102
    * per the Iceberg spec's conventional partition record name) and the
    * column-statistics maps (data_file fields 110/125/128) in the
    * spec's array<struct<key,value>> encoding — int keys cannot use an
    * Avro map, so the kv-record names follow the spec's k/v field-id
    * convention (k121_v122, k126_v127, k129_v130). */
  private def entrySchemaFor(partCols: Seq[(String, String)]): Schema = {
    val partField =
      if (partCols.isEmpty) ""
      else {
        val pf = partCols.map { case (n, t) =>
          s"""{"name":"$n","type":["null","$t"],"default":null}"""
        }.mkString(",")
        s"""{"name":"partition","type":{"type":"record","name":"r102","fields":[$pf]}},"""
      }
    def kvMap(field: String, kvName: String, valueType: String): String =
      s"""{"name":"$field","type":["null",{"type":"array","items":
         |{"type":"record","name":"$kvName","fields":[
         |{"name":"key","type":"int"},{"name":"value","type":"$valueType"}]}}],
         |"default":null}""".stripMargin.replace("\n", "")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":["null","long"],"default":null},
         |{"name":"sequence_number","type":["null","long"],"default":null},
         |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
         |  {"name":"content","type":"int"},
         |  {"name":"file_path","type":"string"},
         |  {"name":"file_format","type":"string"},
         |  $partField
         |  {"name":"record_count","type":"long"},
         |  {"name":"file_size_in_bytes","type":"long"},
         |  ${kvMap("null_value_counts", "k121_v122", "long")},
         |  ${kvMap("lower_bounds", "k126_v127", "bytes")},
         |  ${kvMap("upper_bounds", "k129_v130", "bytes")}]}}]}""".stripMargin)
  }

  /** Hive-style partition path unescape (the %xx escaping Spark's
    * dynamic-partition writer applies to directory values). */
  private[graft] def unescapePathValue(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse one `__gp_<name>=<value>` path segment back to the typed
    * partition value the manifest records. None = NO INFO: Spark's
    * layout writes both null and `""` string values as
    * `__HIVE_DEFAULT_PARTITION__`, so for a string-typed field the
    * token proves nothing — the key is omitted from the partition map
    * and pruning stays conservative (see [[partitionOf]]). For
    * non-string types the token can only mean null. */
  private def partValueFromPath(path: String, name: String,
      avroType: String): Option[Any] = {
    val prefix = s"__gp_$name="
    val seg = path.split('/').find(_.startsWith(prefix)).getOrElse(
      throw new IllegalStateException(
        s"partitioned write produced no $prefix segment in $path"))
    val raw = unescapePathValue(seg.substring(prefix.length))
    if (raw == "__HIVE_DEFAULT_PARTITION__")
      avroType match {
        case "string" => None
        case _ => Some(null)
      }
    else avroType match {
      case "long" => Some(Long.box(raw.toLong))
      case "int" => Some(Int.box(raw.toInt))
      case "double" => Some(Double.box(raw.toDouble))
      case "boolean" => Some(Boolean.box(raw.toBoolean))
      case _ => Some(raw)
    }
  }

  /** Distributed data-file write under `spec0` + real per-file stats:
    * the transform values live in layout-only `__gp_*` directory
    * columns (the real source columns stay in the data files, as the
    * spec requires). Per-file row counts, COLUMN BOUNDS and null
    * counts come from the parquet FOOTERS (metadata-only, read inside
    * tasks); partition values parse back from the `__gp_*` path
    * segments — commit never re-reads a data page (at 100× a second
    * full scan would double every append/compaction's read I/O).
    * Shared by append and compaction commits. */
  private def writeDataFiles(spark: SparkSession, df: DataFrame, dataDir: String,
      spec0: Seq[PartField],
      /** column name → (field id, iceberg type) from the TABLE schema —
        * ids flow into the parquet footers (`parquet.field.id`, which
        * Spark's writer embeds) so any reader resolves columns by id
        * across renames, and into the manifest bounds keys. */
      idByName: Map[String, (Int, String)]): Seq[DataFileRef] = {
    // fail fast on unwritable transforms (unknown names, hour over
    // non-timestamp) BEFORE any data is written
    val layoutCols = spec0.map(pf =>
      s"__gp_${pf.name}" -> transformCol(spark, pf, df.schema(pf.source).dataType))
    val withIds = df.select(df.columns.map { n =>
      idByName.get(n) match {
        case Some((id, _)) =>
          val m = new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build()
          col(n).as(n, m)
        case None => col(n)
      }
    }.toSeq: _*)
    if (spec0.isEmpty) withIds.write.mode("errorifexists").parquet(dataDir)
    else {
      val dup = layoutCols.foldLeft(withIds) { case (d, (n, c)) => d.withColumn(n, c) }
      dup.write.mode("errorifexists")
        .partitionBy(layoutCols.map(_._1): _*).parquet(dataDir)
    }
    // zero part files is legal (a partitioned dynamic write of zero
    // rows — e.g. compaction where deletes covered every rewritten
    // row — creates only _SUCCESS)
    val partFiles = {
      val s = java.nio.file.Files.walk(Paths.get(dataDir))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector
      finally s.close()
    }
    if (partFiles.isEmpty) return Seq.empty
    val partTypes = spec0.map(pf =>
      pf.name -> avroTransformType(pf, df.schema(pf.source).dataType)).toMap
    // bounds keys are the TABLE schema's field ids (stable across
    // renames; layout-only __gp_* columns never reach the files)
    val colMeta: Map[String, (Int, String)] = idByName
    ParquetFooters.readAll(spark, partFiles).map { fs =>
      val part = spec0.flatMap(pf =>
        partValueFromPath(fs.path, pf.name, partTypes(pf.name)).map(pf.name -> _)).toMap
      val lowers = Map.newBuilder[Int, Array[Byte]]
      val uppers = Map.newBuilder[Int, Array[Byte]]
      val nulls = Map.newBuilder[Int, Long]
      fs.cols.foreach { case (name, cs) =>
        colMeta.get(name).foreach { case (id, tpe) =>
          cs.nullCount.foreach(n => nulls += id -> n)
          cs.lower.foreach { lo =>
            val v = if (tpe == "string") truncLower(lo.asInstanceOf[String]) else lo
            serializeBound(tpe, v).foreach(lowers += id -> _)
          }
          cs.upper.foreach { hi =>
            val v: Option[Any] =
              if (tpe == "string") truncUpper(hi.asInstanceOf[String]) else Some(hi)
            v.flatMap(serializeBound(tpe, _)).foreach(uppers += id -> _)
          }
        }
      }
      DataFileRef(fs.path, fs.rowCount, fs.sizeBytes, part,
        lowerBounds = lowers.result(), upperBounds = uppers.result(),
        nullCounts = nulls.result())
    }
  }

  /** One data-file manifest entry (partition struct included when the
    * schema has one; `explicitSeq` writes the entry-level
    * sequence_number an EXISTING carried-forward file must keep). */
  private def dataEntryRec(entrySchema: Schema, f: DataFileRef,
      status: Int, snapshotId: Long, explicitSeq: Option[Long]): GenericRecord = {
    val dfSchema = entrySchema.getField("data_file").schema()
    val d = new GenericData.Record(dfSchema)
    d.put("content", 0)
    d.put("file_path", f.path)
    d.put("file_format", "PARQUET")
    d.put("record_count", f.recordCount)
    d.put("file_size_in_bytes", f.sizeBytes)
    if (dfSchema.getField("partition") != null) {
      val pr = new GenericData.Record(dfSchema.getField("partition").schema())
      f.partition.foreach { case (c, v) => pr.put(c, v) }
      d.put("partition", pr)
    }
    // column stats (sorted keys for deterministic manifests); EXISTING
    // carried-forward entries re-emit the stats they were read with,
    // so compaction never drops pruning power
    def putKv[V](field: String, m: Map[Int, V])(box: V => AnyRef): Unit =
      if (m.nonEmpty && dfSchema.getField(field) != null) {
        val arrSchema = dfSchema.getField(field).schema().getTypes.asScala
          .find(_.getType == Schema.Type.ARRAY).get
        val elemSchema = arrSchema.getElementType
        val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val r = new GenericData.Record(elemSchema)
          r.put("key", Int.box(k))
          r.put("value", box(v))
          arr.add(r)
        }
        d.put(field, arr)
      }
    putKv("null_value_counts", f.nullCounts)(Long.box)
    putKv("lower_bounds", f.lowerBounds)(java.nio.ByteBuffer.wrap)
    putKv("upper_bounds", f.upperBounds)(java.nio.ByteBuffer.wrap)
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    e.put("snapshot_id", Long.box(f.addedBy.filter(_ => status == StatusExisting)
      .getOrElse(snapshotId)))
    explicitSeq.foreach(sq => e.put("sequence_number", Long.box(sq)))
    e.put("data_file", d)
    e
  }

  /** Append `df` as a new snapshot: parquet data files (distributed
    * write), one ADDED manifest, manifest-list = parent's + new,
    * metadata vN+1, version-hint flip (the spec's commit protocol —
    * readers resolve the hint to an immutable metadata file, so a
    * crash mid-commit leaves the old version fully readable).
    *
    * `partitionBy` lays the snapshot out identity-partitioned;
    * `partitionSpec` lays it out under ANY writable transform
    * (identity / bucket[N] via the codegen'd spec murmur3 /
    * truncate[W] / year / month / day / hour / void). Data files are
    * split per TRANSFORMED value (one distributed write — the
    * transform values live in layout-only `__gp_*` columns so the
    * real source columns stay in the data files, as the spec
    * requires), and each manifest entry carries its file's partition
    * struct for pruning. Subsequent appends inherit the parent's
    * spec — including non-identity transforms — when neither
    * parameter is repeated. */
  def commitAppend(spark: SparkSession, tableDir: String, df: DataFrame,
      snapshotId: Long, timestampMs: Long,
      partitionBy: Seq[String] = Nil,
      partitionSpec: Seq[PartField] = Nil,
      /** append onto a named BRANCH instead of main: the new snapshot's
        * parent is the branch head (the branch is created at the
        * current snapshot if absent), the ref advances, and
        * current-snapshot-id — main — stays where it was. Tags refuse
        * (immutable by definition). */
      toBranch: Option[String] = None,
      /** WRITE SORT ORDER (spec `sort-orders`): range-cluster the
        * snapshot's rows across files and sort within each, so parquet
        * footers — and therefore the manifest column bounds — carry
        * TIGHT disjoint ranges on these columns and a range predicate
        * prunes most files instead of none. Recorded in metadata as
        * the default sort order. Composes with any partition spec
        * (sorting happens inside each partition's files). */
      sortBy: Seq[String] = Nil,
      /** Z-ORDER clustering: rows cluster by the interleaved
        * rank-bucket bits of SEVERAL columns, so every listed column's
        * per-file bounds become blocky sub-ranges and predicates on ANY
        * of them prune — the multi-column companion to `sortBy` (which
        * prunes perfectly on its first column and not at all on
        * others). Rank buckets come from per-column quantiles of this
        * snapshot (deterministic); mutually exclusive with sortBy. */
      zorderBy: Seq[String] = Nil): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    val haveMeta = Files.exists(Paths.get(metaDir, "version-hint.text"))
    val parent: Option[TableMeta] = if (haveMeta) Some(readMeta(tableDir)) else None
    parent.foreach(requireV2Plus(_, "append"))
    toBranch.foreach { b =>
      if (parent.isEmpty)
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: branch commit to '$b' requires an existing table — " +
            "create the table on main first")
      parent.flatMap(_.refs.get(b)).filter(_.refType == "tag").foreach(_ =>
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: '$b' is a TAG — tags are immutable; commit to a branch"))
    }
    // the snapshot this commit descends from: the branch head for a
    // branch commit (falling back to current when the branch is being
    // created here), main's current otherwise
    val baseSnapId: Option[Long] = toBranch match {
      case Some(b) => parent.flatMap(m =>
        m.refs.get(b).map(_.snapshotId).orElse(m.currentSnapshotId))
      case None => parent.flatMap(_.currentSnapshotId)
    }
    val spec0: Seq[PartField] =
      if (partitionSpec.nonEmpty) partitionSpec
      else if (partitionBy.nonEmpty) partitionBy.map(c => PartField(c, c, "identity"))
      else parent.map(_.spec).getOrElse(Nil)
    require(spec0.forall(pf => df.columns.contains(pf.source)),
      s"partition source columns ${spec0.map(_.source)} missing from ${df.columns.toSeq}")
    // partition EVOLUTION: an append whose layout differs from every
    // spec the table has seen allocates a NEW spec-id and becomes the
    // default; a layout matching an existing spec (same
    // name/source/transform triples) REUSES its id, so repeated
    // appends never proliferate specs. Files committed earlier keep
    // their manifests' spec ids — the read side resolves each
    // manifest's own spec, so pruning stays exact per layout era.
    val parentSpecs: Map[Long, Seq[PartField]] = parent.map(_.specsById).getOrElse(Map.empty)
    def specKey(s: Seq[PartField]) = s.map(p => (p.name, p.source, p.transform))
    val specId0: Long = parentSpecs
      .collectFirst { case (sid, flds) if specKey(flds) == specKey(spec0) => sid }
      .getOrElse(if (parentSpecs.isEmpty) 0L else parentSpecs.keys.max + 1L)
    val allSpecsOut: Seq[(Long, Seq[PartField])] =
      (parentSpecs + (specId0 -> spec0)).toSeq.sortBy(_._1)
    // field identity: an existing table's CURRENT schema names the
    // columns an append must supply (exactly — a stray or missing
    // column would silently fork the schema); ids come from that
    // schema so evolution keeps them stable. A new table mints
    // position-based ids.
    val tableSchema: Seq[SchemaField] = parent.map(_.currentSchema).filter(_.nonEmpty)
      .getOrElse(df.schema.fields.zipWithIndex.map { case (fld, i) =>
        SchemaField(i + 1L, fld.name, icebergType(fld.dataType))
      }.toSeq)
    if (parent.exists(_.currentSchema.nonEmpty)) {
      val want = tableSchema.map(_.name).toSet
      val have = df.columns.toSet
      if (want != have)
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: append columns $have do not match the table's current schema " +
            s"$want — evolve the schema first (alterSchema), appends never fork it")
    }
    val idByName: Map[String, (Int, String)] =
      tableSchema.map(f => f.name -> ((f.id.toInt, f.tpe))).toMap
    val curSchemaId0 = parent.filter(_.currentSchema.nonEmpty)
      .map(_.currentSchemaId).getOrElse(0L)
    require(sortBy.forall(df.columns.contains),
      s"sort columns $sortBy missing from ${df.columns.toSeq}")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive layouts")
    require(zorderBy.forall(df.columns.contains),
      s"zorder columns $zorderBy missing from ${df.columns.toSeq}")
    val laidOut =
      if (sortBy.nonEmpty)
        // explicit partition count (the input's) — an unconstrained range
        // shuffle lets AQE coalesce everything into one file, which
        // defeats the point of range-clustering for pruning
        df.repartitionByRange(math.max(1, df.rdd.getNumPartitions),
            sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else if (zorderBy.nonEmpty)
        // interleaved quantile-rank bits — every z column's footer
        // bounds tighten (operators/ZOrderLayout, shared with the
        // Delta OPTIMIZE path)
        graft.operators.ZOrderLayout(df, zorderBy, df.rdd.getNumPartitions)
      else df
    val files = writeDataFiles(spark, laidOut, s"$tableDir/data/snap-$snapshotId", spec0, idByName)

    val partTypes = spec0.map(pf =>
      pf.name -> avroTransformType(pf, df.schema(pf.source).dataType))
    val entrySchema = entrySchemaFor(partTypes)
    val manifestPath = s"$metaDir/manifest-$snapshotId.avro"
    val entryRecs = files.map(f =>
      dataEntryRec(entrySchema, f, StatusAdded, snapshotId, explicitSeq = None))
    val manifestLen = writeAvro(manifestPath, entrySchema, entryRecs.toSeq)

    val parentSnap = parent.flatMap(m => baseSnapId.map(m.snapshot))
    val priorManifests: Seq[GenericRecord] =
      parentSnap.map(s => readAvro(s.manifestList)).getOrElse(Seq.empty)
    val newManifest = new GenericData.Record(manifestFileSchema)
    newManifest.put("manifest_path", manifestPath)
    newManifest.put("manifest_length", manifestLen)
    newManifest.put("partition_spec_id", specId0.toInt)
    newManifest.put("content", 0)
    newManifest.put("added_snapshot_id", snapshotId)
    newManifest.put("added_files_count", files.length)
    newManifest.put("added_rows_count", files.map(_.recordCount).sum)
    val listPath = s"$metaDir/snap-$snapshotId-manifest-list.avro"
    // re-encode prior entries against our schema (field-by-field copy)
    val priorCopies = priorManifests.map { m =>
      val r = new GenericData.Record(manifestFileSchema)
      manifestFileSchema.getFields.asScala.foreach(f => r.put(f.name(), m.get(f.name())))
      r
    }
    writeAvro(listPath, manifestFileSchema, priorCopies :+ newManifest)

    val seq = parent.map(_.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1).getOrElse(1L)
    val snap = Snapshot(snapshotId, baseSnapId, seq, timestampMs,
      listPath, schemaId = Some(curSchemaId0))
    val allSnaps = parent.map(_.snapshots).getOrElse(Seq.empty) :+ snap
    val version = parent.map(_.version + 1).getOrElse(1)

    def snapJson(s: Snapshot): J = JObj.of(
      (Seq("snapshot-id" -> (JInt(s.id): J)) ++
        s.parentId.map(p => "parent-snapshot-id" -> (JInt(p): J)).toSeq ++
        s.schemaId.map(sid => "schema-id" -> (JInt(sid): J)).toSeq ++
        Seq(
          "sequence-number" -> (JInt(s.sequenceNumber): J),
          "timestamp-ms" -> (JInt(s.timestampMs): J),
          "manifest-list" -> (JStr(s.manifestList): J),
          // preserve each snapshot's own operation — clobbering a
          // compaction's "replace" to "append" would let incremental
          // windows silently cross the rewrite
          "summary" -> (JObj.of("operation" -> JStr(s.operation)): J))): _*)

    val writtenFormatVersion = parent.map(_.formatVersion).getOrElse(2L)
    // ALL schemas carry forward (id-based resolution reads old files
    // through the schema they were written under); a new table starts
    // the history at schema-id 0
    val curSchemaId = curSchemaId0
    val allSchemas: Seq[(Long, Seq[SchemaField])] = parent.filter(_.currentSchema.nonEmpty)
      .map(_.schemasById.toSeq.sortBy(_._1))
      .getOrElse(Seq(0L -> tableSchema))
    val lastColId = parent.map(_.lastColumnId).filter(_ > 0)
      .getOrElse(tableSchema.map(_.id).maxOption.getOrElse(0L))
    // a BRANCH commit advances only its ref; main's head stays put.
    // Refs carry forward on every commit (a main append must not
    // silently drop tags/branches), with the committed branch advanced.
    val mainHead: Long =
      if (toBranch.isEmpty) snapshotId
      else parent.flatMap(_.currentSnapshotId).getOrElse(snapshotId)
    val refsOut: Map[String, SnapshotRef] =
      parent.map(_.refs).getOrElse(Map.empty) ++
        toBranch.map(b => b -> SnapshotRef(snapshotId, "branch"))
    val refFields = if (refsOut.isEmpty) Seq.empty else Seq(
      "refs" -> (JObj(refsOut.toSeq.sortBy(_._1).map { case (n, r) =>
        n -> (JObj.of(
          "snapshot-id" -> JInt(r.snapshotId),
          "type" -> JStr(r.refType)): J) }): J))
    val baseFields = Seq(
      // never downgrade a table a DV commit raised to v3
      "format-version" -> (JInt(writtenFormatVersion): J),
      "table-uuid" -> (JStr(f"graft-${tableDir.hashCode}%08x-0000-0000-0000-000000000000"): J),
      "location" -> (JStr(tableDir): J),
      "last-sequence-number" -> (JInt(seq): J),
      "last-updated-ms" -> (JInt(timestampMs): J),
      "current-snapshot-id" -> (JInt(mainHead): J),
      "snapshots" -> (JArr(allSnaps.map(snapJson)): J),
      // ALWAYS written: field ids resolve identity partition sources
      // AND equality-delete ids (commitDeletes / read-side apply)
      "current-schema-id" -> (JInt(curSchemaId): J),
      "last-column-id" -> (JInt(lastColId): J),
      "schemas" -> (JArr(allSchemas.map { case (sid, fields) =>
        schemaJson(sid, fields) }): J),
      // Recorded fidelity: WHICH columns actually carry manifest bounds
      // this commit. Footer harvesting takes only top-level (depth-1)
      // parquet columns and only soundly-ordered types, so a nested or
      // float column is conservatively unbounded — pruning simply never
      // fires for it (statsMayMatch keeps files with missing bounds).
      // The note makes that coverage auditable instead of implicit.
      "properties" -> (JObj.of(
        "graft.bounds-coverage" -> (JStr {
          val bounded = files.flatMap(f => f.lowerBounds.keySet ++ f.upperBounds.keySet).toSet
          tableSchema.map(f =>
            s"${f.name}:${if (bounded.contains(f.id.toInt)) "bounded" else "unbounded"}")
            .mkString(",")
        }: J)): J))
    // ALL partition specs carry forward (files written under an old
    // spec resolve their layout through it forever); each field's
    // source-id comes from the SCHEMA's field id (never a positional
    // index — after evolution position and id diverge). Partition
    // field-ids are 1000 + specId·100 + ordinal: unique across specs
    // as v2 requires, and identical to the old single-spec encoding
    // (1000+i) for spec 0, so existing tables round-trip byte-stable.
    def sourceIdOf(pf: PartField): Long =
      pf.sourceId.getOrElse(idByName.get(pf.source).map(_._1.toLong).getOrElse(
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: partition source column ${pf.source} has no field id " +
            "in the table schema — cannot serialize the partition spec")))
    val specFields = if (allSpecsOut.forall(_._2.isEmpty)) Seq.empty else Seq(
      "default-spec-id" -> (JInt(specId0): J),
      "partition-specs" -> (JArr(allSpecsOut.map { case (sid, flds) =>
        JObj.of(
          "spec-id" -> JInt(sid),
          "fields" -> JArr(flds.zipWithIndex.map { case (pf, i) =>
            JObj.of(
              "name" -> JStr(pf.name),
              "transform" -> JStr(pf.transform),
              "source-id" -> JInt(sourceIdOf(pf)),
              "field-id" -> JInt(1000L + sid * 100L + i)): J })): J }): J))
    // sort order: this commit's sortBy becomes the default order;
    // otherwise the parent's recorded order carries forward (advisory —
    // unsorted appends are allowed, their bounds just aren't tight)
    val sortOut: Seq[String] =
      if (sortBy.nonEmpty) sortBy else parent.map(_.sortOrder).getOrElse(Nil)
    val sortFields = if (sortOut.isEmpty) Seq.empty else Seq(
      "default-sort-order-id" -> (JInt(1): J),
      "sort-orders" -> (JArr(Seq(JObj.of(
        "order-id" -> JInt(1),
        "fields" -> JArr(sortOut.map(c => JObj.of(
          "transform" -> JStr("identity"),
          "source-id" -> JInt(idByName.get(c).map(_._1.toLong).getOrElse(
            throw graft.core.GraftError.Plan(
              s"iceberg fidelity: sort column $c has no field id in the table schema"))),
          "direction" -> JStr("asc"),
          "null-order" -> JStr("nulls-first")): J))))): J))
    val metaJson = JObj.of((baseFields ++ specFields ++ refFields ++ sortFields): _*)
    Files.createDirectories(Paths.get(metaDir))
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(metaJson).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    readMeta(tableDir)
  }

  /** One schema object per the spec (schema-id, struct fields). */
  private def schemaJson(sid: Long, fields: Seq[SchemaField]): J = JObj.of(
    "schema-id" -> JInt(sid),
    "type" -> JStr("struct"),
    "fields" -> JArr(fields.map(f =>
      JObj.of(
        "id" -> JInt(f.id),
        "name" -> JStr(f.name),
        "required" -> JBool(false),
        "type" -> JStr(f.tpe)): J)))

  /** SCHEMA EVOLUTION (spec §Schema Evolution): rename / add / drop
    * columns by FIELD ID — renames keep the id, adds allocate fresh
    * ids above `last-column-id` (never reused), drops remove the field
    * from the current schema while old files keep their bytes. A new
    * schema joins the `schemas` history and becomes `current-schema-id`
    * in a new metadata version; no snapshot is created (metadata-only,
    * like the reference's catalog operations). Readers resolve every
    * data/delete file through the schema it was written under
    * (parquet footer field ids, falling back to the adding snapshot's
    * schema-id), so rename+append+read round-trips are exact.
    *
    * Refusals (typed GraftError.Plan): format-version 1 tables (every
    * write path refuses them), unknown source columns, name
    * collisions, dropping a partition-spec source, and dropping a
    * column a live equality delete still references (the delete could
    * no longer be applied). `adds` take iceberg primitive type names
    * ("long", "double", "string", "decimal(12, 2)", ...). */
  def alterSchema(tableDir: String, timestampMs: Long,
      renames: Map[String, String] = Map.empty,
      adds: Seq[(String, String)] = Nil,
      drops: Seq[String] = Nil): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    val meta = readMeta(tableDir)
    requireV2Plus(meta, "alter the schema of")
    val cur = meta.currentSchema
    require(cur.nonEmpty, "alterSchema requires a table with a recorded schema")
    def refuse(msg: String): Nothing =
      throw graft.core.GraftError.Plan(s"iceberg fidelity: $msg")
    val curNames = cur.map(_.name).toSet
    (renames.keySet ++ drops).foreach(c =>
      if (!curNames.contains(c)) refuse(s"alterSchema references unknown column '$c'"))
    adds.foreach { case (_, t) => sparkTypeOf(t) } // validate type names up front
    drops.foreach { c =>
      // ANY spec, not just the default: files written under an old
      // spec still resolve their pruning layout through it
      if (meta.spec.exists(_.source == c) ||
          meta.specsById.values.exists(_.exists(_.source == c)))
        refuse(s"cannot drop '$c': it is a partition-spec source column")
    }
    // a live equality delete's key ids must stay resolvable
    if (drops.nonEmpty) {
      val dropIds = cur.filter(f => drops.contains(f.name)).map(_.id.toInt).toSet
      val (_, liveDels) = planFiles(tableDir)
      val referenced = liveDels.filter(_.content == 2).flatMap(_.equalityIds).toSet
      val clash = dropIds.intersect(referenced)
      if (clash.nonEmpty)
        refuse(s"cannot drop columns with field ids $clash: live equality deletes " +
          "reference them — compact the table first")
    }
    val kept = cur.filterNot(f => drops.contains(f.name))
      .map(f => f.copy(name = renames.getOrElse(f.name, f.name)))
    val newIds = adds.zipWithIndex.map { case ((n, t), i) =>
      SchemaField(meta.lastColumnId + 1 + i, n, t)
    }
    val next = kept ++ newIds
    val dup = next.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    if (dup.nonEmpty) refuse(s"schema change produces duplicate column names: $dup")
    val newSid = meta.schemasById.keys.maxOption.getOrElse(0L) + 1
    val newLastCol = math.max(meta.lastColumnId, next.map(_.id).maxOption.getOrElse(0L))
    val allSchemas = (meta.schemasById + (newSid -> next)).toSeq.sortBy(_._1)

    val vOld = currentVersion(tableDir)
    val oldJson = CanonicalJson.parse(new String(
      Files.readAllBytes(Paths.get(metaDir, s"v$vOld.metadata.json")), StandardCharsets.UTF_8))
    val replaced = scala.collection.mutable.Set.empty[String]
    val newFields = (oldJson match {
      case JObj(fields) => fields.map {
        case ("schemas", _) =>
          replaced += "schemas"
          "schemas" -> (JArr(allSchemas.map { case (sid, fs) => schemaJson(sid, fs) }): J)
        case ("current-schema-id", _) =>
          replaced += "current-schema-id"
          "current-schema-id" -> (JInt(newSid): J)
        case ("last-column-id", _) =>
          replaced += "last-column-id"
          "last-column-id" -> (JInt(newLastCol): J)
        case ("last-updated-ms", _) => "last-updated-ms" -> (JInt(timestampMs): J)
        case other => other
      }
      case _ => refuse(s"unreadable metadata at version $vOld")
    }) ++
      // tables written before these keys existed gain them here
      (if (replaced.contains("current-schema-id")) Nil
       else Seq("current-schema-id" -> (JInt(newSid): J))) ++
      (if (replaced.contains("last-column-id")) Nil
       else Seq("last-column-id" -> (JInt(newLastCol): J)))
    require(replaced.contains("schemas"), "metadata carried no schemas array")
    val version = vOld + 1
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(JObj(newFields)).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    readMeta(tableDir)
  }

  /** manifest_entry schema for DELETE files: data_file carries content
    * (1 pos / 2 eq) and the nullable equality_ids int array. */
  private val deleteEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null}]}}]}""".stripMargin)

  /** Per-file row counts from parquet FOOTERS (metadata-only; delete
    * commits write a handful of files, so driver-side reads suffice —
    * never a second scan of the data pages just written). */
  private def perFileCounts(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val _ = spark
    val files = {
      val s = java.nio.file.Files.walk(Paths.get(dir))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector
      finally s.close()
    }
    files.map { p => val fs = ParquetFooters.read(p); (fs.path, fs.rowCount) }
  }

  /** Commit a DELETE snapshot (merge-on-read, spec v2): position
    * deletes (`file_path` string + `pos` long — positions in DATA
    * files) and/or equality deletes (key tuples over `equalityCols`).
    * Parquet delete files, one content=1 manifest whose entries carry
    * data_file.content 1/2 (+ equality_ids), manifest list extended,
    * metadata vN+1, version-hint flip — the same crash-safe commit
    * protocol as [[commitAppend]] (readers resolve the hint to an
    * immutable metadata file). Parent metadata is carried forward
    * FIELD-BY-FIELD, so specs/schemas survive the delete commit
    * verbatim (cdf reads full v2 incl. deletes,
    * crates/cdf-source-iceberg/src/driver.rs:1035). */
  def commitDeletes(spark: SparkSession, tableDir: String,
      posDeletes: Option[DataFrame] = None,
      eqDeletes: Option[(DataFrame, Seq[String])] = None,
      snapshotId: Long = 0L, timestampMs: Long = 0L,
      /** v3 deletion vectors: same (`file_path`, `pos`) shape as
        * `posDeletes`, written as ONE puffin file holding one
        * roaring-bitmap DV blob per referenced data file; each blob
        * gets its own manifest entry (file_format=PUFFIN,
        * referenced_data_file + content_offset/content_size_in_bytes,
        * record_count = cardinality) per the v3 spec. */
      dvDeletes: Option[DataFrame] = None): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    require(Files.exists(Paths.get(metaDir, "version-hint.text")),
      "delete commit requires an existing table")
    val parent = readMeta(tableDir)
    requireV2Plus(parent, "commit deletes")
    val parentSnap = parent.currentSnapshotId.map(parent.snapshot)
      .getOrElse(throw new IllegalArgumentException("cannot commit deletes to an empty table"))
    val seq = parent.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1

    final case class Written(path: String, n: Long, content: Int, eqIds: Seq[Long],
        format: String = "PARQUET", refFile: Option[String] = None,
        offset: Option[Long] = None, size: Option[Long] = None)
    val written = Seq.newBuilder[Written]
    // data files whose prior DV entries this commit supersedes (their
    // positions are merged into the new blobs, and the old entries are
    // retired from the carried-forward manifests below)
    var supersededDvRefs: Set[String] = Set.empty
    dvDeletes.foreach(ddf => graft.core.CacheScope {
      // DV construction is per referenced data file: positions group
      // by file (each group is one file's deleted rows — bounded by
      // rows-per-file, and roaring-compressed on write). The builder
      // holds every position of this COMMIT in driver memory, so the
      // intake is budgeted typed (the CDC planner's law): a commit
      // over the budget should be split into several DV commits, not
      // allowed to OOM the driver.
      val budget = 50_000_000L // positions ≈ 400 MB of longs
      // persisted across the probe + collect: the budget gate must not
      // re-execute an expensive upstream plan a second time
      val cached = graft.core.CacheScope.persisted(ddf
        .select(normPath(col("file_path").cast("string")).as("f"),
          col("pos").cast("long").as("p")))
      def refuseBudget(n: Long): Nothing =
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: DV commit carries $n delete positions (> $budget budget) — " +
            "split the delete set into multiple commits (one DV per data file is rewritten " +
            "wholesale anyway)")
      val nPos = cached.count()
      if (nPos > budget) refuseBudget(nPos)
      // v3 merge law: a data file carries AT MOST ONE deletion vector,
      // and a DV supersedes position delete FILES for its data file —
      // so a new DV must FOLD IN every existing position delete
      // (parquet or earlier DV) for the files it references; writing
      // it unmerged would let the read-side supersede rule resurrect
      // the earlier deleted rows.
      val refs = cached.select("f").distinct().collect().map(_.getString(0)).toSet
      val (_, liveDels) = planFiles(tableDir)
      val oldDvs = liveDels.filter(d => d.isDv &&
        d.referencedFile.exists(r => refs(r.replaceFirst("^file:/+", "/"))))
      supersededDvRefs = oldDvs.flatMap(_.referencedFile)
        .map(_.replaceFirst("^file:/+", "/")).toSet
      // earlier DV blobs decode driver-side here: each is one file's
      // roaring bitmap (the same bounded shape the budget governs, and
      // the merged count is re-gated below)
      import spark.implicits._
      val oldDvPos: Option[DataFrame] =
        if (oldDvs.isEmpty) None
        else Some(oldDvs.flatMap { d =>
          Puffin.readDeletionVector(d.path, d.contentOffset.get, d.contentSize.get)
            .map(p => (d.referencedFile.get.replaceFirst("^file:/+", "/"), p))
        }.toDF("f", "p"))
      val oldPqFiles = liveDels.filter(d => d.content == 1 && !d.isDv)
      val oldPqPos: Option[DataFrame] =
        if (oldPqFiles.isEmpty) None
        else {
          val refsDf = refs.toSeq.toDF("__ref")
          Some(spark.read.parquet(oldPqFiles.map(_.path): _*)
            .select(normPath(col("file_path")).as("f"), col("pos").cast("long").as("p"))
            .join(refsDf, col("f") === col("__ref"), "left_semi"))
        }
      val merged0 = (Seq(cached.toDF()) ++ oldDvPos.toSeq ++ oldPqPos.toSeq)
        .reduce(_ unionByName _)
      val mergedCached =
        if (oldDvPos.isEmpty && oldPqPos.isEmpty) cached
        else {
          val m = graft.core.CacheScope.persisted(merged0.distinct())
          val nAll = m.count()
          if (nAll > budget) refuseBudget(nAll)
          m
        }
      val rows = mergedCached.groupBy("f").agg(collect_list("p").as("ps")).collect()
      val perFile = rows
        .map(r => Puffin.Dv(r.getString(0), r.getSeq[Long](1)))
        .sortBy(_.referencedDataFile)
      require(perFile.nonEmpty, "commitDeletes: dvDeletes has no rows")
      val puffinPath = s"$tableDir/data/snap-$snapshotId-deletes.puffin"
      Puffin.writeDeletionVectors(puffinPath, perFile.toSeq, snapshotId, seq)
        .foreach { r =>
          written += Written(puffinPath, r.cardinality, 1, Nil, "PUFFIN",
            Some(r.referencedDataFile), Some(r.offset), Some(r.length))
        }
    })
    posDeletes.foreach { pdf =>
      val dir = s"$tableDir/data/snap-$snapshotId-pos-deletes"
      pdf.select(col("file_path").cast("string").as("file_path"),
          col("pos").cast("long").as("pos"))
        .write.mode("errorifexists").parquet(dir)
      perFileCounts(spark, dir).foreach { case (p, n) => written += Written(p, n, 1, Nil) }
    }
    eqDeletes.foreach { case (edf, cols) =>
      val nameToId = parent.fieldNamesById.map(_.swap)
      val ids = cols.map(c => nameToId.getOrElse(c, throw graft.core.GraftError.Plan(
        s"iceberg fidelity: equality delete column '$c' has no field id in the table schema")))
      val dir = s"$tableDir/data/snap-$snapshotId-eq-deletes"
      // embed the key columns' field ids (spec: delete files carry the
      // ids) — after a rename the read side resolves them footer-first
      edf.select(cols.zip(ids).map { case (c, id) =>
        val m = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id).build()
        col(c).as(c, m)
      }: _*).write.mode("errorifexists").parquet(dir)
      perFileCounts(spark, dir).foreach { case (p, n) => written += Written(p, n, 2, ids) }
    }
    val files = written.result()
    require(files.nonEmpty, "commitDeletes: no delete rows given")

    val manifestPath = s"$metaDir/manifest-$snapshotId-deletes.avro"
    val entryRecs = files.map { w =>
      val d = new GenericData.Record(deleteEntrySchema.getField("data_file").schema())
      d.put("content", w.content)
      d.put("file_path", w.path)
      d.put("file_format", w.format)
      d.put("record_count", w.n)
      d.put("file_size_in_bytes", new File(w.path).length())
      if (w.eqIds.nonEmpty)
        d.put("equality_ids", w.eqIds.map(i => Int.box(i.toInt)).asJava)
      w.refFile.foreach(d.put("referenced_data_file", _))
      w.offset.foreach(o => d.put("content_offset", Long.box(o)))
      w.size.foreach(s => d.put("content_size_in_bytes", Long.box(s)))
      val e = new GenericData.Record(deleteEntrySchema)
      e.put("status", StatusAdded)
      e.put("snapshot_id", Long.box(snapshotId))
      e.put("data_file", d)
      e
    }
    val manifestLen = writeAvro(manifestPath, deleteEntrySchema, entryRecs)

    // carry prior manifests forward — RETIRING any deletion-vector
    // entry this commit superseded (its positions are already folded
    // into the new blob; leaving the old entry would both violate the
    // spec's at-most-one-DV-per-file invariant for foreign readers and
    // double-apply under our union reader). The rewritten manifest
    // keeps the ORIGINAL added_snapshot_id so surviving entries'
    // sequence numbers resolve unchanged.
    var rewriteIdx = 0
    val priorCopies = readAvro(parentSnap.manifestList).flatMap { m =>
      val r = new GenericData.Record(manifestFileSchema)
      manifestFileSchema.getFields.asScala.foreach(f => r.put(f.name(), m.get(f.name())))
      val isDeleteManifest = longField(m, "content") == 1L
      if (supersededDvRefs.isEmpty || !isDeleteManifest) Some(r)
      else {
        val path = m.get("manifest_path").toString
        val old = readAvro(path)
        def superseded(e: GenericRecord): Boolean = {
          val df0 = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = Option(df0.get("file_format")).map(_.toString).getOrElse("")
          fmt.equalsIgnoreCase("PUFFIN") &&
            Option(df0.getSchema.getField("referenced_data_file"))
              .flatMap(_ => Option(df0.get("referenced_data_file"))).map(_.toString)
              .exists(ref => supersededDvRefs(ref.replaceFirst("^file:/+", "/")))
        }
        val kept = old.filterNot(superseded)
        if (kept.length == old.length) Some(r)
        else if (kept.isEmpty) None // every entry superseded: drop the manifest
        else {
          rewriteIdx += 1
          val newPath = s"$metaDir/manifest-$snapshotId-retire-$rewriteIdx.avro"
          val len = writeAvro(newPath, old.head.getSchema, kept)
          r.put("manifest_path", newPath)
          r.put("manifest_length", len)
          Some(r)
        }
      }
    }
    val newManifest = new GenericData.Record(manifestFileSchema)
    newManifest.put("manifest_path", manifestPath)
    newManifest.put("manifest_length", manifestLen)
    newManifest.put("partition_spec_id", 0)
    newManifest.put("content", 1) // delete manifest
    newManifest.put("added_snapshot_id", snapshotId)
    newManifest.put("added_files_count", files.length)
    newManifest.put("added_rows_count", files.map(_.n).sum)
    val listPath = s"$metaDir/snap-$snapshotId-manifest-list.avro"
    writeAvro(listPath, manifestFileSchema, priorCopies :+ newManifest)

    // carry the parent metadata forward verbatim, touching only the
    // snapshot bookkeeping (specs/schemas/uuid survive untouched)
    val snapJson: J = JObj.of(
      "snapshot-id" -> JInt(snapshotId),
      "parent-snapshot-id" -> JInt(parentSnap.id),
      "schema-id" -> JInt(parent.currentSchemaId),
      "sequence-number" -> JInt(seq),
      "timestamp-ms" -> JInt(timestampMs),
      "manifest-list" -> JStr(listPath),
      "summary" -> JObj.of("operation" -> JStr("delete")))
    bumpMetadata(metaDir, timestampMs, seq, snapshotId, addSnap = Some(snapJson),
      minFormatVersion = dvDeletes.map(_ => 3L))
    readMeta(tableDir)
  }

  /** COMPACTION (maintenance, REPLACE snapshot): folds every live
    * delete file into rewritten data files and merges small files,
    * then commits a snapshot whose manifest list holds ONE data
    * manifest and no delete manifests.
    *
    * The sequence-number law this exists to exercise: a data file
    * carried forward UNCHANGED becomes an EXISTING entry with an
    * EXPLICIT entry-level `sequence_number` (v2 inheritance covers
    * only null + ADDED), so (a) deletes committed before compaction
    * can never re-apply to it, (b) deletes committed after still gate
    * correctly, and (c) both hold even once the file's adding
    * snapshot is expired from metadata — the exact metadata shape
    * real compactors emit and [[planFiles]]/[[resolveSeqs]] refuse to
    * guess about. Rewritten files are ADDED entries inheriting the
    * compaction snapshot's sequence number, which is correct because
    * their rows already HAVE every older delete applied.
    *
    * A file is rewritten when a live delete could touch it under the
    * gates (pos/DV: fileSeq <= deleteSeq; eq: fileSeq < deleteSeq) or
    * when it is smaller than `smallFileBytes`; everything else is
    * carried forward. One distributed read→write job; only file
    * METADATA transits the driver. Partitioned tables rewrite under
    * the SAME spec (rows cluster by their transform values, so each
    * partition's small files collapse together) and carried entries
    * keep their partition structs, so pruning is unchanged. */
  def compact(spark: SparkSession, tableDir: String, snapshotId: Long,
      timestampMs: Long, smallFileBytes: Long = 64L << 20): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    require(Files.exists(Paths.get(metaDir, "version-hint.text")),
      "compact requires an existing table")
    val parent = readMeta(tableDir)
    requireV2Plus(parent, "compact")
    val parentSnap = parent.currentSnapshotId.map(parent.snapshot)
      .getOrElse(throw new IllegalArgumentException("cannot compact an empty table"))
    val (files, dels) = planFiles(tableDir)
    require(files.nonEmpty, "cannot compact a table with no data files")
    val maxPosSeq = dels.filter(_.content == 1).map(_.seq).maxOption
    val maxEqSeq = dels.filter(_.content == 2).map(_.seq).maxOption
    val (rewrite, carry) = files.partition { f =>
      maxPosSeq.exists(f.seq <= _) || maxEqSeq.exists(f.seq < _) ||
        f.sizeBytes < smallFileBytes
    }
    require(rewrite.nonEmpty || dels.nonEmpty,
      "compact: nothing to do (no deletes, no small files)")
    val seq = parent.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1
    val spec0 = parent.spec
    // column types come from the CURRENT schema when recorded (renamed
    // columns resolve; rewritten files consolidate onto current names),
    // falling back to a data file's own schema for legacy tables
    val curSchema = parent.currentSchema
    val srcSchema = spark.read.parquet(files.head.path).schema
    def dtOf(name: String): org.apache.spark.sql.types.DataType =
      curSchema.find(_.name == name).map(f => sparkTypeOf(f.tpe))
        .getOrElse(srcSchema(name).dataType)
    val idByName: Map[String, (Int, String)] =
      if (curSchema.nonEmpty) curSchema.map(f => f.name -> ((f.id.toInt, f.tpe))).toMap
      else srcSchema.fields.zipWithIndex.map { case (fld, i) =>
        fld.name -> ((i + 1, icebergType(fld.dataType)))
      }.toMap
    val targetCols: Seq[String] =
      if (curSchema.nonEmpty) curSchema.map(_.name) else srcSchema.fieldNames.toSeq
    val partTypes = spec0.map(pf =>
      pf.name -> avroTransformType(pf, dtOf(pf.source)))
    val entrySchema = entrySchemaFor(partTypes)

    val newFiles: Seq[DataFileRef] =
      if (rewrite.isEmpty) Seq.empty
      else {
        val resolved =
          if (dels.isEmpty) resolvedData(spark, rewrite, parent,
            parent.currentSchemaId, withPos = false)
          else applyDeletes(spark, rewrite, dels, parent, targetCols,
            parent.currentSchemaId)
        // layout: partitioned tables cluster by transform value (each
        // partition's small files collapse together); unpartitioned
        // tables size-target the output file count, never exceeding
        // the input count
        // compaction is where the table's recorded SORT ORDER actually
        // lands: rewritten files range-cluster + sort by it (the
        // OPTIMIZE shape), so a table whose appends arrived unsorted
        // gains tight bounds at its next compaction. Partitioned
        // tables keep transform clustering and sort within partitions.
        val sortCols = parent.sortOrder.filter(resolved.columns.contains)
        val clustered =
          if (spec0.nonEmpty) {
            val p = resolved.repartition(spec0.map(pf =>
              transformCol(spark, pf, dtOf(pf.source))): _*)
            if (sortCols.isEmpty) p else p.sortWithinPartitions(sortCols.map(col): _*)
          } else {
            val targetN = math.min(rewrite.length.toLong, math.max(1L,
              rewrite.map(_.sizeBytes).sum / math.max(1L, smallFileBytes))).toInt
            if (sortCols.isEmpty) resolved.repartition(targetN)
            else resolved.repartitionByRange(targetN, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
          }
        writeDataFiles(spark, clustered, s"$tableDir/data/snap-$snapshotId", spec0, idByName)
      }

    val manifestPath = s"$metaDir/manifest-$snapshotId-compact.avro"
    // MANIFESTS ARE PER-SPEC (the spec's own shape): a carried file
    // written under a NON-default spec keeps its own manifest with its
    // own partition_spec_id. Re-encoding its partition tuple into the
    // default spec's struct would null-fill foreign fields, and a null
    // non-string partition value reads back as exact "partition IS
    // null" information — an unsound prune, i.e. silent row loss.
    val defaultSid = parent.defaultSpecId
    val (carryDefault, carryOther) = carry.partition(_.specId == defaultSid)
    val entryRecs =
      newFiles.map(dataEntryRec(entrySchema, _, StatusAdded, snapshotId, None)) ++
        carryDefault.map(f =>
          dataEntryRec(entrySchema, f, StatusExisting, snapshotId, Some(f.seq)))
    val manifestLen = writeAvro(manifestPath, entrySchema, entryRecs)
    val newManifest = new GenericData.Record(manifestFileSchema)
    newManifest.put("manifest_path", manifestPath)
    newManifest.put("manifest_length", manifestLen)
    newManifest.put("partition_spec_id", defaultSid.toInt)
    newManifest.put("content", 0)
    newManifest.put("added_snapshot_id", snapshotId)
    newManifest.put("added_files_count", newFiles.length)
    newManifest.put("added_rows_count", newFiles.map(_.recordCount).sum)
    val otherManifests = carryOther.groupBy(_.specId).toSeq.sortBy(_._1).map {
      case (sid, fs) =>
        // unknown spec ids (legacy metadata) carry NO partition struct —
        // no-info is conservative, null info is not
        val sSpec = parent.specsById.getOrElse(sid, Seq.empty)
        val sTypes = sSpec.map(pf => pf.name -> avroTransformType(pf, dtOf(pf.source)))
        val sSchema = entrySchemaFor(sTypes)
        val p = s"$metaDir/manifest-$snapshotId-compact-spec$sid.avro"
        val len = writeAvro(p, sSchema, fs.map(f =>
          dataEntryRec(sSchema, f, StatusExisting, snapshotId, Some(f.seq))))
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", p)
        r.put("manifest_length", len)
        r.put("partition_spec_id", sid.toInt)
        r.put("content", 0)
        r.put("added_snapshot_id", snapshotId)
        r.put("added_files_count", 0)
        r.put("added_rows_count", 0L)
        r
    }
    val listPath = s"$metaDir/snap-$snapshotId-manifest-list.avro"
    writeAvro(listPath, manifestFileSchema, newManifest +: otherManifests)

    val snapJson: J = JObj.of(
      "snapshot-id" -> JInt(snapshotId),
      "parent-snapshot-id" -> JInt(parentSnap.id),
      "schema-id" -> JInt(parent.currentSchemaId),
      "sequence-number" -> JInt(seq),
      "timestamp-ms" -> JInt(timestampMs),
      "manifest-list" -> JStr(listPath),
      "summary" -> JObj.of("operation" -> JStr("replace")))
    bumpMetadata(metaDir, timestampMs, seq, snapshotId, addSnap = Some(snapJson))
    readMeta(tableDir)
  }

  /** Metadata-only MANIFEST consolidation (the `rewrite_manifests`
    * maintenance action): fold the current snapshot's LIVE data files
    * into ONE manifest per partition-spec id — EXISTING entries with
    * explicit sequence numbers and their stats re-emitted — without
    * touching a single data file. Every `commitAppend` adds a manifest,
    * so a 10k-commit table otherwise pays O(commits) manifest opens at
    * EVERY plan; after a rewrite, plan-time metadata reads drop to
    * O(live specs) + the delete manifests, which carry by REFERENCE
    * (manifests are immutable, and keeping their original
    * added_snapshot_id leaves incremental windows untouched). Pruning
    * power is unchanged (bounds/null-counts re-emitted verbatim, each
    * spec keeps its OWN partition struct — never null-filled into a
    * foreign spec). The snapshot commits as `replace`, so the
    * incremental-window guards treat it exactly like [[compact]],
    * minus the data rewrite. */
  def rewriteManifests(spark: SparkSession, tableDir: String, snapshotId: Long,
      timestampMs: Long): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    require(Files.exists(Paths.get(metaDir, "version-hint.text")),
      "rewriteManifests requires an existing table")
    val parent = readMeta(tableDir)
    requireV2Plus(parent, "rewriteManifests")
    val parentSnap = parent.currentSnapshotId.map(parent.snapshot)
      .getOrElse(throw new IllegalArgumentException(
        "cannot rewrite manifests of an empty table"))
    val (files, _) = planFiles(tableDir)
    require(files.nonEmpty, "cannot rewrite manifests of a table with no data files")
    val seq = parent.snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1
    val curSchema = parent.currentSchema
    lazy val srcSchema = spark.read.parquet(files.head.path).schema
    def dtOf(name: String): org.apache.spark.sql.types.DataType =
      curSchema.find(_.name == name).map(f => sparkTypeOf(f.tpe))
        .getOrElse(srcSchema(name).dataType)
    val dataManifests = files.groupBy(_.specId).toSeq.sortBy(_._1).flatMap {
      case (sid, fs) =>
        val sSpec = parent.specsById.getOrElse(sid, Seq.empty)
        // a file may share this spec id yet predate the spec's layout
        // (a table that started unpartitioned reuses id 0): only files
        // whose manifests carried EVERY spec field get the partition
        // struct; the rest go to a no-partition-struct manifest, which
        // reads back as NO INFO — writing them into the spec's struct
        // would null-fill foreign fields, and a null non-string
        // partition value reads as exact information (unsound prune)
        val (covered, bare) =
          if (sSpec.isEmpty) (Seq.empty[DataFileRef], fs)
          else fs.partition(f => sSpec.forall(pf => f.partition.contains(pf.name)))
        def manifestOf(entryFs: Seq[DataFileRef],
            types: Seq[(String, String)], suffix: String): Option[GenericRecord] =
          if (entryFs.isEmpty) None
          else {
            val sSchema = entrySchemaFor(types)
            val p = s"$metaDir/manifest-$snapshotId-rewrite-$suffix.avro"
            val len = writeAvro(p, sSchema, entryFs.map(f =>
              dataEntryRec(sSchema, f, StatusExisting, snapshotId, Some(f.seq))))
            val r = new GenericData.Record(manifestFileSchema)
            r.put("manifest_path", p)
            r.put("manifest_length", len)
            r.put("partition_spec_id", sid.toInt)
            r.put("content", 0)
            r.put("added_snapshot_id", snapshotId)
            r.put("added_files_count", 0)
            r.put("added_rows_count", 0L)
            Some(r)
          }
        val sTypes = sSpec.map(pf => pf.name -> avroTransformType(pf, dtOf(pf.source)))
        manifestOf(covered, sTypes, s"spec$sid").toSeq ++
          manifestOf(bare, Seq.empty, s"spec$sid-bare").toSeq
    }
    val deleteManifests =
      readAvro(parentSnap.manifestList).filter(m => longField(m, "content") == 1L)
    val listPath = s"$metaDir/snap-$snapshotId-manifest-list.avro"
    writeAvro(listPath, manifestFileSchema, dataManifests ++ deleteManifests)
    val snapJson: J = JObj.of(
      "snapshot-id" -> JInt(snapshotId),
      "parent-snapshot-id" -> JInt(parentSnap.id),
      "schema-id" -> JInt(parent.currentSchemaId),
      "sequence-number" -> JInt(seq),
      "timestamp-ms" -> JInt(timestampMs),
      "manifest-list" -> JStr(listPath),
      "summary" -> JObj.of("operation" -> JStr("replace")))
    bumpMetadata(metaDir, timestampMs, seq, snapshotId, addSnap = Some(snapJson))
    readMeta(tableDir)
  }

  /** MERGE (upsert) by key — the merge-on-read row-level update: one
    * EQUALITY-DELETE snapshot retires every existing row whose key
    * appears in `source`, then an APPEND snapshot writes the new
    * versions. The spec's sequence gate makes the pair atomic in
    * effect: the delete applies only to rows with dataSeq < deleteSeq,
    * so the appended rows (higher seq) survive their own keys'
    * deletes, and unmatched existing rows are untouched. Key tuples —
    * never payloads — travel into the delete file; compaction folds
    * the pair away later. */
  def mergeUpsert(spark: SparkSession, tableDir: String, source: DataFrame,
      keyCols: Seq[String], deleteSnapshotId: Long, appendSnapshotId: Long,
      timestampMs: Long): TableMeta = {
    require(keyCols.nonEmpty, "mergeUpsert requires at least one key column")
    require(keyCols.forall(source.columns.contains),
      s"key columns $keyCols missing from source ${source.columns.toSeq}")
    val keys = source.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    commitDeletes(spark, tableDir, eqDeletes = Some((keys, keyCols)),
      snapshotId = deleteSnapshotId, timestampMs = timestampMs)
    commitAppend(spark, tableDir, source, appendSnapshotId, timestampMs + 1)
  }

  // ------------------------------------------------- refs (tags/branches)

  /** Pin `snapshotId` under an immutable TAG. Idempotent when the tag
    * already names this snapshot; any other collision refuses typed
    * (retagging would silently move every reader of the name). */
  def tagSnapshot(tableDir: String, name: String, snapshotId: Long,
      timestampMs: Long): TableMeta =
    updateRefs(tableDir, timestampMs) { (meta, refs) =>
      meta.snapshot(snapshotId) // unknown id refuses here
      refs.get(name) match {
        case Some(SnapshotRef(`snapshotId`, "tag")) => refs // idempotent
        case Some(r) => throw graft.core.GraftError.Plan(
          s"iceberg fidelity: ref '$name' already exists (${r.refType} at " +
            s"${r.snapshotId}) — refs never silently move; drop it first")
        case None => refs + (name -> SnapshotRef(snapshotId, "tag"))
      }
    }

  /** Create a BRANCH at `fromSnapshotId` (current head when omitted).
    * Branch heads advance via `commitAppend(..., toBranch = Some(name))`. */
  def createBranch(tableDir: String, name: String,
      fromSnapshotId: Option[Long] = None, timestampMs: Long = 0L): TableMeta =
    updateRefs(tableDir, timestampMs) { (meta, refs) =>
      val base = fromSnapshotId.orElse(meta.currentSnapshotId).getOrElse(
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: cannot branch '$name' off an empty table"))
      meta.snapshot(base)
      if (refs.contains(name))
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: ref '$name' already exists — refs never silently move")
      refs + (name -> SnapshotRef(base, "branch"))
    }

  /** Remove a ref (its snapshot becomes expirable again). Unknown
    * names refuse — a silent no-op would mask a typo'd cleanup. */
  def dropRef(tableDir: String, name: String, timestampMs: Long): TableMeta =
    updateRefs(tableDir, timestampMs) { (_, refs) =>
      if (!refs.contains(name))
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: no ref named '$name' to drop")
      refs - name
    }

  /** Snapshot-pinned read at a named ref (tag or branch head). */
  def readRef(spark: SparkSession, tableDir: String, ref: String,
      filters: Seq[SFilter] = Nil): DataFrame =
    read(spark, tableDir, Some(readMeta(tableDir).resolveRef(ref)), filters)

  /** Timestamp time travel (`AS OF TIMESTAMP`): read the table as of
    * the NEWEST main-lineage snapshot committed at or before
    * `timestampMs`. Branch-only snapshots are not on main's history
    * and never resolve here (read their ref instead). Typed refusal
    * when the instant predates the table — silently returning empty
    * would be indistinguishable from a truncated table. */
  def readAsOf(spark: SparkSession, tableDir: String, timestampMs: Long,
      filters: Seq[SFilter] = Nil): DataFrame = {
    val meta = readMeta(tableDir)
    val head = meta.currentSnapshotId.getOrElse(
      throw graft.core.GraftError.Plan(
        "iceberg fidelity: cannot time-travel an empty table"))
    // main lineage via a tolerant parent walk: an EXPIRED parent ends
    // the history (the retained suffix is still valid to travel in)
    // rather than refusing — expiry legitimately truncates time travel
    val mainLineage = {
      val out = Seq.newBuilder[Snapshot]
      var cur: Option[Snapshot] = Some(meta.snapshot(head))
      while (cur.isDefined) {
        out += cur.get
        cur = cur.get.parentId.flatMap(p => meta.snapshots.find(_.id == p))
      }
      out.result()
    }
    val snap = mainLineage.filter(_.timestampMs <= timestampMs)
      .sortBy(s => (s.timestampMs, s.sequenceNumber)).lastOption.getOrElse(
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: no snapshot at or before $timestampMs — the oldest " +
            s"retained main snapshot is at ${mainLineage.map(_.timestampMs).min}"))
    read(spark, tableDir, Some(snap.id), filters)
  }

  /** Metadata-patch commit for ref changes: same crash-safe
    * version-bump + hint-flip as every other writer; only the `refs`
    * field (and last-updated-ms) changes. */
  private def updateRefs(tableDir: String, timestampMs: Long)(
      f: (TableMeta, Map[String, SnapshotRef]) => Map[String, SnapshotRef]): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    val meta = readMeta(tableDir)
    val newRefs = f(meta, meta.refs)
    if (newRefs == meta.refs) return meta // idempotent: no version churn
    val refsJson: J = JObj(newRefs.toSeq.sortBy(_._1).map { case (n, r) =>
      n -> (JObj.of(
        "snapshot-id" -> JInt(r.snapshotId),
        "type" -> JStr(r.refType)): J) })
    val vOld = currentVersion(tableDir)
    val oldJson = CanonicalJson.parse(new String(
      Files.readAllBytes(Paths.get(metaDir, s"v$vOld.metadata.json")), StandardCharsets.UTF_8))
    val newJson = oldJson match {
      case JObj(fields) =>
        val without = fields.filterNot(kv => kv._1 == "refs")
        val patched = without.map {
          case ("last-updated-ms", _) => "last-updated-ms" -> (JInt(timestampMs): J)
          case other => other
        }
        JObj(if (newRefs.isEmpty) patched else patched :+ ("refs" -> refsJson))
      case other => other
    }
    val version = vOld + 1
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(newJson).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    readMeta(tableDir)
  }

  /** WRITE-AUDIT-PUBLISH publish step: fast-forward `main` to a branch
    * head. The audited branch becomes the table's current state in ONE
    * metadata-only version (current-snapshot-id moves; a materialized
    * main ref moves with it) — no data or manifest file is touched,
    * which is the entire point of staging on a branch. Refuses typed
    * unless main's head is an ANCESTOR of the branch head: a
    * fast-forward never rewrites history, a diverged branch needs a
    * merge commit instead. */
  def fastForward(tableDir: String, branch: String, timestampMs: Long): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    val meta = readMeta(tableDir)
    val target = meta.resolveRef(branch)
    meta.currentSnapshotId.foreach { mh =>
      if (mh != target &&
          !meta.lineage(None, target).map(_.id).contains(mh))
        throw graft.core.GraftError.Plan(
          s"iceberg fidelity: publishing '$branch' ($target) is not a fast-forward — " +
            s"main's head $mh is not an ancestor of the branch head; the branches " +
            "diverged, merge instead of publishing")
    }
    if (meta.currentSnapshotId.contains(target)) return meta // idempotent
    val vOld = currentVersion(tableDir)
    val oldJson = CanonicalJson.parse(new String(
      Files.readAllBytes(Paths.get(metaDir, s"v$vOld.metadata.json")),
      StandardCharsets.UTF_8))
    val newJson = oldJson match {
      case JObj(fields) => JObj(fields.map {
        case ("current-snapshot-id", _) => "current-snapshot-id" -> (JInt(target): J)
        case ("last-updated-ms", _) => "last-updated-ms" -> (JInt(timestampMs): J)
        case ("refs", JObj(rs)) => "refs" -> (JObj(rs.map {
          case ("main", JObj(mf)) => "main" -> (JObj(mf.map {
            case ("snapshot-id", _) => "snapshot-id" -> (JInt(target): J)
            case other => other
          }): J)
          case other => other
        }): J)
        case other => other
      })
      case other => other
    }
    val version = vOld + 1
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(newJson).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    readMeta(tableDir)
  }

  /** Snapshot EXPIRATION (maintenance): drop snapshots outside `keep`
    * from the metadata, without touching any data or manifest file.
    * The current snapshot must be kept. After expiry, time travel to
    * an expired id fails, and sequence resolution for compacted
    * EXISTING entries must come from their explicit entry-level
    * sequence_number — [[resolveSeqs]] refuses typed if it cannot
    * (the silent seq=0 default would re-apply every delete). */
  def expireSnapshots(tableDir: String, keep: Set[Long], timestampMs: Long): TableMeta =
    expireSnapshots(tableDir, keep, timestampMs, gc = false)

  def expireSnapshots(tableDir: String, keep: Set[Long], timestampMs: Long,
      gc: Boolean): TableMeta = {
    val metaDir = s"$tableDir/metadata"
    val meta = readMeta(tableDir)
    val current = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException("cannot expire snapshots of an empty table"))
    require(keep.contains(current), s"expireSnapshots must keep the current snapshot $current")
    // refs PIN retention (the spec's retention semantics): expiring a
    // snapshot a tag or branch head names would silently break every
    // reader of that ref — refuse typed; the caller drops the ref
    // first or keeps its snapshot
    val pinned = meta.refs.collect {
      case (n, r) if !keep.contains(r.snapshotId) => s"$n (${r.refType}) → ${r.snapshotId}"
    }
    if (pinned.nonEmpty)
      throw graft.core.GraftError.Plan(
        "iceberg fidelity: cannot expire snapshots pinned by refs: " +
          pinned.toSeq.sorted.mkString(", ") + " — drop the refs first or keep their snapshots")
    val vOld = currentVersion(tableDir)
    val oldJson = CanonicalJson.parse(new String(
      Files.readAllBytes(Paths.get(metaDir, s"v$vOld.metadata.json")), StandardCharsets.UTF_8))
    val newJson = oldJson match {
      case JObj(fields) => JObj(fields.map {
        case ("snapshots", JArr(xs)) => "snapshots" -> (JArr(xs.filter {
          case JObj(sf) => sf.toMap.get("snapshot-id") match {
            case Some(JInt(id)) => keep.contains(id)
            case _ => true
          }
          case _ => true
        }): J)
        case ("last-updated-ms", _) => "last-updated-ms" -> (JInt(timestampMs): J)
        case other => other
      })
      case other => other
    }
    val version = vOld + 1
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(newJson).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    // metadata flip FIRST, file deletion second: a crash between the
    // two steps leaves only unreferenced orphans on disk (cleaned by
    // any later GC pass), never a dangling reference
    if (gc) gcUnreachableFiles(tableDir)
    readMeta(tableDir)
  }

  /** Garbage-collect files unreachable from the CURRENT metadata's
    * snapshots: expired snapshots' manifest lists, manifests no kept
    * snapshot references, and data/delete/puffin files no reachable
    * manifest entry names (status=2 entries count as reachable —
    * conservative). Real tables reclaim space after [[expireSnapshots]];
    * the walk is metadata-driven and deletes are idempotent, so a crash
    * mid-GC is re-runnable. Old vN.metadata.json history files are
    * KEPT (readers pinned to an old version resolve immutable
    * metadata; pruning that history is a separate policy decision).
    * Returns the deleted paths. */
  def gcUnreachableFiles(tableDir: String): Seq[String] = {
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val meta = readMeta(tableDir)
    val reachable = scala.collection.mutable.Set.empty[String]
    meta.snapshots.foreach { s =>
      reachable += norm(s.manifestList)
      manifests(s.manifestList, None).foreach { m =>
        reachable += norm(m.path)
        entries(m.path).foreach(e => reachable += norm(e.ref.path))
      }
    }
    def walkFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.exists(dir)) Seq.empty
      else {
        val s = Files.walk(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally s.close()
      }
    val dataCandidates = walkFiles(Paths.get(tableDir, "data")).filter { p =>
      val n = p.toString
      n.endsWith(".parquet") || n.endsWith(".puffin")
    }
    val metaCandidates = walkFiles(Paths.get(tableDir, "metadata"))
      .filter(_.toString.endsWith(".avro"))
    val doomed = (dataCandidates ++ metaCandidates)
      .filterNot(p => reachable(norm(p.toString)))
    doomed.foreach(Files.deleteIfExists(_))
    // sweep now-empty directories under data/ (cosmetic, best-effort)
    val dirs = {
      val d = Paths.get(tableDir, "data")
      if (!Files.exists(d)) Seq.empty
      else {
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toVector
        finally s.close()
      }
    }
    dirs.sortBy(-_.getNameCount).foreach { d =>
      val s = Files.list(d)
      val empty = try !s.iterator().hasNext finally s.close()
      if (empty) Files.deleteIfExists(d)
    }
    doomed.map(_.toString)
  }

  /** Carry the current metadata forward verbatim, bumping only the
    * snapshot bookkeeping (same shape [[commitDeletes]] uses). */
  private def bumpMetadata(metaDir: String, timestampMs: Long, seq: Long,
      snapshotId: Long, addSnap: Option[J],
      /** raise format-version (never lowered): a deletion-vector
        * commit makes the table v3 — a spec-conformant foreign reader
        * would reject DV entries under format-version 2. */
      minFormatVersion: Option[Long] = None): Unit = {
    val vOld0 = Integer.parseInt(new String(
      Files.readAllBytes(Paths.get(metaDir, "version-hint.text")), StandardCharsets.UTF_8).trim)
    val oldJson = CanonicalJson.parse(new String(
      Files.readAllBytes(Paths.get(metaDir, s"v$vOld0.metadata.json")), StandardCharsets.UTF_8))
    val newJson = oldJson match {
      case JObj(fields) => JObj(fields.map {
        case ("snapshots", JArr(xs)) =>
          "snapshots" -> (JArr(xs ++ addSnap.toSeq): J)
        case ("current-snapshot-id", _) => "current-snapshot-id" -> (JInt(snapshotId): J)
        case ("last-sequence-number", _) => "last-sequence-number" -> (JInt(seq): J)
        case ("last-updated-ms", _) => "last-updated-ms" -> (JInt(timestampMs): J)
        case ("format-version", JInt(v)) =>
          "format-version" -> (JInt(math.max(v, minFormatVersion.getOrElse(v))): J)
        case other => other
      })
      case other => other
    }
    val version = vOld0 + 1
    Files.write(Paths.get(metaDir, s"v$version.metadata.json"),
      CanonicalJson.render(newJson).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(metaDir, "version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
  }
}
