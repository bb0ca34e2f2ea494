package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, collect_list, count, explode, input_file_name, lit, max, min, row_number, struct, substring_index, sum, when}
import org.apache.spark.sql.types._
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import graft.functions.BloomFns

/** Transactional table layer over plain parquet — the manifest/commit-log
  * pattern of Delta Lake / Iceberg re-expressed without their jars (none
  * ship in this offline environment; the BASELINE north star names
  * "Delta/Parquet" as the storage layer, and the reference's nightly
  * publish (`/root/reference/scripts/spark_jobs/data_transformation.py`
  * overwrite writes) is exactly the job class that needs it).
  *
  * Layout:
  * {{{
  *   table/
  *     _txlog/00000000000000000001.json   // one manifest per version
  *     data/<commit-uuid>/part-*.parquet  // immutable data files
  * }}}
  *
  * Protocol (the public HDFS log-store recipe):
  *  1. Write the new data files under a fresh `data/<uuid>/` directory.
  *     Readers never list directories — only manifest-referenced files
  *     are visible, so uncommitted data is invisible by construction.
  *  2. Compose a manifest (file list + schema + per-file column stats +
  *     streaming-txn watermarks) for the next version and publish it with
  *     an ATOMIC RENAME into `_txlog/` that fails if the version already
  *     exists (`FileContext.rename(…, Rename.NONE)`, rename-if-absent —
  *     HDFS-atomic, the same primitive Delta's HDFSLogStore uses). A
  *     losing concurrent committer retries against the new latest
  *     version; a crash before the rename leaves only an orphaned data
  *     directory, never a torn table.
  *
  * Guarantees:
  *  - '''Atomic publish''': a reader sees version N fully or not at all —
  *    there is no moment where a directory listing mixes old and new
  *    files, because readers resolve the manifest first.
  *  - '''Snapshot isolation''': data files are immutable and overwrite
  *    only ADDS a manifest; a DataFrame resolved against version N keeps
  *    returning version N's rows even while N+1 is being committed.
  *  - '''Time travel''': every manifest is retained until [[vacuum]], so
  *    `readAsOf(version)` reconstructs any historical snapshot.
  *  - '''Write-write conflicts''': [[merge]] re-derives its result when
  *    the snapshot it read from is no longer the latest (CAS on the
  *    parent version); [[compact]] aborts if a concurrent commit removed
  *    a file it planned to rewrite.
  *  - '''Exactly-once streaming''': [[idempotentAppend]] records an
  *    (appId → batchId) watermark in the manifest and skips batches at
  *    or below it — a restarted `foreachBatch` sink that replays its
  *    last batch commits nothing twice (the public Delta
  *    txnAppId/txnVersion recipe).
  *
  * Scale notes: the manifest holds relative file paths, the schema JSON
  * and per-file min/max stats — O(files), KBs per thousand files; commit
  * cost is one small-file write + one metadata rename, independent of
  * table size. Reads plan from the explicit file list (no directory
  * listing — at 100 TB an object-store LIST of a million files is the
  * slow path the manifest exists to skip) with the stored schema (no
  * footer-sampling inference pass). [[readBetween]] prunes that file
  * list against the stored stats BEFORE Spark plans the scan — the
  * Delta data-skipping move that turns a point/range query on a sorted
  * or range-partitioned 100 TB table into a few-file read.
  */
object TxLog {

  /** Per-column, per-file statistics. Values are the column value cast
    * to string by Spark (numerics round-trip exactly; dates/timestamps
    * render ISO, whose lexicographic order IS chronological order).
    * `min`/`max` are None iff the column is all-NULL in the file.
    */
  final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

  /** One data file's row count and column stats (stats cover the first
    * [[maxStatsCols]] skippable top-level columns, cf. Delta's
    * dataSkippingNumIndexedCols=32 default). `parts` are the file's
    * partition values (column → dir-rendered string, NULL as
    * [[nullPartition]]) when the file was written under a partitioned
    * layout — the Delta per-file partitionValues field.
    */
  final case class FileEntry(path: String, rows: Long, stats: Map[String, ColStats],
      parts: Option[Map[String, String]] = None,
      bytes: Option[Long] = None)

  /** One data file's DELETION VECTOR (the public Delta DV concept): the
    * file stays on disk untouched, `dv` names a sidecar listing the
    * row positions (parquet `row_index`) deleted from it, `deleted` is
    * their count. Readers anti-join the positions out; rewrites
    * materialize them (a rewritten file never carries a DV forward).
    */
  final case class DvEntry(path: String, dv: String, deleted: Long)

  /** One row of the PARQUET checkpoint census ([[fileCensus]]): a
    * checkpoint manifest's per-file facts in columnar form, readable
    * DISTRIBUTED. The JSON manifest stays the commit gate and the
    * source of truth; the census is an additive sidecar for file-grain
    * operations at 10⁶–10⁷ files (compaction-candidate scans,
    * per-partition file accounting) where iterating a driver-resident
    * list stops scaling.
    */
  final case class CensusRow(path: String, rows: Option[Long],
      bytes: Option[Long], parts: Option[Map[String, String]],
      stats: Map[String, ColStats],
      dv: Option[String], dv_deleted: Option[Long])

  /** An IDENTITY column's allocation state (the Delta `GENERATED ALWAYS
    * AS IDENTITY` concept): appends that omit the column receive the
    * contiguous ids `[next, next + step·(n−1)]` and the commit advances
    * `next` — the high-water mark IS transactional state, so two racing
    * appends can never hand out the same id (the loser's CAS re-derives
    * with fresh ids).
    */
  final case class IdentitySpec(step: Long, next: Long)

  /** One committed version. `files` are table-root-relative and are the
    * single source of truth for reads; `stats` is advisory (skipping
    * only — a file without an entry is simply never skipped); `txn` is
    * the per-writer-app streaming watermark map for [[idempotentAppend]];
    * `cdf` lists THIS commit's change-data files (row-level pre/post
    * images carrying a `_change_type` column), present only when the
    * commit was made with `changeFeed = true`; `constraints` are the
    * table's CHECK invariants (name → SQL boolean expression), enforced
    * on every row-adding write until dropped.
    */
  final case class Manifest(version: Long, action: String,
      files: Seq[String], schemaJson: String, tsMillis: Long,
      stats: Option[Seq[FileEntry]] = None,
      txn: Option[Map[String, Long]] = None,
      cdf: Option[Seq[String]] = None,
      constraints: Option[Map[String, String]] = None,
      partitionBy: Option[Seq[String]] = None,
      bloomIndex: Option[Seq[String]] = None,
      dvs: Option[Seq[DvEntry]] = None,
      generated: Option[Map[String, String]] = None,
      dropped: Option[Seq[String]] = None,
      identity: Option[Map[String, IdentitySpec]] = None,
      renames: Option[Map[String, String]] = None,
      properties: Option[Map[String, String]] = None,
      // READER features this version requires (the Delta protocol-table
      // concept): a build that does not understand one of these would
      // silently MIS-READ the table (ignore the rename map and return
      // physical names, skip the deletion vectors and resurrect rows) —
      // json4s drops unknown FIELDS silently, so the requirement list
      // is what turns "future manifest meets old code" into a loud
      // refusal instead of wrong answers. None = plain parquet + log.
      features: Option[Seq[String]] = None)

  /** Stats are collected for at most this many leading skippable
    * columns: min/max strings for a 1000-column table would bloat every
    * manifest for columns nobody ranges on.
    */
  val maxStatsCols = 32

  private implicit val jsonFormats: org.json4s.Formats =
    Serialization.formats(NoTypeHints)

  /** Spark parquet scans force every field nullable regardless of the
    * supplied schema; store the schema in that normalized form so the
    * manifest states what a read actually returns. Column metadata is
    * stripped too — it doesn't affect what a read returns, and keeping
    * it would make the append drift check reject semantically identical
    * frames over metadata bytes (e.g. ML attribute annotations).
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true,
        metadata = Metadata.empty)))
    case a: ArrayType => a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** On-disk DELTA commit record (the Delta-protocol add/remove-action
    * idea): instead of the full O(table-files) snapshot, a commit stores
    * only what CHANGED relative to its immediate parent — added and
    * removed file paths, stats for the added files, deletion-vector
    * puts/drops — plus the small table-property fields verbatim (they
    * are O(1), not O(files)). Every [[checkpointInterval]]-th version
    * (and any commit whose delta would not reconstruct bit-exactly or
    * would not be smaller) is instead written as a FULL snapshot — a
    * checkpoint. Readers resolve version v by walking back to the
    * nearest checkpoint and replaying the delta tail (≤ interval small
    * reads), memoized in [[snapshotCache]]. This removes the last
    * O(table-files) driver cost from the commit path: at the 100 TB
    * design point (~10⁶ files) an append of 100 files writes a
    * ~10 KB delta record, not a ~100 MB file list.
    *
    * `schemaJson` is None when unchanged from the parent. The
    * discriminator is the `kind` field ("delta"); records without it
    * parse as full [[Manifest]]s, so pre-checkpointing logs read
    * unchanged.
    */
  final case class DeltaRec(kind: String, version: Long, base: Long,
      action: String, tsMillis: Long,
      add: Seq[String], remove: Seq[String],
      schemaJson: Option[String] = None,
      addStats: Option[Seq[FileEntry]] = None,
      dvPut: Option[Seq[DvEntry]] = None,
      dvDrop: Option[Seq[String]] = None,
      // `txn` VERBATIM is the pre-round-11 encoding, still read (and
      // preferred when present); new records carry only the DIFF —
      // with [[copyInto]]'s per-source-file ledger riding this map, a
      // verbatim copy would make every commit O(files ever ingested)
      txn: Option[Map[String, Long]] = None,
      txnPut: Option[Map[String, Long]] = None,
      txnDrop: Option[Seq[String]] = None,
      cdf: Option[Seq[String]] = None,
      constraints: Option[Map[String, String]] = None,
      partitionBy: Option[Seq[String]] = None,
      bloomIndex: Option[Seq[String]] = None,
      generated: Option[Map[String, String]] = None,
      dropped: Option[Seq[String]] = None,
      identity: Option[Map[String, IdentitySpec]] = None,
      renames: Option[Map[String, String]] = None,
      properties: Option[Map[String, String]] = None,
      // reader-feature requirements, carried VERBATIM per record (like
      // partitionBy) — a delta from a future build can then declare a
      // requirement this build must refuse rather than mis-replay
      features: Option[Seq[String]] = None)

  /** A full snapshot is forced every this-many versions so a reader's
    * delta-replay tail stays short and vacuum always has a nearby
    * checkpoint to anchor the kept range. The `_last_checkpoint`
    * pointer ([[latestVersion]]) moves on this cadence only, never on
    * the size-forced snapshots in between: on a small table nearly
    * every rewrite is one, and replacing an existing file in place
    * forces a disk writeback (Hadoop's local file system on a 4-vCPU
    * host's ext4 volume: median 138 ms, against 5 ms to create a new
    * file) or, on an object store, a PUT on the commit's path. Var, not val: specs and `FileCountProbe`
    * change it to pin a log shape.
    */
  private[graft] var checkpointInterval: Int = 10

  private val manifestName = raw"(\d{20})\.json".r
  private def logDir(table: Path) = new Path(table, "_txlog")
  private def manifestPath(table: Path, version: Long) =
    new Path(logDir(table), f"$version%020d.json")
  private def lastCheckpointPath(table: Path) =
    new Path(logDir(table), "_last_checkpoint")
  private def censusPath(table: Path, version: Long) =
    new Path(logDir(table), f"$version%020d.checkpoint.parquet")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions, ascending. Ignores foreign/temp files in the
    * log dir (an in-flight `.tmp-*` manifest is not a version).
    */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = logDir(new Path(table))
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case manifestName(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** Latest committed version. Fast path: the `_last_checkpoint`
    * advisory pointer (best-effort, written by the commit of every
    * [[checkpointInterval]]-th version and by no other) names a recent
    * version — probing FORWARD from it replaces the O(all versions)
    * directory listing, the difference between a handful of stats and
    * a 10⁷-entry listing on a long-lived table's EVERY snapshot
    * resolution. While the pointer's commit was the last one on the
    * cadence, the probe costs at most `checkpointInterval` existence
    * checks (`checkpointInterval − 1` versions past it, plus the miss
    * that ends the walk). The pointer is only ever a hint: absent
    * (a table younger than one interval), unreadable, partially
    * written, stale, or naming a vacuumed record, resolution falls
    * back to the full listing or a longer walk. Contiguous version
    * numbering (every commit = parent + 1; vacuum drops only a prefix)
    * makes the forward probe exact.
    */
  def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val t = new Path(table)
    val f = fs(spark, t)
    lastCheckpointHint(t, f) match {
      case Some(h) if f.exists(manifestPath(t, h)) =>
        var v = h
        while (f.exists(manifestPath(t, v + 1))) v += 1
        Some(v)
      case _ => versions(spark, table).lastOption
    }
  }

  private val lastCheckpointRe = """\{"version":(\d+)\}""".r

  private def lastCheckpointHint(t: Path,
      f: org.apache.hadoop.fs.FileSystem): Option[Long] =
    try {
      val p = lastCheckpointPath(t)
      if (!f.exists(p)) None
      else {
        val len = f.getFileStatus(p).getLen.toInt
        if (len <= 0 || len > 64) None // partial or foreign content
        else {
          val bytes = new Array[Byte](len)
          val in = f.open(p)
          try in.readFully(0, bytes) finally in.close()
          new String(bytes, "UTF-8").trim match {
            case lastCheckpointRe(v) => Some(v.toLong)
            case _ => None
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Memoized resolved snapshots, keyed by qualified manifest path.
    * Manifest records are immutable per (table, version) — the one
    * rewrite ([[vacuum]]'s delta→checkpoint materialization) preserves
    * the resolved content — so entries never go stale; the LRU bound
    * caps memory at ~64 full file lists. Safe across sessions (keyed by
    * storage path, not SparkSession).
    */
  private val snapshotCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Manifest](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Manifest]): Boolean = size > 64
      })

  /** Drop all memoized snapshots — spec hook to prove resolution works
    * from the on-disk records alone (e.g. after vacuum rewrote the
    * oldest kept version).
    */
  private[graft] def clearSnapshotCache(): Unit = snapshotCache.clear()

  private def readRawRecord(spark: SparkSession, table: Path,
      version: Long): Either[DeltaRec, Manifest] = {
    val p = manifestPath(table, version)
    val f = fs(spark, p)
    val in = f.open(p)
    val str =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    // streaming decode (~15x json4s — the cold-resolution hot path at a
    // large file census; see ManifestCodec); json4s remains the loud
    // safety net so a decoder gap can slow a read but never break one
    try ManifestCodec.decode(str)
    catch {
      case e: Exception =>
        System.err.println(s"[graft-txlog] manifest codec failed on $p " +
          s"(${e.getMessage}) - falling back to json4s")
        val jv = org.json4s.jackson.JsonMethods.parse(str)
        jv \ "kind" match {
          case org.json4s.JString("delta") => Left(jv.extract[DeltaRec])
          case _ => Right(jv.extract[Manifest])
        }
    }
  }

  /** The reader features a snapshot's state requires (the Delta
    * protocol-table concept, spelled as named features): a build
    * missing one would return WRONG ANSWERS, not errors — ignore the
    * rename map and surface physical column names, or skip the
    * deletion vectors and resurrect deleted rows. Derived from state,
    * never free-floating: drop the last vector and the requirement
    * drops with it. Write-only capabilities (constraints, identity,
    * generated columns, type widening) are deliberately NOT reader
    * features — a plain reader returns exact answers without them.
    */
  private def requiredReaderFeatures(m: Manifest): Option[Seq[String]] = {
    val fs = Seq(
      m.renames.filter(_.nonEmpty).map(_ => "column-mapping"),
      m.dvs.filter(_.nonEmpty).map(_ => "deletion-vectors")).flatten.sorted
    Some(fs).filter(_.nonEmpty)
  }

  /** Features THIS build can honor on the read path. A manifest (or a
    * future build's delta record) requiring anything else fails the
    * read loudly — see [[resolveSnapshot]].
    */
  private[graft] val supportedReaderFeatures: Set[String] =
    Set("column-mapping", "deletion-vectors")

  /** Reconstruct version `d.version`'s full snapshot from its parent's.
    * Inverse of [[buildDelta]]; the writer verified the round-trip is
    * bit-exact before choosing the delta encoding, so this IS the
    * manifest that a full write would have stored.
    */
  private def applyDelta(parent: Manifest, d: DeltaRec): Manifest = {
    val removed = d.remove.toSet
    val addSet = d.add.toSet
    val files = parent.files.filterNot(removed) ++ d.add
    val fileSet = files.toSet
    val stats = parent.stats.getOrElse(Seq.empty)
      .filter(e => fileSet(e.path) && !addSet(e.path)) ++
      d.addStats.getOrElse(Seq.empty)
    val putPaths = d.dvPut.getOrElse(Seq.empty).map(_.path).toSet
    val dvDropSet = d.dvDrop.getOrElse(Seq.empty).toSet
    val dvs = parent.dvs.getOrElse(Seq.empty)
      .filter(e => fileSet(e.path) && !dvDropSet(e.path) && !putPaths(e.path)) ++
      d.dvPut.getOrElse(Seq.empty)
    // txn: an old-style record carries the map verbatim; a new-style
    // one carries the diff vs the parent (no writer ever SHRANK the
    // map except via an explicit drop, so inherit+apply is exact — and
    // the writer's bit-equality gate re-proves it per record)
    val txn = d.txn.orElse {
      Some(parent.txn.getOrElse(Map.empty)
        -- d.txnDrop.getOrElse(Seq.empty)
        ++ d.txnPut.getOrElse(Map.empty)).filter(_.nonEmpty)
    }
    Manifest(d.version, d.action, files,
      d.schemaJson.getOrElse(parent.schemaJson), d.tsMillis,
      stats = Some(stats).filter(_.nonEmpty),
      txn = txn, cdf = d.cdf, constraints = d.constraints,
      partitionBy = d.partitionBy, bloomIndex = d.bloomIndex,
      dvs = Some(dvs).filter(_.nonEmpty),
      generated = d.generated, dropped = d.dropped, identity = d.identity,
      renames = d.renames, properties = d.properties,
      features = d.features)
  }

  /** Delta-encode `m` against its immediate parent. The caller must
    * verify `applyDelta(parent, result) == m` before writing it — the
    * encoding covers every shape publish produces today, but exact
    * equality (not the encoder's opinion) is the gate.
    */
  private def buildDelta(parent: Manifest, m: Manifest): DeltaRec = {
    val parentFiles = parent.files.toSet
    val mFiles = m.files.toSet
    val add = m.files.filterNot(parentFiles)
    val addSet = add.toSet
    val remove = parent.files.filterNot(mFiles)
    val parentDv = parent.dvs.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val mDv = m.dvs.getOrElse(Seq.empty)
    val mDvPaths = mDv.map(_.path).toSet
    val dvPut = mDv.filter(e => !parentDv.get(e.path).contains(e))
    val dvDrop = parent.dvs.getOrElse(Seq.empty).map(_.path)
      .filter(p => mFiles(p) && !mDvPaths(p))
    DeltaRec("delta", m.version, parent.version, m.action, m.tsMillis,
      add = add, remove = remove,
      schemaJson = Some(m.schemaJson).filter(_ != parent.schemaJson),
      addStats = Some(m.stats.getOrElse(Seq.empty).filter(e => addSet(e.path)))
        .filter(_.nonEmpty),
      dvPut = Some(dvPut).filter(_.nonEmpty),
      dvDrop = Some(dvDrop).filter(_.nonEmpty),
      txnPut = Some({
        val pTxn = parent.txn.getOrElse(Map.empty)
        m.txn.getOrElse(Map.empty)
          .filter { case (k, v) => !pTxn.get(k).contains(v) }
      }).filter(_.nonEmpty),
      txnDrop = Some {
        val mTxn = m.txn.getOrElse(Map.empty)
        parent.txn.getOrElse(Map.empty).keys
          .filterNot(mTxn.contains).toSeq.sorted
      }.filter(_.nonEmpty),
      cdf = m.cdf, constraints = m.constraints,
      partitionBy = m.partitionBy, bloomIndex = m.bloomIndex,
      generated = m.generated, dropped = m.dropped, identity = m.identity,
      renames = m.renames, properties = m.properties,
      features = m.features)
  }

  /** Whether version `v`'s on-disk record is a full snapshot (vs a
    * delta). Exposed for specs and vacuum's anchoring decision.
    */
  private[graft] def isCheckpointOnDisk(spark: SparkSession, table: String,
      version: Long): Boolean =
    readRawRecord(spark, new Path(table), version).isRight

  private def readManifest(spark: SparkSession, table: Path, version: Long): Manifest = {
    val p = manifestPath(table, version)
    val f = fs(spark, p)
    require(f.exists(p), s"table $table has no version $version " +
      "(never committed, or vacuumed away)")
    resolveSnapshot(spark, table, version, f)
  }

  /** Resolve version → full snapshot: cached, or read the record and —
    * when it is a delta — recursively resolve its parent and replay.
    * Chain depth is ≤ [[checkpointInterval]] by construction; a missing
    * intermediate (only possible if the log dir was mutated by hand —
    * vacuum anchors the kept range on a checkpoint) fails loudly.
    */
  private def resolveSnapshot(spark: SparkSession, table: Path, version: Long,
      f: org.apache.hadoop.fs.FileSystem): Manifest = {
    val key = f.makeQualified(manifestPath(table, version)).toString
    val cached = snapshotCache.get(key)
    if (cached != null) return cached
    val m = readRawRecord(spark, table, version) match {
      case Right(full) => full
      case Left(d) =>
        val pp = manifestPath(table, d.base)
        require(f.exists(pp), s"table $table: version $version is a delta " +
          s"record over missing parent ${d.base} — broken log chain " +
          "(log dir mutated outside the commit protocol?)")
        applyDelta(resolveSnapshot(spark, table, d.base, f), d)
    }
    // protocol gate: a version requiring a reader feature this build
    // does not implement must refuse LOUDLY here — every read, DML
    // find-pass, and maintenance plan resolves through this point, and
    // proceeding would return wrong answers, not errors (unknown JSON
    // fields decode silently; the requirement list is the tripwire)
    val unknown = m.features.getOrElse(Seq.empty)
      .filterNot(supportedReaderFeatures)
    require(unknown.isEmpty,
      s"table $table version $version requires reader feature(s) " +
        s"[${unknown.mkString(", ")}] this graft build does not " +
        "support — reading would silently return wrong results; " +
        "upgrade graft (or RESTORE to a version before the feature)")
    snapshotCache.put(key, m)
    m
  }

  /** `DESCRIBE HISTORY`: one row per committed version — version,
    * action, commit timestamp, referenced file count, total rows (None
    * for pre-stats manifests). Metadata-only: O(versions) manifest
    * reads, no data file is touched.
    */
  /** `DESCRIBE DETAIL` (the public Delta table-summary shape): one row
    * of operational metadata answered entirely from the latest manifest
    * — version, file count, total recorded bytes, live row count net of
    * deletion vectors, and the table properties (partition layout,
    * bloom index, constraint/generated/identity/rename counts). Zero
    * data files opened.
    */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val m = manifest(spark, table)
    val stats = m.stats.getOrElse(Seq.empty)
    val dvDeleted = m.dvs.getOrElse(Seq.empty).map(_.deleted).sum
    Seq((m.version, m.action, m.tsMillis,
      m.files.size.toLong,
      stats.flatMap(_.bytes).sum,
      stats.map(_.rows).sum - dvDeleted,
      m.dvs.getOrElse(Seq.empty).size.toLong,
      m.partitionBy.getOrElse(Seq.empty).mkString(","),
      m.bloomIndex.getOrElse(Seq.empty).mkString(","),
      m.constraints.getOrElse(Map.empty).size.toLong,
      m.generated.getOrElse(Map.empty).size.toLong,
      m.identity.getOrElse(Map.empty).size.toLong,
      m.renames.getOrElse(Map.empty).size.toLong))
      .toDF("version", "last_action", "last_modified_ms", "num_files",
        "size_bytes", "num_rows", "num_deletion_vectors", "partition_by",
        "bloom_index", "num_constraints", "num_generated",
        "num_identity", "num_renames")
  }

  private def censusRowsOf(m: Manifest): Seq[CensusRow] = {
    val statsBy = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val dvBy = m.dvs.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    m.files.map { p =>
      val e = statsBy.get(p)
      CensusRow(p, e.map(_.rows), e.flatMap(_.bytes), e.flatMap(_.parts),
        e.map(_.stats).getOrElse(Map.empty),
        dvBy.get(p).map(_.dv), dvBy.get(p).map(_.deleted))
    }
  }

  /** Size gate of [[writeCensus]]: checkpoints of fewer live files
    * write no census. Var, not val: specs lower it to 1 to pin the
    * census on small tables.
    */
  private[graft] var censusMinFiles: Int = 1000

  /** Write the PARQUET checkpoint census next to a just-published
    * checkpoint manifest — one columnar row per live file, under
    * `_txlog/<v>.checkpoint.parquet/`. Size-gated ([[censusMinFiles]]):
    * small tables gain nothing and must not pay a Spark write job per
    * fifth commit. Best-effort by design: a failed or missing census
    * never affects correctness ([[fileCensus]] falls back to the
    * manifest), and the JSON record remains the commit gate. Spark's
    * job-commit protocol makes the dir appear complete-or-absent
    * (`_SUCCESS` checked on read).
    */
  private def writeCensus(spark: SparkSession, t: Path, version: Long,
      m: Manifest): Unit = {
    if (m.files.size >= censusMinFiles) try {
      import spark.implicits._
      val rows = censusRowsOf(m)
      val parts = math.max(1, rows.size / 1000000)
      spark.createDataset(rows).repartition(parts)
        .write.mode("overwrite").parquet(censusPath(t, version).toString)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The file census of `version` (default: latest) as a DATAFRAME —
    * path, rows, bytes, partition values, per-column min/max/null
    * stats, and deletion-vector facts, one row per live file. Reads
    * the checkpoint's parquet census when one exists (distributed — at
    * 10⁷ files the census is ~GBs the driver never holds); any version
    * without one (delta records, small tables under the census gate,
    * pre-census logs) is served from its manifest identically. The
    * operational surface for file-grain questions — compaction
    * candidates (`bytes < threshold`), per-partition file counts,
    * DV debt (`sum(dv_deleted)`) — also exposed to SQL as
    * `graft_tx_files('<path>')`.
    */
  def fileCensus(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val t = new Path(table)
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      sys.error(s"table $table has no committed versions"))
    val m = manifestAt(spark, table, v)
    val f = fs(spark, t)
    val dir = censusPath(t, v)
    val fromDisk: Option[DataFrame] =
      try {
        if (f.exists(new Path(dir, "_SUCCESS")))
          Some(spark.read.parquet(dir.toString))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val df = fromDisk.getOrElse(spark.createDataset(censusRowsOf(m)).toDF())
    // fixed column order either way (parquet round-trips field order,
    // but pin it so both paths are interchangeable by position too)
    df.select(col("path"), col("rows"), col("bytes"), col("parts"),
      col("stats"), col("dv"), col("dv_deleted"))
  }

  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val t = new Path(table)
    versions(spark, table).map { v =>
      val m = readManifest(spark, t, v)
      (m.version, m.action, new java.sql.Timestamp(m.tsMillis),
        m.files.size.toLong, m.stats.map(_.map(_.rows).sum))
    }.toDF("version", "action", "ts", "num_files", "rows")
  }

  /** Latest committed manifest — the metadata a catalog surface would
    * show ([[history]] has the `DESCRIBE HISTORY` walk; this is the
    * planning snapshot).
    */
  def manifest(spark: SparkSession, table: String): Manifest = {
    val latest = latestVersion(spark, table).getOrElse(
      sys.error(s"table $table has no committed versions"))
    readManifest(spark, new Path(table), latest)
  }

  private def toDf(spark: SparkSession, table: Path, schemaJson: String,
      files: Seq[String]): DataFrame = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .parquet(files.map(new Path(table, _).toString): _*)
  }

  // ---------------------------------------------------------------------
  // Deletion-vector plumbing (see [[DvEntry]]; written by
  // `delete(deletionVectors = true)`, applied by every live read)
  // ---------------------------------------------------------------------

  /** The last two path components — unique per live file (the part-file
    * name embeds its write job's UUID; the parent is the commit-uuid or
    * partition dir), and extractable from `_metadata.file_path` with
    * one regexp, which is how a scan row finds its file's DV.
    */
  private def last2(rel: String): String =
    rel.split('/').takeRight(2).mkString("/")

  /** A scan's `_metadata.file_path` is the file's URI string, which
    * percent-encodes characters the manifest's raw rel path stores
    * literally (a partition dir like `cat=a b/` scans back as
    * `cat=a%20b/`). Every lookup structure keyed by [[last2]] and probed
    * with SCAN-reported keys therefore carries BOTH spellings — raw and
    * URI-encoded — mirroring [[relMapper]]'s raw-then-decode fallback.
    * (The encoded variant is computed the same way the scan produces it:
    * Hadoop `Path` → `URI` quoting. A lookup-side decode alone could not
    * serve the DV anti-JOIN, which has no fallback branch.)
    */
  private def scanKeys(rel: String, t: Path): Seq[String] = {
    // a SINGLE-segment rel (a converted table's adopted top-level file)
    // scans back as "<tableDirName>/<file>" — prefix the table dir so
    // the key matches what the last-two-components regexp extracts
    val full = if (rel.contains("/")) rel else s"${t.getName}/$rel"
    val raw = last2(full)
    val enc = last2(new Path("/" + full).toUri.getRawPath)
    if (enc == raw) Seq(raw) else Seq(raw, enc)
  }

  /** file → rel map probe-able by scan-reported keys (both spellings).
    * An ambiguous key (two manifest rels sharing a last-two suffix —
    * only reachable through pathological adopted layouts) fails loudly:
    * silently attributing one file's rows to another is the one thing a
    * DML find pass must never do.
    */
  private def byScanKey(files: Seq[String], t: Path): Map[String, String] = {
    val pairs = files.flatMap(f => scanKeys(f, t).map(_ -> f))
    pairs.groupBy(_._1).foreach { case (k, vs) =>
      require(vs.map(_._2).distinct.size == 1,
        s"ambiguous scan key '$k': ${vs.map(_._2).distinct.mkString(", ")}")
    }
    pairs.toMap
  }

  /** Sidecar codec: `GDV1` magic + row count + ULEB128 gap varints over
    * the SORTED positions — the roaring-bitmap-class trick that makes a
    * vector ~1–2 bytes per deleted row instead of 8 (deletes cluster,
    * so gaps are small and most varints are one byte). A million-row
    * delete is ~1–2 MB of sidecar against the gigabytes it didn't
    * rewrite.
    */
  private[graft] def encodeDv(positions: Seq[Long]): Array[Byte] = {
    val sorted = positions.distinct.sorted
    val out = new java.io.ByteArrayOutputStream(8 + sorted.length * 2)
    out.write('G'); out.write('D'); out.write('V'); out.write('1')
    def varint(v0: Long): Unit = {
      require(v0 >= 0, s"negative row position $v0")
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    varint(sorted.length.toLong)
    var prev = 0L
    sorted.foreach { p => varint(p - prev); prev = p }
    out.toByteArray
  }

  private[graft] def decodeDv(bytes: Array[Byte]): Seq[Long] = {
    require(bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'D' &&
      bytes(2) == 'V' && bytes(3) == '1',
      s"not a GDV1 deletion-vector sidecar (${bytes.length} bytes)")
    var i = 4
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({
        require(i < bytes.length, "truncated deletion-vector sidecar")
        val b = bytes(i); i += 1
        v |= (b & 0x7FL) << shift; shift += 7
        (b & 0x80) != 0
      }) ()
      v
    }
    val n = varint().toInt
    var prev = 0L
    Seq.fill(n) { prev += varint(); prev }
  }

  /** Decode one DV sidecar against an explicit FileSystem — every use
    * is EXECUTOR-side (no SparkSession there): the DML find pass's
    * prior-union and the read path's anti-join fan-out.
    */
  private def readDvFileFs(f: org.apache.hadoop.fs.FileSystem, t: Path,
      rel: String): Seq[Long] = {
    val p = new Path(t, rel)
    val len = f.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = f.open(p)
    try in.readFully(0, bytes) finally in.close()
    decodeDv(bytes)
  }

  /** Deterministic sidecar file name for a data file's vector within
    * one commit: a task RETRY (or speculative twin) re-writes the same
    * path with the same bytes instead of leaking a sibling, so the
    * executor-side write is idempotent. SHA-1 of the table-relative
    * path — commit-unique because rels are.
    */
  private def dvSidecarName(rel: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(rel.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString + ".dv"
  }

  // ---------------------------------------------------------------------
  // Column mapping (renameColumn): the manifest schema keeps the
  // PHYSICAL names (what the data files, stats, bloom sidecars, and
  // partition metadata say forever); `renames` maps physical → current
  // LOGICAL name. Reads alias physical → logical at the end of the
  // plan; writers rename logical → physical at the head of writeData —
  // everything between (conditions, constraints, generated expressions,
  // identity assignment) lives in the logical world.
  // ---------------------------------------------------------------------

  private def renamesOfM(m: Manifest): Map[String, String] =
    m.renames.getOrElse(Map.empty)

  /** The physical (file/stats) name behind a logical column name. */
  private def physOf(m: Manifest, logical: String): String =
    renamesOfM(m).collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** The manifest's physical schema with renamed fields shown under
    * their current logical names — what every read returns and every
    * user-facing validation checks against.
    */
  private def logicalSchema(m: Manifest): StructType = {
    val ren = renamesOfM(m)
    val s = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    if (ren.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = ren.getOrElse(f.name, f.name))))
  }

  /** [[logicalSchema]] of the manifest at `version` (relation surface). */
  private[graft] def logicalSchemaAt(spark: SparkSession, table: String,
      version: Long): StructType =
    logicalSchema(manifestAt(spark, table, version))

  /** [[physOf]] for the relation surface. */
  private[graft] def physOfAt(m: Manifest, logical: String): String =
    physOf(m, logical)

  /** Alias a physical-named frame to logical names (extra columns —
    * `_change_type`, `__dv_*` — pass through untouched).
    */
  private def aliasLogical(df: DataFrame, m: Manifest): DataFrame = {
    val ren = renamesOfM(m)
    if (ren.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(quoted(c)).as(ren.getOrElse(c, c))): _*)
  }

  /** How many deleted positions the read path will still BROADCAST for
    * the anti-join (tuple rows are ~50 B → ~50 MB at the cap). Above
    * it, the anti-join shuffles instead — still change-proportional,
    * never driver-resident.
    */
  private val dvBroadcastMaxPositions = 1000000L

  /** `files` (non-empty) read with the file key (`last2`) and parquet
    * row position attached as `__dv_k`/`__dv_i`, `m`'s deletion
    * vectors for those files anti-joined out, and columns under their
    * LOGICAL names. The sidecars are DECODED ON EXECUTORS (one task
    * row per sidecar fans out to its positions) — the driver holds
    * only the manifest's DV entry list, so a heavily-vectored 100 TB
    * table plans its reads without materializing a single position
    * driver-side. Small vector sets (≤ [[dvBroadcastMaxPositions]],
    * known exactly from the manifest's per-file deleted counts)
    * broadcast for a shuffle-free anti-join; larger ones shuffle.
    */
  private def liveKeyed(spark: SparkSession, t: Path, m: Manifest,
      files: Seq[String]): DataFrame = {
    val want = files.toSet
    val dvs = m.dvs.getOrElse(Seq.empty).filter(e => want(e.path))
    // last two path components, computed with substring_index (one
    // linear backward scan, whole-stage-codegen friendly). The previous
    // regexp_extract(path, "([^/]+/[^/]+)$", 1) spelling was the single
    // hottest executor expression in every DML find scan and DV-table
    // read: an end-anchored backtracking regex over a ~120-char path is
    // ~10-30µs PER ROW (Java regex retries the match at every start
    // offset), which at 150k rows turned each find scan into seconds of
    // pure regex CPU. Identical output for any absolute scan path (≥2
    // slashes, always true for file URIs); pinned by DmlFileKeySpec.
    val keyed = toDf(spark, t, m.schemaJson, files)
      .withColumn("__dv_k",
        substring_index(col("_metadata.file_path"), "/", -2))
      .withColumn("__dv_i", col("_metadata.row_index"))
    val lively =
      if (dvs.isEmpty) keyed
      else {
        import spark.implicits._
        // positions appear under BOTH key spellings so the anti-join
        // matches however the scan reports the path (raw vs URI-encoded)
        val pairs: Seq[(String, String)] =
          dvs.flatMap(e => scanKeys(e.path, t).map(k => (k, e.dv)))
        // the conf rides in the task closure, not a broadcast: the
        // returned frame is lazy and outlives this call, so nothing here
        // could destroy a broadcast, and each read would leave one behind
        val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
        val tqStr = fs(spark, t).makeQualified(t).toString
        val pos = spark.createDataset(pairs)
          .flatMap { (kd: (String, String)) =>
            val base = new Path(tqStr)
            val fx = base.getFileSystem(conf.value)
            readDvFileFs(fx, base, kd._2).map(i => (kd._1, i))
          }
          .toDF("__dv_k", "__dv_i")
        val posJ =
          if (dvs.map(_.deleted).sum <= dvBroadcastMaxPositions)
            broadcast(pos)
          else pos
        keyed.join(posJ, Seq("__dv_k", "__dv_i"), "left_anti")
      }
    aliasLogical(lively, m)
  }

  /** `files` read with `m`'s deletion vectors applied — the LIVE rows,
    * under their LOGICAL column names. Files without a DV stream
    * through a pass-through plan untouched.
    */
  private def readLive(spark: SparkSession, t: Path, m: Manifest,
      files: Seq[String]): DataFrame = {
    val want = files.toSet
    if (m.dvs.getOrElse(Seq.empty).forall(e => !want(e.path)))
      aliasLogical(toDf(spark, t, m.schemaJson, files), m)
    else {
      val names = logicalSchema(m).fieldNames
      liveKeyed(spark, t, m, files)
        .select(names.map(n => col(quoted(n))): _*)
    }
  }

  /** Live row count per file under `m`'s DVs (physical rows minus
    * deleted positions) — what the full-file-delete tier compares
    * match counts against.
    */
  private def liveRowsOf(m: Manifest): Map[String, Long] = {
    val deleted = m.dvs.getOrElse(Seq.empty).map(e => e.path -> e.deleted).toMap
    m.stats.getOrElse(Seq.empty)
      .map(e => e.path -> (e.rows - deleted.getOrElse(e.path, 0L))).toMap
  }

  /** Latest committed snapshot. Planning reads ONLY the manifest-listed
    * files with the stored schema — no directory listing, no inference —
    * and applies any deletion vectors.
    */
  def read(spark: SparkSession, table: String): DataFrame = {
    val m = manifest(spark, table)
    readLive(spark, new Path(table), m, m.files)
  }

  /** `TIMESTAMP AS OF` time travel (the second public Delta spelling):
    * the snapshot of the LAST version committed at or before
    * `tsMillis` — manifests carry their commit wall-clock, so the
    * lookup is a metadata walk. Fails loudly when the timestamp
    * precedes the retained history (vacuumed or never existed), same
    * stance as a missing version.
    */
  def readAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame = {
    val t = new Path(table)
    val m = readManifest(spark, t, versionAtTimestamp(spark, table, tsMillis))
    readLive(spark, t, m, m.files)
  }

  /** The LAST version committed at or before `tsMillis` — a metadata
    * walk over the manifests' commit wall-clocks. Fails loudly when the
    * timestamp precedes the retained history. Same-millisecond commits:
    * the later version wins (the state a reader at that instant saw).
    */
  def versionAtTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Long = {
    val t = new Path(table)
    val at = versions(spark, table).map(v => v -> readManifest(spark, t, v))
      .filter(_._2.tsMillis <= tsMillis)
    require(at.nonEmpty,
      s"table $table has no version committed at or before $tsMillis " +
        "(before retained history, or the table did not exist yet)")
    at.maxBy { case (v, mm) => (mm.tsMillis, v) }._1
  }

  /** [[restore]] to the table's state at a wall-clock instant (the
    * Delta `RESTORE … TO TIMESTAMP AS OF` spelling).
    */
  def restoreToTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Long =
    restore(spark, table, versionAtTimestamp(spark, table, tsMillis))

  /** [[vacuum]] by AGE (the Delta `VACUUM … RETAIN n HOURS` contract):
    * keeps every version committed within the last `hours`, always
    * including the latest. Retention maps to a version count against
    * the manifests' commit wall-clocks, then the version-count vacuum
    * does the reaping (checkpoint re-anchoring included).
    */
  def vacuumRetainHours(spark: SparkSession, table: String,
      hours: Double): Seq[String] = {
    require(hours >= 0, "retention hours must be >= 0")
    val cutoff = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    val t = new Path(table)
    val recent = versions(spark, table)
      .count(v => readManifest(spark, t, v).tsMillis >= cutoff)
    vacuum(spark, table, keepVersions = math.max(1, recent))
  }

  /** Time travel: the table exactly as committed at `version`. */
  def readAsOf(spark: SparkSession, table: String, version: Long): DataFrame = {
    val t = new Path(table)
    val m = readManifest(spark, t, version)
    readLive(spark, t, m, m.files)
  }

  /** The manifest exactly as committed at `version` (metadata-only). */
  def manifestAt(spark: SparkSession, table: String, version: Long): Manifest =
    readManifest(spark, new Path(table), version)

  /** `version`'s table-relative file list (metadata-only). */
  def filesAt(spark: SparkSession, table: String, version: Long): Seq[String] =
    manifestAt(spark, table, version).files

  /** Plan a read over an explicit subset of the table's files with the
    * latest manifest schema (files predating an evolved column
    * null-fill it). The incremental-consumer primitive: a change feed
    * or streaming source hands this exactly the files new commits
    * added. Deliberately RAW (no deletion vectors applied): the
    * append-feed contract is "the rows these files added when they were
    * committed", and a later DV on one of them must not retroactively
    * shrink the feed — use [[read]]/[[readAsOf]] for live-state reads.
    */
  def readFiles(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame = {
    val m = manifest(spark, table)
    aliasLogical(toDf(spark, new Path(table), m.schemaJson, files), m)
  }

  // ---------------------------------------------------------------------
  // CHECK constraints (the public Delta invariants surface)
  // ---------------------------------------------------------------------

  /** The table's CHECK constraints (name → SQL boolean expression);
    * empty for a table with none (or none committed yet).
    */
  def constraintsOf(spark: SparkSession, table: String): Map[String, String] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.constraints).getOrElse(Map.empty)

  /** The table's generated columns (column → SQL expression); empty
    * when none are declared.
    */
  def generatedOf(spark: SparkSession, table: String): Map[String, String] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.generated).getOrElse(Map.empty)

  /** Apply the generated-column property to an incoming frame (the
    * public Delta `GENERATED ALWAYS AS` write semantics): a frame that
    * OMITS a generated column gets it computed from its expression
    * (cast to the column's declared type); a frame that PROVIDES one
    * must agree with the expression null-safely on every row — a
    * silently divergent value would make the column a lie for every
    * downstream reader (and for partition pruning when the generated
    * column is the partition key, the canonical use).
    */
  private def applyGenerated(df: DataFrame, gen: Map[String, String],
      schema: StructType): DataFrame =
    gen.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, sql)) =>
      val e = org.apache.spark.sql.functions.expr(sql).cast(schema(c).dataType)
      if (!d.columns.contains(c)) d.withColumn(c, e)
      else d.filter(org.apache.spark.sql.functions.assert_true(
        col(quoted(c)) <=> e,
        lit(s"generated column '$c' provided a value different from ($sql)"))
        .isNull)
    }

  /** Declare `column` GENERATED ALWAYS AS (`exprSql`): existing rows
    * must already satisfy the expression (checked against LIVE rows,
    * like [[addConstraint]]); from then on every row-adding write
    * computes the column when omitted and validates it when provided,
    * and UPDATE recomputes it after assignments to its source columns.
    * Canonical use: `o_year = year(o_orderdate)` on a table
    * partitioned by `o_year` — writers state only the timestamp, the
    * layout column derives consistently forever.
    */
  def setGeneratedColumn(spark: SparkSession, table: String,
      column: String, exprSql: String): Long = {
    val t = new Path(table)
    org.apache.spark.sql.functions.expr(exprSql) // parse eagerly
    alterMetadata(spark, table, "set_generated") { (m, carried) =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(column),
        s"table $table has no column '$column' (schema: ${schema.fieldNames.mkString(", ")})")
      val gen = m.generated.getOrElse(Map.empty)
      require(!gen.contains(column),
        s"column '$column' is already generated on $table (drop it first)")
      val e = org.apache.spark.sql.functions.expr(exprSql)
        .cast(schema(column).dataType)
      val divergent = readLive(spark, t, m, m.files)
        .filter(!(col(quoted(column)) <=> e)).limit(1).count()
      require(divergent == 0,
        s"cannot declare '$column' generated on $table: existing rows " +
          s"diverge from ($exprSql)")
      carried.copy(generated = Some(gen + (column -> exprSql)))
    }
  }

  /** Drop a generated-column declaration (the data is untouched — the
    * column simply stops being computed/validated).
    */
  def dropGeneratedColumn(spark: SparkSession, table: String,
      column: String): Long =
    alterMetadata(spark, table, "drop_generated") { (m, carried) =>
      val gen = m.generated.getOrElse(Map.empty)
      require(gen.contains(column),
        s"no generated column '$column' on $table (has: ${gen.keySet.mkString(", ")})")
      carried.copy(generated = Some(gen - column))
    }

  /** The table's identity columns (column → allocation state). */
  def identityOf(spark: SparkSession, table: String): Map[String, IdentitySpec] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.identity).getOrElse(Map.empty)

  /** Declare `column` GENERATED ALWAYS AS IDENTITY: appends must OMIT
    * it (ALWAYS semantics — explicit values are refused) and receive
    * contiguous ids from the manifest's transactional high-water mark;
    * a lost commit race re-derives with fresh ids, so ids are unique
    * across any interleaving of writers. Allocation starts at
    * `max(start, max(existing) + 1)` — one column-pruned live scan
    * seeds the mark above whatever ids the table already holds.
    */
  def setIdentityColumn(spark: SparkSession, table: String, column: String,
      start: Long = 1L, step: Long = 1L): Long = {
    require(step >= 1, s"identity step must be >= 1, got $step")
    val t = new Path(table)
    alterMetadata(spark, table, "set_identity") { (m, carried) =>
      val schema = logicalSchema(m)
      require(schema.fieldNames.contains(column),
        s"table $table has no column '$column' (schema: ${schema.fieldNames.mkString(", ")})")
      require(schema(column).dataType == LongType,
        s"identity column '$column' must be BIGINT, is " +
          schema(column).dataType.simpleString)
      val ids = m.identity.getOrElse(Map.empty)
      require(!ids.contains(column),
        s"column '$column' is already an identity column of $table")
      require(!m.generated.getOrElse(Map.empty).contains(column),
        s"column '$column' is a generated column — it cannot also be identity")
      val existingMax = readLive(spark, t, m, m.files)
        .agg(max(col(quoted(column)))).head match {
          case r if r.isNullAt(0) => None
          case r => Some(r.getLong(0))
        }
      val next = existingMax.map(_ + 1L).filter(_ > start).getOrElse(start)
      carried.copy(identity = Some(ids + (column -> IdentitySpec(step, next))))
    }
  }

  /** Drop an identity declaration (the column keeps its values and
    * simply stops being auto-assigned).
    */
  def dropIdentityColumn(spark: SparkSession, table: String,
      column: String): Long =
    alterMetadata(spark, table, "drop_identity") { (m, carried) =>
      val ids = m.identity.getOrElse(Map.empty)
      require(ids.contains(column),
        s"no identity column '$column' on $table (has: ${ids.keySet.mkString(", ")})")
      carried.copy(identity = Some(ids - column))
    }

  /** Assign each identity column the contiguous ids
    * `next + step·rowIndex` in ONE `zipWithIndex` pass (a per-partition
    * count job + a narrow map — the only RDD drop-down in the write
    * path, justified by genuinely positional per-row logic), then
    * project back to the table's column order.
    */
  private def assignIdentity(df: DataFrame, ids: Map[String, IdentitySpec],
      schema: StructType): DataFrame = {
    val specs = ids.toSeq.sortBy(_._1)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(
        r.toSeq ++ specs.map { case (_, sp) => sp.next + sp.step * i })
    }
    val outSchema = StructType(df.schema.fields ++
      specs.map { case (c, _) => org.apache.spark.sql.types.StructField(c, LongType) })
    // project to table order over the columns PRESENT (an omitted
    // generated column is computed later by the inbound pipeline) —
    // and KEEP columns the table doesn't know yet, ordered after the
    // schema ones: a mergeSchema append's evolved columns must survive
    // this projection or the evolution silently loses their data
    val have = df.columns.toSet ++ specs.map(_._1)
    val inSchema = schema.fieldNames.toSeq.filter(have)
    val extras = (df.columns.toSeq ++ specs.map(_._1))
      .filterNot(schema.fieldNames.toSet).distinct
    df.sparkSession.createDataFrame(rdd, outSchema)
      .select((inSchema ++ extras).map(n => col(quoted(n))): _*)
  }

  /** Wrap `df` so that materializing it (the commit's data write) throws
    * on the FIRST row violating any constraint — enforcement rides the
    * write pass itself as one codegen'd predicate per row, never a
    * second scan. A row violates when the expression is FALSE or NULL
    * (the strict Delta invariant contract, stricter than SQL CHECK's
    * null-passes — a constraint that silently ignores NULLs is how bad
    * rows sneak into a lakehouse).
    */
  private def enforcing(df: DataFrame, cons: Map[String, String]): DataFrame =
    cons.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      d.filter(org.apache.spark.sql.functions.assert_true(
        coalesce(org.apache.spark.sql.functions.expr(sql), lit(false)),
        lit(s"CHECK constraint '$name' violated: ($sql) is not true")).isNull)
    }

  /** Property-key prefix for column DEFAULT declarations
    * (`graft.default.<column>` → SQL expression). Riding the
    * properties map means restore, clone, and TBLPROPERTIES carry them
    * with zero extra machinery.
    */
  private[graft] val defaultKeyPrefix = "graft.default."

  /** The declared column defaults (logical column → SQL expr). */
  def defaultsOf(spark: SparkSession, table: String): Map[String, String] =
    latestVersion(spark, table).map(_ => manifest(spark, table))
      .flatMap(_.properties).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith(defaultKeyPrefix) =>
        k.stripPrefix(defaultKeyPrefix) -> v }

  /** Declare a DEFAULT for `column` (`ALTER TABLE … ALTER COLUMN c SET
    * DEFAULT e`, the Delta/ANSI surface): every row-adding write that
    * OMITS the column from its frame gets it computed (cast to the
    * declared type) instead of refused — a provided column always wins,
    * including explicit NULLs (a default is a fallback for absence,
    * never a rewrite of intent; the standard write-time semantics —
    * existing rows are untouched and read whatever they stored).
    * The expression must parse, be deterministic (a per-row
    * nondeterministic default makes retried writes diverge), and the
    * column must not be GENERATED (computed by declaration) or
    * IDENTITY (always assigned).
    */
  def setColumnDefault(spark: SparkSession, table: String,
      column: String, exprSql: String): Long = {
    val e = org.apache.spark.sql.functions.expr(exprSql) // parse eagerly
    // resolve against a columnless frame: a default is a CONSTANT
    // expression (the Delta rule — it can reference no columns), and
    // determinism is only knowable after resolution (an unresolved
    // function reports deterministic)
    val analyzed =
      try spark.range(1).select(e).queryExecution.analyzed
      catch { case a: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"default for '$column' must be a constant expression " +
            s"(no column references): ($exprSql) — ${a.getMessage}")
      }
    // the range(1) scaffold exposes an 'id' column — an expression that
    // resolved only by capturing it (e.g. "id + 1") is NOT constant and
    // would re-resolve frame-dependently at write time
    require(analyzed.expressions.forall(_.references.isEmpty),
      s"default for '$column' must be a constant expression " +
        s"(no column references): ($exprSql)")
    require(analyzed.expressions.forall(_.deterministic),
      s"default for '$column' must be deterministic — ($exprSql) is not; " +
        "a retried write would land different values")
    val m = manifest(spark, table)
    val ls = logicalSchema(m)
    require(ls.fieldNames.contains(column),
      s"table $table has no column '$column' (schema: ${ls.fieldNames.mkString(", ")})")
    require(!m.generated.getOrElse(Map.empty).contains(column),
      s"'$column' is a generated column — it is computed by its " +
        "declaration; a default would conflict")
    require(!m.identity.getOrElse(Map.empty).contains(column),
      s"'$column' is an identity column — values are always assigned")
    setProperty(spark, table, defaultKeyPrefix + column, exprSql)
  }

  /** `ALTER TABLE … ALTER COLUMN c DROP DEFAULT` (no-op if absent). */
  def dropColumnDefault(spark: SparkSession, table: String,
      column: String): Long =
    unsetProperty(spark, table, defaultKeyPrefix + column)

  /** Fill declared defaults for columns ABSENT from an appending frame,
    * then restore the table's column order so the written schema
    * matches the stored one byte-for-byte.
    */
  private def withDefaults(spark: SparkSession, table: String,
      df: DataFrame): DataFrame = {
    val defs = defaultsOf(spark, table)
    // column-name comparison follows the session's resolution rules:
    // under the (default) case-insensitive analysis a frame supplying
    // O_FLAG satisfies a default declared on o_flag — filling it anyway
    // would land a duplicate/ambiguous column
    val cs = spark.sessionState.conf.caseSensitiveAnalysis
    def has(cols: Array[String], c: String): Boolean =
      if (cs) cols.contains(c) else cols.exists(_.equalsIgnoreCase(c))
    val missing = defs.filterNot { case (c, _) => has(df.columns, c) }
    if (missing.isEmpty) return df
    val schema = logicalSchema(manifest(spark, table))
    val filled = missing.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, sql)) =>
      d.withColumn(c,
        org.apache.spark.sql.functions.expr(sql).cast(schema(c).dataType))
    }
    val inOrder = schema.fieldNames.filter(f => has(filled.columns, f)) ++
      filled.columns.filterNot(f => has(schema.fieldNames, f))
    filled.select(inOrder.toSeq.map(c => col(quoted(c))): _*)
  }

  /** The row-adding writers' shared inbound pipeline: generated columns
    * computed/validated, then CHECK constraints enforced.
    */
  private def inbound(spark: SparkSession, table: String, df: DataFrame,
      cons: Map[String, String]): DataFrame = {
    val gen = generatedOf(spark, table)
    val g =
      if (gen.isEmpty) df
      else applyGenerated(df, gen, logicalSchema(manifest(spark, table)))
    enforcing(g, cons)
  }

  /** Composer-side guard: the rows being committed were enforced under
    * `enforcedCons`; if the parent manifest meanwhile gained a
    * constraint those rows never saw, the commit must fail loudly
    * rather than land unvalidated data (the metadata-conflict rule of
    * optimistic concurrency). Returns the parent's map — metadata flows
    * through the log, so a concurrently DROPPED constraint wins too.
    */
  private def guardedCons(table: String, parent: Option[Manifest],
      enforcedCons: Map[String, String]): Map[String, String] = {
    val pc = parent.flatMap(_.constraints).getOrElse(Map.empty)
    if (!pc.toSet.subsetOf(enforcedCons.toSet)) sys.error(
      s"commit to $table raced a constraint change: table now requires " +
        s"${pc.keySet.diff(enforcedCons.keySet).mkString(", ")} which the " +
        "written rows were not validated against; re-run the write")
    pc
  }

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (exprSql)`: validates the
    * CURRENT snapshot in one scan (re-validated on a CAS retry against
    * whatever snapshot is then latest), then commits a metadata-only
    * version carrying the new constraint. Every subsequent row-adding
    * write (overwrite/append/merge/update assignments) enforces it
    * in-pass and fails loudly on the first violating row.
    */
  def addConstraint(spark: SparkSession, table: String, name: String,
      exprSql: String): Long = {
    require(name.nonEmpty, "constraint name must be non-empty")
    val t = new Path(table)
    // parse eagerly: an unparseable expression must fail HERE, not at
    // the next unsuspecting append
    org.apache.spark.sql.functions.expr(exprSql)
    alterMetadata(spark, table, "addConstraint") { (m, carried) =>
      val cons = m.constraints.getOrElse(Map.empty)
      require(!cons.contains(name),
        s"constraint '$name' already exists on $table (drop it first)")
      // live rows only: a DV-deleted row is gone and must not block an
      // invariant the remaining data satisfies
      val violations = readLive(spark, t, m, m.files)
        .filter(!coalesce(org.apache.spark.sql.functions.expr(exprSql), lit(false)))
        .limit(1).count()
      require(violations == 0,
        s"cannot add constraint '$name' to $table: existing rows violate " +
          s"CHECK ($exprSql)")
      carried.copy(constraints = cons + (name -> exprSql))
    }
  }

  /** `ALTER TABLE DROP CONSTRAINT name` — metadata-only commit. */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long =
    alterMetadata(spark, table, "dropConstraint") { (m, carried) =>
      val cons = m.constraints.getOrElse(Map.empty)
      require(cons.contains(name),
        s"no constraint '$name' on $table (has: ${cons.keySet.mkString(", ")})")
      carried.copy(constraints = cons - name)
    }

  // ---------------------------------------------------------------------
  // Data skipping
  // ---------------------------------------------------------------------

  private def isSkippable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType
         | TimestampNTZType => true
    case _ => false
  }

  /** Stats-domain comparison: numerics compare numerically (the string
    * form round-trips exactly through BigDecimal), everything else
    * compares lexicographically — correct for strings by definition and
    * for ISO-rendered dates/timestamps by construction. An unparseable
    * numeric (NaN/Infinity renders) returns None = "don't know", and the
    * caller must keep the file.
    */
  private def cmp(dt: DataType, a: String, b: String): Option[Int] = dt match {
    case _: NumericType =>
      try Some(BigDecimal(a).compare(BigDecimal(b)))
      catch { case _: NumberFormatException => None }
    case _ => Some(a.compareTo(b))
  }

  /** Could a file with `st` hold a row with `column` in [lo, hi]?
    * Missing evidence always keeps the file — skipping is an
    * optimization and must never be a correctness bet.
    */
  private def mayMatch(st: ColStats, dt: DataType,
      lo: Option[String], hi: Option[String]): Boolean =
    (st.min, st.max) match {
      case (None, None) => false // all-NULL file; range predicates are null-rejecting
      case (Some(mn), Some(mx)) =>
        lo.forall(l => cmp(dt, mx, l).forall(_ >= 0)) &&
          hi.forall(h => cmp(dt, mn, h).forall(_ <= 0))
      case _ => true // half-written stats: treat as unknown
    }

  /** Range read with file-level data skipping: plans ONLY the files
    * whose [min,max] for `column` intersects [lo,hi] (both bounds
    * inclusive and optional), then applies the exact filter on top — the
    * stored stats choose which files to read, never which rows qualify,
    * so a missing or stale stats entry degrades to a full read, not a
    * wrong answer. Bounds are given in the column's own domain (numbers
    * for numeric columns, ISO strings for dates/timestamps).
    *
    * At 100 TB this is the difference between "scan the table" and
    * "read the handful of files a sorted/range-partitioned write put the
    * qualifying keys in" — pair with `repartitionByRange().sortWithinPartitions()`
    * (or [[Layout]] z-order) at write time to make the per-file ranges
    * tight.
    */
  def readBetween(spark: SparkSession, table: String, column: String,
      lo: Option[Any], hi: Option[Any]): DataFrame =
    readWhere(spark, table, Seq((column, lo, hi)))

  /** Multi-column range read with file-level skipping: a file survives
    * only if EVERY `(column, lo, hi)` bound's [min,max] intersects it —
    * the conjunctive pruning that pays off on a z-ordered layout, where
    * each file is a tight box in two dimensions and a small query box
    * excludes almost every file on one axis or the other. Same safety
    * contract as [[readBetween]]: stats choose files, the exact filter
    * on top chooses rows, missing evidence always keeps the file.
    */
  /** Evidence for one file/column from the manifest: stored stats, or
    * the exact partition value as min=max stats of the same strength.
    * None = no evidence (the caller must keep the file).
    */
  private def evidenceFor(e: FileEntry, column: String): Option[ColStats] =
    e.stats.get(column).orElse(
      e.parts.flatMap(_.get(column)).map {
        case `nullPartition` => ColStats(None, None, e.rows)
        case v => ColStats(Some(v), Some(v), 0)
      })

  /** The subset of `m.files` that could hold a row matching every given
    * conjunct, judged from per-file evidence alone. `bounds` are
    * inclusive [lo, hi] ranges (both optional) in the column's own
    * domain; `nullness` are IsNull(col)/IsNotNull(col) tests judged
    * from the stored null counts. Missing evidence ALWAYS keeps the
    * file — this chooses which files to read, never which rows match.
    */
  private[graft] def pruneByConjuncts(m: Manifest, schema: StructType,
      bounds: Seq[(String, DataType, Option[String], Option[String])],
      nullness: Seq[(String, Boolean)] = Seq.empty): Seq[String] = {
    val byPath = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    m.files.filter { p =>
      byPath.get(p) match {
        case None => true // no entry at all: cannot skip
        case Some(entry) =>
          bounds.forall { case (column, dt, lo, hi) =>
            evidenceFor(entry, column)
              .forall(st => mayMatch(st, dt, lo, hi))
          } && nullness.forall { case (column, wantNull) =>
            evidenceFor(entry, column).forall { st =>
              if (wantNull) st.nulls > 0 // no NULLs recorded: IsNull can't hit
              else st.nulls < entry.rows || entry.rows == 0 // all-NULL file
            }
          }
      }
    }
  }

  /** The subset of `files` that may contain ANY of `values` for
    * `column` — the big-IN prune. Feeding a large IN list through the
    * per-value path ([[pruneByConjuncts]] once per value) is
    * O(values × files); this is one sort plus O(files × log values)
    * with EXACTLY the per-value path's evidence semantics: render each
    * value in the column's domain, sort under the stats ordering
    * ([[cmp]]: numeric parse for numerics, lexicographic otherwise),
    * and per file binary-search for any value inside the file's
    * [min, max] window — a value lands in the window iff its per-value
    * min=max conjunct would have kept the file. Files whose window
    * does hold candidates are additionally probed against the column's
    * bloom sidecar (where indexed), restricted to the IN-WINDOW values
    * and capped at `bloomProbeCap` probes per file — past the cap the
    * file is kept unprobed, so driver cost stays bounded no matter how
    * large the IN list (the dynamic-file-pruning path hands this
    * 10⁴–10⁵-key dim sets). Missing or unparsable evidence always
    * keeps the file; `values` must be non-null and rendered in the
    * stats domain (numeric / string / date — the [[TxLogRelation]]
    * caller gates the type).
    */
  private[graft] def pruneByValueSet(spark: SparkSession, table: String,
      m: Manifest, column: String, dt: DataType, values: Seq[Any],
      files: Seq[String], bloomProbeCap: Int = 64): Seq[String] = {
    if (values.isEmpty) return files
    val numeric = dt.isInstanceOf[NumericType]
    // (sort key, original value), sorted under the stats ordering; a
    // value that fails to render/parse disables pruning (keep all)
    val sorted: Array[(AnyRef, Any)] =
      try values.iterator.map { v =>
        val r = v.toString
        ((if (numeric) BigDecimal(r) else r): AnyRef, v)
      }.toArray.sortBy(_._1)(
        if (numeric) Ordering.by((k: AnyRef) => k.asInstanceOf[BigDecimal])
        else Ordering.by((k: AnyRef) => k.asInstanceOf[String]))
      catch { case scala.util.control.NonFatal(_) => return files }
    val keys: Array[AnyRef] = sorted.map(_._1)
    def lt(a: AnyRef, b: AnyRef): Boolean =
      if (numeric) a.asInstanceOf[BigDecimal] < b.asInstanceOf[BigDecimal]
      else a.asInstanceOf[String] < b.asInstanceOf[String]
    // first index with keys(i) >= bound (strict=false) / > bound (strict)
    def bound(b: AnyRef, strict: Boolean): Int = {
      var lo = 0; var hi = keys.length
      while (lo < hi) { val mid = (lo + hi) >>> 1
        val below = if (strict) !lt(b, keys(mid)) else lt(keys(mid), b)
        if (below) lo = mid + 1 else hi = mid }
      lo
    }
    val byPath = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val bloomed = m.bloomIndex.getOrElse(Seq.empty).contains(column)
    lazy val qualified =
      fs(spark, new Path(table)).makeQualified(new Path(table))
    // bloom verdict for candidate index window [lo, hi): over the cap
    // keeps the file unprobed — bounded work beats a perfect answer
    def mayHold(rel: String, lo: Int, hi: Int): Boolean =
      !bloomed || hi - lo > bloomProbeCap ||
        bloomMightContain(spark, qualified, rel, column, dt,
          sorted.view.slice(lo, hi).map(_._2).toSeq)
    files.filter { p =>
      byPath.get(p) match {
        case None => mayHold(p, 0, keys.length) // no stats entry at all
        case Some(entry) =>
          evidenceFor(entry, column) match {
            case Some(ColStats(Some(mn), Some(mx), _)) =>
              val (lo, hi) =
                try {
                  val loK: AnyRef = if (numeric) BigDecimal(mn) else mn
                  val hiK: AnyRef = if (numeric) BigDecimal(mx) else mx
                  (bound(loK, strict = false), bound(hiK, strict = true))
                } catch { // unparsable stats: all values are candidates
                  case scala.util.control.NonFatal(_) => (0, keys.length)
                }
              lo < hi && mayHold(p, lo, hi)
            case Some(ColStats(None, None, _)) =>
              false // all-NULL file: an equality probe can never hit
            case _ => mayHold(p, 0, keys.length) // half-written/missing
          }
      }
    }
  }

  def readWhere(spark: SparkSession, table: String,
      bounds: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    require(bounds.nonEmpty, "readWhere needs at least one column bound")
    val m = manifest(spark, table)
    val schema = logicalSchema(m)
    // stats/bloom evidence is keyed by PHYSICAL names; users speak
    // logical — translate for the metadata lookups only
    val checks = bounds.map { case (column, lo, hi) =>
      require(schema.fieldNames.contains(column),
        s"table $table has no column '$column' (schema: ${schema.fieldNames.mkString(", ")})")
      val field = schema(column)
      require(isSkippable(field.dataType),
        s"column '$column' (${field.dataType.simpleString}) is not range-comparable")
      (physOf(m, column), field.dataType, lo.map(_.toString), hi.map(_.toString))
    }
    // point bounds (lo == hi) on bloom-indexed columns additionally
    // probe the per-file sidecar filters — the prune that works where
    // min/max cannot (high-cardinality keys scattered across files)
    val points = bounds.collect {
      case (c, Some(lo), Some(hi)) if lo == hi =>
        (physOf(m, c), schema(c).dataType, Seq(lo)) }
    val kept = bloomPrune(spark, table, m,
      pruneByConjuncts(m, schema, checks), points)
    val exact = bounds.flatMap { case (column, lo, hi) =>
      val c = col(quoted(column))
      val dt = schema(column).dataType
      lo.map(v => c >= lit(v).cast(dt)) ++ hi.map(v => c <= lit(v).cast(dt))
    }.reduceOption(_ && _).getOrElse(lit(true))
    readLive(spark, new Path(table), m, kept).filter(exact)
  }

  /** [[readFiles]] pinned at `version`, with that version's deletion
    * vectors applied (the incremental/pruned-read primitive for
    * snapshot-stable LIVE-state consumers like [[TxLogRelation]]).
    */
  private[graft] def readFilesAsOf(spark: SparkSession, table: String,
      version: Long, files: Seq[String]): DataFrame =
    readLive(spark, new Path(table),
      manifestAt(spark, table, version), files)

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Metadata-only aggregate (the Delta/Iceberg `SELECT count(*)`
    * fast-path class): total row count plus per-column min / max /
    * null-count for `columns`, answered ENTIRELY from the manifest —
    * zero data files are opened. count(*) is the sum of the per-file
    * row counts the commit protocol recorded; min/max/nulls fold the
    * per-file stats, which [[collectStats]] computed EXACTLY (a real
    * aggregate at write time, not a truncating footer read), so the
    * folded answer equals the full-scan answer. Fails loudly if any
    * live file lacks stats for a requested column — data skipping may
    * silently degrade to reading, but an ANSWER from metadata must
    * never be a guess; compute from the data instead.
    *
    * Output: one row — `n_rows`, then `<c>_min`, `<c>_max`,
    * `<c>_nulls` per requested column, min/max cast back to the
    * column's own type (the stats string form round-trips: numerics
    * through BigDecimal exactly, dates/timestamps through their ISO
    * render in the session timezone).
    *
    * At 100 TB this is the difference between a full-table scan and
    * one KB-sized manifest read for the most common dashboard
    * queries — the same reason Delta answers count(*) from its log.
    */
  def statsAggregate(spark: SparkSession, table: String,
      columns: Seq[String] = Seq.empty): DataFrame = {
    val m = manifest(spark, table)
    // deletion vectors make the per-file stats describe rows that are
    // no longer live (the deleted row may BE the min/max, and row
    // counts overcount) — a metadata ANSWER is never a guess; stats
    // PRUNING stays safe because bounds only widen
    require(m.dvs.forall(_.isEmpty),
      s"statsAggregate on $table: table has deletion vectors — the stored " +
        "stats may describe deleted rows; read the data (or compact first)")
    val schema = logicalSchema(m)
    // users speak logical names; per-file stats are keyed physical
    val cols = columns.map { c =>
      require(schema.fieldNames.contains(c),
        s"table $table has no column '$c' (schema: ${schema.fieldNames.mkString(", ")})")
      val f = schema(c)
      require(isSkippable(f.dataType),
        s"column '$c' (${f.dataType.simpleString}) has no stats domain")
      (c, physOf(m, c), f.dataType)
    }
    val byPath = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val perFile = m.files.map { p =>
      val e = byPath.getOrElse(p, sys.error(
        s"file $p of $table carries no stats — metadata-only aggregate " +
          "unavailable; aggregate over read() instead"))
      val vals: Seq[Any] = e.rows +: cols.flatMap { case (c, pc, _) =>
        if (e.rows == 0L) Seq(null, null, 0L) // 0-row file: nothing to fold
        else {
          val st = e.stats.getOrElse(pc, sys.error(
            s"file $p of $table has no stats for column '$c' — metadata-only " +
              "aggregate unavailable; aggregate over read() instead"))
          Seq(st.min.orNull, st.max.orNull, st.nulls)
        }
      }
      org.apache.spark.sql.Row(vals: _*)
    }
    val statSchema = StructType(
      StructField("__rows", LongType, nullable = false) +:
        cols.flatMap { case (c, _, _) => Seq(
          StructField(s"__mn_$c", StringType, nullable = true),
          StructField(s"__mx_$c", StringType, nullable = true),
          StructField(s"__nc_$c", LongType, nullable = false)) })
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(perFile.asJava, statSchema)
    val aggs = cols.flatMap { case (c, _, dt) => Seq(
      min(col(quoted(s"__mn_$c")).cast(dt)).as(s"${c}_min"),
      max(col(quoted(s"__mx_$c")).cast(dt)).as(s"${c}_max"),
      coalesce(sum(col(quoted(s"__nc_$c"))), lit(0L)).as(s"${c}_nulls")) }
    df.groupBy()
      .agg(coalesce(sum(col("__rows")), lit(0L)).as("n_rows"), aggs: _*)
  }

  /** Map each scanned absolute path back to its table-relative path by
    * its `data/<uuid>/…` suffix — the commit-uuid dir makes it unique,
    * and (unlike the bare file name) it stays unique under partition
    * subdirectories, where one task writes SAME-NAMED part files into
    * several partition dirs.
    */
  private def relMapper(relFiles: Seq[String]): String => String = {
    val byRel = relFiles.map(r => r -> r).toMap
    val dataRel = relFiles.head.split('/').take(2).mkString("/")
    abs => {
      val idx = abs.indexOf("/" + dataRel + "/")
      require(idx >= 0, s"stats scan returned unlisted file $abs")
      val raw = abs.substring(idx + 1)
      byRel.getOrElse(raw,
        byRel.getOrElse(java.net.URLDecoder.decode(raw, "UTF-8"),
          sys.error(s"stats scan returned unlisted file $abs")))
    }
  }

  private def collectStats(spark: SparkSession, table: Path,
      schema: StructType, relFiles: Seq[String]): Seq[FileEntry] =
    statsScan(spark, schema, relFiles.map(new Path(table, _).toString),
      relMapper(relFiles)).map(e => e.copy(parts = partValuesOf(e.path)))

  /** Boundary between the two footer-statistics execution shapes: at or
    * below this many files the footers are read on the driver's pool;
    * above it one distributed metadata job reads them on the executors
    * (a giant commit must not serialize that many footer opens on the
    * driver). Var, not val: specs lower it to pin the distributed path.
    */
  private[graft] var footerStatsMaxFiles: Int = 1000

  /** Per-file stats from PARQUET FOOTERS — the metadata-only collector
    * (guide §6: stats the writer already persisted should not cost a
    * second read of the data). For every fresh file it opens only the
    * footer (KBs) instead of running a whole Spark aggregate job over
    * the written bytes — per small commit that deletes one full job +
    * its planning (~100–200 ms here, a second data pass at scale).
    *
    * EXACTNESS, not best-effort: the returned entries must be
    * byte-identical to what [[aggregateStats]] would produce
    * (these strings feed the oracle-checked q105/q106 outputs and the
    * skipping comparisons), so every min/max is decoded to the same
    * Catalyst value the scan would aggregate and rendered through the
    * SAME `CAST(v AS STRING)` expression (Shim.castToString). Any shape
    * this cannot prove equal trips the WHOLE-BATCH fallback to the
    * aggregate scan (returns None):
    *   - a chunk without statistics, or null-count unset;
    *   - float/double min/max that is NaN or ±0.0 (parquet normalizes
    *     zero signs and NaN handling differs from Spark's NaN-greatest
    *     ordering — never guess);
    *   - string min/max at or beyond lengths parquet may truncate/omit;
    *   - any physical/logical type combination outside the known-exact
    *     matrix (INT32/INT64/FLOAT/DOUBLE/BINARY-UTF8/date/timestamp-
    *     micros-or-millis/decimal, plus the INT32→long widened read).
    * A column entirely absent from a file (adopted/evolved layouts)
    * is all-NULL on read, exactly like the aggregate sees it.
    *
    * Execution shape: at or below [[footerStatsMaxFiles]] files the
    * footers are read on the DRIVER, concurrently on a small pool
    * (independent KB-sized reads; serializing them was ~8 ms × files of
    * pure latency per commit). Above it they are read on the EXECUTORS
    * via one `parallelize` job over the (abs, rel) pairs — the same
    * per-file decode, the same whole-batch fallback, so a >1000-file
    * commit no longer pays a full second data scan for stats the
    * footers already hold (the previous behavior; the aggregate scan
    * remains the fallback for unprovable shapes only).
    */
  private def footerStats(spark: SparkSession, schema: StructType,
      skippable: Array[StructField], absFiles: Seq[String],
      relOf: String => String): Option[Seq[FileEntry]] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    // relOf is written for SCAN-reported spellings (URI-encoded); the
    // footer path hands it the caller's own abs strings — any exotic
    // path it cannot map falls back to the scan rather than failing
    val rels =
      try absFiles.map(relOf)
      catch { case scala.util.control.NonFatal(_) => return None }
    val perFile: Seq[Option[FileEntry]] =
      if (absFiles.size <= footerStatsMaxFiles) {
        val conf = spark.sessionState.newHadoopConf()
        import scala.jdk.CollectionConverters._
        val calls: Seq[java.util.concurrent.Callable[Option[FileEntry]]] =
          absFiles.zip(rels).map { case (abs, rel) =>
            (() => footerOfFile(conf, abs, rel, skippable, zone)): java.util.concurrent.Callable[Option[FileEntry]]
          }
        footerPool.invokeAll(calls.asJava).asScala.toSeq.map(_.get())
      } else {
        // executor-side footer reads: one metadata-only job, ~KBs per
        // task, never the data pages
        val confBc = spark.sparkContext.broadcast(
          new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        val slices = math.min(spark.sparkContext.defaultParallelism * 4,
          math.max(1, absFiles.size / 16))
        try {
          spark.sparkContext.parallelize(absFiles.zip(rels), slices)
            .map { case (abs, rel) =>
              footerOfFile(confBc.value.value, abs, rel, skippable, zone) }
            .collect().toSeq
        } finally confBc.destroy()
      }
    if (perFile.exists(_.isEmpty)) None else Some(perFile.map(_.get))
  }

  /** Driver-side pool for concurrent footer reads (metadata-only,
    * latency-bound): daemon threads so an exiting session never hangs
    * on it.
    */
  private lazy val footerPool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-footer-stats")
      t.setDaemon(true)
      t
    })

  /** One file's [[FileEntry]] from its parquet footer alone, or None if
    * any shape cannot be PROVEN byte-identical to the aggregate scan's
    * answer (the exactness matrix in [[footerStats]]'s scaladoc). Pure
    * function of (conf, path, fields, zone): safe on the driver pool and
    * inside the distributed footer job alike.
    */
  private def footerOfFile(conf: org.apache.hadoop.conf.Configuration,
      abs: String, rel: String, skippable: Array[StructField],
      zone: String): Option[FileEntry] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // decode one chunk's raw statistics value to the Catalyst value the
    // aggregate scan would have seen; None = cannot prove exact
    def catalystOf(raw: Any, pt: org.apache.parquet.schema.PrimitiveType,
        dt: DataType): Option[Any] = {
      val ann = pt.getLogicalTypeAnnotation
      (pt.getPrimitiveTypeName, dt) match {
        case (INT32, IntegerType) => Some(raw)
        case (INT32, LongType) => // metadata-only widened int→long file
          Some(raw.asInstanceOf[java.lang.Integer].longValue())
        case (INT64, LongType) => Some(raw)
        case (INT32, ShortType) =>
          Some(raw.asInstanceOf[java.lang.Integer].shortValue())
        case (INT32, ByteType) =>
          Some(raw.asInstanceOf[java.lang.Integer].byteValue())
        case (FLOAT, FloatType) =>
          val f = raw.asInstanceOf[java.lang.Float].floatValue()
          if (java.lang.Float.isNaN(f) || f == 0.0f) None else Some(f)
        case (DOUBLE, DoubleType) =>
          val d = raw.asInstanceOf[java.lang.Double].doubleValue()
          if (java.lang.Double.isNaN(d) || d == 0.0d) None else Some(d)
        case (BINARY, StringType)
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          val b = raw.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          // stay far below parquet's footer-stats truncation/omission
          // thresholds — long values fall back to the scan
          if (b.length >= 1024) None
          else Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
        case (INT32, DateType)
            if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
          Some(raw)
        case (INT64, TimestampType) => ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.isAdjustedToUTC &&
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(raw)
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.isAdjustedToUTC &&
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            Some(raw.asInstanceOf[java.lang.Long].longValue() * 1000L)
          case _ => None
        }
        case (INT64, TimestampNTZType) => ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if !t.isAdjustedToUTC &&
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(raw)
          case _ => None
        }
        case (_, d: DecimalType) => ann match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
              if dec.getScale == d.scale =>
            val unscaled: Option[java.math.BigInteger] =
              pt.getPrimitiveTypeName match {
                case INT32 => Some(java.math.BigInteger.valueOf(
                  raw.asInstanceOf[java.lang.Integer].longValue()))
                case INT64 => Some(java.math.BigInteger.valueOf(
                  raw.asInstanceOf[java.lang.Long].longValue()))
                case BINARY | FIXED_LEN_BYTE_ARRAY => Some(new java.math.BigInteger(
                  raw.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
                case _ => None
              }
            unscaled.map(u => org.apache.spark.sql.types.Decimal(
              BigDecimal(new java.math.BigDecimal(u, d.scale)), d.precision, d.scale))
          case _ => None
        }
        case _ => None
      }
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(abs), conf)
    val reader =
      try org.apache.parquet.hadoop.ParquetFileReader.open(in)
      catch { case _: java.io.IOException => return None }
    try {
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      if (rows == 0L) Some(FileEntry(rel, 0L, Map.empty))
      else {
        val stats = skippable.map { f =>
          // chunks of this column across the file's row groups
          val chunks = blocks.asScala.map(_.getColumns.asScala.find(c =>
            c.getPath.size == 1 && c.getPath.toDotString == f.name))
          if (chunks.forall(_.isEmpty)) {
            // column absent from this file: all-NULL on read
            f.name -> ColStats(None, None, rows)
          } else if (chunks.exists(_.isEmpty)) {
            return None // mixed presence across row groups: no proof
          } else {
            var nulls = 0L
            var rawMin: Any = null
            var rawMax: Any = null
            var pt: org.apache.parquet.schema.PrimitiveType = null
            for (c <- chunks.map(_.get)) {
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.isNumNullsSet) return None
              nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                if (pt == null) pt = c.getPrimitiveType
                // merge across row groups with parquet's own raw-value
                // comparator — the SAME ordering Spark's min/max uses
                // for these types (numeric natural order, unsigned
                // byte-wise for UTF8 strings, signed big-endian for
                // binary decimals)
                val cmp = pt.comparator.asInstanceOf[java.util.Comparator[Any]]
                if (rawMin == null || cmp.compare(st.genericGetMin, rawMin) < 0)
                  rawMin = st.genericGetMin
                if (rawMax == null || cmp.compare(st.genericGetMax, rawMax) > 0)
                  rawMax = st.genericGetMax
              }
            }
            if (rawMin == null) {
              // no recorded values: genuine only when every row is
              // NULL — parquet also omits min/max for chunks that saw
              // NaN, and those files DO have values (the scan would
              // report NaN extremes), so anything short of all-null
              // falls back to the scan
              if (nulls == rows) f.name -> ColStats(None, None, nulls)
              else return None
            } else {
              val lo = catalystOf(rawMin, pt, f.dataType).getOrElse(return None)
              val hi = catalystOf(rawMax, pt, f.dataType).getOrElse(return None)
              def render(v: Any): String =
                if (f.dataType == StringType) v.toString // cast is identity
                else org.apache.spark.sql.graftshim.Shim
                  .castToString(v, f.dataType, zone)
              f.name -> ColStats(Option(render(lo)), Option(render(hi)), nulls)
            }
          }
        }.toMap
        Some(FileEntry(rel, rows, stats))
      }
    } finally reader.close()
  }

  /** The shared per-file stats pass over `absFiles`, ≤[[maxStatsCols]]
    * skippable columns: the parquet footers when every shape is
    * provably exact ([[footerStats]]; FooterStatsSpec pins
    * byte-equality), else ONE column-pruned aggregate grouped by file.
    * Zero skippable columns still yields per-file ROW COUNTS (a
    * no-data-column parquet count is a footer-metadata scan): row
    * counts must be complete for every table — delete's tier-2 and
    * statsAggregate's count(*) both answer from them. `relOf` maps the
    * scan's absolute paths back to manifest-relative entries
    * (fresh-write and convert layouts differ).
    */
  private def statsScan(spark: SparkSession, schema: StructType,
      absFiles: Seq[String], relOf: String => String,
      statsCols: Int = maxStatsCols): Seq[FileEntry] =
    footerStats(spark, schema, skippableOf(schema, statsCols), absFiles, relOf)
      .getOrElse(aggregateStats(spark, schema, absFiles, relOf, statsCols))

  private def skippableOf(schema: StructType, statsCols: Int): Array[StructField] =
    schema.fields.filter(f => isSkippable(f.dataType))
      .take(statsCols.min(maxStatsCols).max(0))

  /** The aggregate collector [[footerStats]] falls back to: one
    * column-pruned scan of `absFiles` grouped by file.
    */
  private[sources] def aggregateStats(spark: SparkSession, schema: StructType,
      absFiles: Seq[String], relOf: String => String,
      statsCols: Int = maxStatsCols): Seq[FileEntry] = {
    val skippable = skippableOf(schema, statsCols)
    val aggs = skippable.zipWithIndex.flatMap { case (f, i) =>
      val c = col(quoted(f.name))
      Seq(min(c).cast("string").as(s"__mn_$i"),
        max(c).cast("string").as(s"__mx_$i"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nc_$i"))
    }
    spark.read.schema(schema)
      .parquet(absFiles: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect()
      .toSeq
      .map { r =>
        val rel = relOf(r.getString(0))
        val stats = skippable.zipWithIndex.map { case (f, i) =>
          f.name -> ColStats(
            Option(r.getAs[String](s"__mn_$i")),
            Option(r.getAs[String](s"__mx_$i")),
            r.getAs[Long](s"__nc_$i"))
        }.toMap
        FileEntry(rel, r.getAs[Long]("__rows"), stats)
      }
  }

  // ---------------------------------------------------------------------
  // Commits
  // ---------------------------------------------------------------------

  /** Replace the table contents atomically. Returns the new version.
    * CHECK constraints survive an overwrite (replacing the DATA does not
    * drop the table's invariants) and are enforced on the new rows; an
    * overwrite whose schema no longer binds a constraint's expression
    * fails loudly — drop the constraint first.
    */
  def overwrite(df: DataFrame, table: String): Long =
    overwrite(df, table, partitionBy = None)

  /** [[overwrite]] with explicit partition-layout control: `None`
    * keeps the table's current layout (so a nightly re-publish of a
    * partitioned table stays partitioned without restating the
    * columns), `Some(cols)` (re)partitions the table Hive-style on
    * `cols`, `Some(Seq.empty)` explicitly flattens it. The layout is a
    * table property recorded in the manifest; appends and rewrites
    * inherit it.
    */
  def overwrite(df: DataFrame, table: String,
      partitionBy: Option[Seq[String]]): Long = {
    val spark = df.sparkSession
    val effective = partitionBy.getOrElse(tablePartitionBy(spark, table))
    val cons = constraintsOf(spark, table)
    val w = writeData(inbound(spark, table, df, cons), table, effective)
    publish(spark, table, w, parent =>
      Some(Attempt("overwrite", w.fresh, w.stats,
        parent.flatMap(_.txn).getOrElse(Map.empty),
        constraints = guardedCons(table, parent, cons),
        partitionBy = Some(effective)))).get
  }

  /** The table's partition columns (empty for a flat/absent table). */
  def tablePartitionBy(spark: SparkSession, table: String): Seq[String] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.partitionBy).getOrElse(Seq.empty)

  /** Add rows atomically; prior files stay referenced. By default the
    * appended frame must match the table's schema (names + types,
    * nullability normalized): the manifest records ONE schema for the
    * whole file list, so a silently drifted append would make readers
    * null-fill or misread the older files. With `mergeSchema = true`
    * (the public Delta schema-evolution switch) an append may ADD
    * columns: the manifest schema becomes the union, and every file
    * null-fills the columns it lacks — old files the new columns, new
    * files any old columns the frame omitted — because reads always
    * plan with the stored schema over parquet's by-name resolution.
    * Same-name columns must agree on type exactly; evolution never
    * rewrites a data file.
    */
  def append(df: DataFrame, table: String, mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val ids = identityOf(spark, table)
    if (ids.nonEmpty) {
      // ALWAYS semantics: identity values are assigned, never accepted
      val provided = ids.keySet.intersect(df.columns.toSet)
      require(provided.isEmpty,
        s"append to $table provides identity column(s) " +
          s"${provided.mkString(", ")} — they are GENERATED ALWAYS AS " +
          "IDENTITY; omit them")
      return appendWithIdentity(df, table, mergeSchema)
    }
    val cons = constraintsOf(spark, table)
    val w = writeData(
      inbound(spark, table,
        upcastToTable(spark, table, withDefaults(spark, table, df)), cons),
      table, tablePartitionBy(spark, table))
    publish(spark, table, w, parent =>
      Some(appendAttempt(table, parent, w, Map.empty, cons, mergeSchema))).get
  }

  /** [[append]] for a table with identity columns: assign ids from the
    * snapshot's high-water marks, write, and publish ONLY if no other
    * commit moved a mark meanwhile — else the written files hold ids
    * the winner may also have handed out, so the attempt is abandoned
    * (publish deletes its data dir) and the whole assignment re-derives
    * against the new marks. The committed manifest advances every mark
    * by `step · rows`, keeping allocation transactional.
    */
  private[sources] def appendWithIdentity(df: DataFrame, table: String,
      mergeSchema: Boolean, maxAttempts: Int = 10): Long = {
    val spark = df.sparkSession
    optimistic(table, "append", maxAttempts) {
      val m = manifest(spark, table)
      val idMap = m.identity.getOrElse(Map.empty)
      val schema = logicalSchema(m)
      val cons = m.constraints.getOrElse(Map.empty)
      val w = writeData(
        inbound(spark, table,
          assignIdentity(upcastToTable(spark, table,
            withDefaults(spark, table, df)), idMap, schema), cons),
        table, tablePartitionBy(spark, table))
      val n = w.stats.map(_.rows).sum
      publish(spark, table, w, parent => {
        val pIds = parent.flatMap(_.identity).getOrElse(Map.empty)
        if (pIds == idMap)
          Some(appendAttempt(table, parent, w, Map.empty, cons, mergeSchema)
            .copy(identity = Some(idMap.map { case (c, sp) =>
              c -> sp.copy(next = sp.next + sp.step * n) })))
        else None // an id-allocating commit raced us: re-assign fresh ids
      })
    }
  }

  /** The version whose commit first recorded `appId`'s watermark at or
    * past `batchId` — i.e. where that idempotent batch (or a later
    * same-app one) landed; `None` if it never has. Lets a replayed
    * consumer reconstruct the table state its original run saw
    * (`readAsOf(v - 1)`) so a re-derivation is byte-identical — the
    * replay-determinism half of the exactly-once recipe (the watermark
    * skip in [[idempotentAppend]] is the no-double-land half). Walks
    * the manifest list (ascending versions), O(versions) metadata
    * reads, no data access.
    */
  def txnCommitVersion(spark: SparkSession, table: String, appId: String,
      batchId: Long): Option[Long] = {
    val t = new Path(table)
    versions(spark, table).find(v =>
      readManifest(spark, t, v).txn.getOrElse(Map.empty)
        .get(appId).exists(_ >= batchId))
  }

  /** Exactly-once streaming append — the `foreachBatch` sink body:
    * {{{
    *   query.writeStream.foreachBatch { (batch, id) =>
    *     TxLog.idempotentAppend(batch, table, appId = "loader", batchId = id)
    *   }
    * }}}
    * Commits record max(batchId) per `appId` in the manifest; a batch at
    * or below the recorded watermark returns None and commits NOTHING —
    * so the replayed last batch of a restarted streaming query (the
    * at-least-once delivery Structured Streaming guarantees into a
    * non-transactional sink) lands exactly once in the table. The
    * watermark check re-runs inside the optimistic-commit loop against
    * the CURRENT parent, so two racing writers with the same appId
    * cannot both land the same batch.
    */
  def idempotentAppend(df: DataFrame, table: String, appId: String,
      batchId: Long): Option[Long] = {
    require(appId.nonEmpty, "appId must be non-empty")
    val spark = df.sparkSession
    // fast path: already committed — skip without writing data files
    val done = latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.txn.getOrElse(Map.empty).get(appId)).exists(_ >= batchId)
    if (done) return None
    val cons = constraintsOf(spark, table)
    val w = writeData(
      inbound(spark, table,
        upcastToTable(spark, table, withDefaults(spark, table, df)), cons),
      table, tablePartitionBy(spark, table))
    publish(spark, table, w, parent => {
      val seen = parent.flatMap(_.txn).getOrElse(Map.empty)
      if (seen.get(appId).exists(_ >= batchId)) None // lost a same-app race
      else Some(appendAttempt(table, parent, w, Map(appId -> batchId), cons))
    })
  }

  /** One COPY INTO run's outcome: the committed (or unchanged) version
    * and what it adopted. `filesIngested == 0` means the landing held
    * nothing new — the run committed NOTHING (no version advance, no
    * data write).
    */
  final case class CopyIntoResult(version: Long, filesIngested: Long,
      rowsIngested: Long)

  /** Manifest-ledger key namespace for [[copyInto]]'s per-source-file
    * records (rides the same `txn` map the streaming watermarks use —
    * metadata flows through the log, so every reader/writer agrees on
    * what was ingested without a side store).
    */
  private val copyLedgerPrefix = "copyInto:"

  /** COPY INTO-class idempotent file ingest (the Delta `COPY INTO`
    * contract, the reference's nightly extract/load re-run shape —
    * data_cleaning.py:30-118 re-reads its landing dumps every run):
    * adopt a landing DIRECTORY's data files into the table with each
    * source file committed AT MOST ONCE across any number of runs.
    * Every run lists the landing dir (recursively; `_`/`.`-prefixed
    * entries skipped), diffs against the manifest's ledger of
    * already-ingested source paths, reads ONLY the new files, and
    * lands their rows plus the updated ledger in ONE atomic commit —
    * so the nightly re-run over an ever-growing landing directory
    * costs O(new files), never re-ingests, and never half-ingests
    * (a crash before publish leaves no trace; the next run redoes
    * exactly the new files). A second run over unchanged content
    * commits nothing and the version does not advance.
    *
    * The ledger records each source file's LENGTH; a landing file that
    * later reappears with a different length is a mutated source —
    * that is a pipeline bug upstream, and the run fails loudly rather
    * than guessing (Delta skips silently; a silent skip of CHANGED
    * data loses rows, a silent re-ingest duplicates them).
    *
    * `format`: "parquet"/"orc" are self-describing (schema optional —
    * when given it is ENFORCED, never inferred); "json"/"csv" REQUIRE
    * a schema (inference is an extra full pass at 100 TB and
    * non-deterministic under drift) and read PERMISSIVE: malformed
    * rows are quarantined to `quarantineDir` (parquet: raw record +
    * source batch) when provided, else the run fails on the first
    * corrupt row — corrupt data never lands in the table either way.
    * Constraints, generated columns, partition layout, and schema
    * checks are the same as [[append]]'s (one write path, not two).
    * Optimistic CAS: a concurrent copy of the SAME files makes the
    * loser re-list and re-diff — each file still lands exactly once.
    *
    * `options` are reader format options (Delta COPY INTO's
    * FORMAT_OPTIONS): csv defaults to `header = true` — override with
    * `options = Map("header" -> "false")` for headerless landings
    * (otherwise each file's first DATA row would be consumed as a
    * header). The PERMISSIVE/corrupt-column pair is the quarantine
    * contract and cannot be overridden. Quarantine rows are STAGED
    * before the commit under a hidden attempt-unique
    * `_staged/attempt_*` dir (invisible to quarantine readers) and
    * PROMOTED into `quarantineDir` only after the winning publish —
    * a lost CAS deletes its own staging (no duplicates), and a crash
    * after publish can no longer lose the capture: the rows sit
    * durably under `_staged/` awaiting manual promotion (the one
    * remaining, now recoverable, window).
    */
  def copyInto(spark: SparkSession, landingDir: String, table: String,
      format: String = "parquet", schema: Option[StructType] = None,
      quarantineDir: Option[String] = None,
      maxAttempts: Int = 10,
      options: Map[String, String] = Map.empty,
      pattern: Option[String] = None,
      files: Option[Seq[String]] = None,
      force: Boolean = false): CopyIntoResult = {
    require(identityOf(spark, table).isEmpty,
      s"copyInto into identity-column table $table is not supported — " +
        "ids must be assigned, use append")
    // the Delta COPY INTO source selectors: PATTERN globs the landing
    // listing, FILES names exact landing-relative paths — one way of
    // choosing the source set at a time
    require(pattern.isEmpty || files.isEmpty,
      "copyInto: PATTERN and FILES are mutually exclusive")
    val land = new Path(landingDir)
    val f = fs(spark, land)
    optimistic(table, "copyInto", maxAttempts) {
      val base = latestVersion(spark, table)
      val ledger: Map[String, Long] = base
        .map(v => manifestAt(spark, table, v).txn.getOrElse(Map.empty))
        .getOrElse(Map.empty)
        .collect { case (k, v) if k.startsWith(copyLedgerPrefix) =>
          k.stripPrefix(copyLedgerPrefix) -> v }
      val listed: Seq[(String, Long)] = files match {
        case Some(rels) =>
          // FILES: the caller names the landing files exactly — a
          // missing one is a pipeline bug upstream; fail loudly
          // (getFileStatus throws) rather than silently ingest fewer
          rels.distinct.sorted.map { rel =>
            val p = new Path(land, rel)
            val st = f.getFileStatus(p)
            require(st.isFile,
              s"copyInto $table: FILES entry '$rel' is not a file")
            (f.makeQualified(p).toString, st.getLen)
          }
        case None =>
          val glob = pattern.map(new org.apache.hadoop.fs.GlobPattern(_))
          val landQ = f.makeQualified(land).toString
          val it = f.listFiles(land, true)
          val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
          while (it.hasNext) {
            val st = it.next()
            val name = st.getPath.getName
            val relp = st.getPath.toString
              .substring(landQ.length).stripPrefix("/")
            val hidden = relp.split('/')
              .exists(s => s.startsWith("_") || s.startsWith("."))
            // PATTERN matches the LANDING-RELATIVE path (the Delta
            // contract: 'part-*.json', 'dt=2024*/...')
            if (st.isFile && !name.startsWith("_") &&
                !name.startsWith(".") && !hidden &&
                glob.forall(_.matches(relp)))
              buf += ((f.makeQualified(st.getPath).toString, st.getLen))
          }
          buf.toSeq.sortBy(_._1)
      }
      // force (the Delta COPY_OPTIONS knob) bypasses the ledger: every
      // listed file re-ingests regardless of prior loads — the caller
      // is explicitly accepting duplicates (a backfill re-run after a
      // bad downstream delete); the mutation tripwire is off too, by
      // the same declaration
      if (!force) listed.foreach { case (p, len) =>
        ledger.get(p).foreach(prior => require(prior == len,
          s"copyInto $table: landing file $p was already ingested at " +
            s"$prior bytes but is now $len — the source mutated; fix the " +
            "landing pipeline (each file must be written once, immutably)"))
      }
      val freshFiles =
        if (force) listed
        else listed.filterNot { case (p, _) => ledger.contains(p) }
      if (freshFiles.isEmpty)
        return CopyIntoResult(base.getOrElse(0L), 0L, 0L)
      val paths = freshFiles.map(_._1)
      val raw: DataFrame = format match {
        case "parquet" =>
          val r = schema.map(spark.read.schema(_)).getOrElse(spark.read)
          r.options(options).parquet(paths: _*)
        case "orc" =>
          val r = schema.map(spark.read.schema(_)).getOrElse(spark.read)
          r.options(options).orc(paths: _*)
        case "json" | "csv" =>
          val s = schema.getOrElse(sys.error(
            s"copyInto($format) requires an explicit schema — inference " +
              "is a full extra pass over the landing data"))
          // Ingest's PERMISSIVE quarantine contract, over the fresh
          // file list instead of one path; user options sit between
          // the csv header default (overridable) and the quarantine
          // pair (not)
          val opts =
            (if (format == "csv") Map("header" -> "true")
             else Map.empty[String, String]) ++
            options ++
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> Ingest.corruptCol)
          spark.read.schema(Ingest.corruptible(s)).options(opts)
            .format(format).load(paths: _*)
        case other => sys.error(
          s"copyInto: unsupported landing format '$other' " +
            "(parquet, orc, json, csv)")
      }
      // corrupt rows are STAGED here and written only after the winning
      // publish: a lost CAS retries this whole attempt, and a write
      // here would append the same corrupt records once per attempt
      val (df, corruptStaged): (DataFrame, Option[DataFrame]) =
        if (!raw.columns.contains(Ingest.corruptCol)) (raw, None)
        else {
          val (valid, corrupt) = Ingest.quarantine(raw)
          quarantineDir match {
            case Some(_) => (valid, Some(corrupt))
            case None =>
              require(corrupt.isEmpty,
                s"copyInto $table: landing contains malformed rows and no " +
                  "quarantineDir was given — refusing to drop data silently")
              (valid, None)
          }
        }
      val cons = constraintsOf(spark, table)
      val w = writeData(inbound(spark, table, df, cons), table,
        tablePartitionBy(spark, table))
      val txnDelta = freshFiles.map { case (p, len) =>
        (copyLedgerPrefix + p) -> len }.toMap
      // stage the corrupt rows BEFORE the commit, attempt-tagged: the
      // capture is durable from here on (a crash after publish leaves
      // it recoverable under _staged/ instead of lost), while promotion
      // below keeps the visible quarantine effectively-once
      val stagedDir: Option[Path] = corruptStaged.map { corrupt =>
        val d = new Path(quarantineDir.get,
          s"_staged/attempt_${java.util.UUID.randomUUID}")
        corrupt.select(col(Ingest.corruptCol).as("raw_record"))
          .withColumn("copy_batch_base", lit(base.getOrElse(0L)))
          .write.mode("append").parquet(d.toString)
        d
      }
      val committed = publish(spark, table, w, parent => {
        val seen = parent.flatMap(_.txn).getOrElse(Map.empty)
        // a concurrent copy landed one of OUR files: abandon and re-diff
        // (under force the ledger is advisory — no abandon, no re-diff)
        if (!force && freshFiles.exists { case (p, _) =>
            seen.contains(copyLedgerPrefix + p) }) None
        else Some(appendAttempt(table, parent, w, txnDelta, cons))
      })
      stagedDir.foreach { d =>
        val qf = fs(spark, d)
        if (committed.isEmpty) {
          // lost the race: drop this attempt's staging before re-diffing —
          // the retry recomputes (and restages) its own corrupt rows
          qf.delete(d, true)
        } else {
          val qroot = new Path(quarantineDir.get)
          qf.listStatus(d).filter(_.isFile).foreach { st =>
            val name = st.getPath.getName
            // attempt-id prefix keeps promoted names unique across
            // batches; rename is a metadata move, never a data copy
            if (!name.startsWith("_") && !name.startsWith("."))
              qf.rename(st.getPath, new Path(qroot, s"${d.getName}_$name"))
          }
          qf.delete(d, true)
        }
      }
      committed.map(v =>
        CopyIntoResult(v, freshFiles.size.toLong, w.stats.map(_.rows).sum))
    }
  }

  private def appendAttempt(table: String, parent: Option[Manifest],
      w: Written, txnDelta: Map[String, Long],
      enforcedCons: Map[String, String],
      mergeSchema: Boolean = false): Attempt = {
    val merged = parent.map { p =>
      if (p.schemaJson == w.schemaJson) p.schemaJson
      else {
        require(mergeSchema,
          s"append schema mismatch for $table: table has ${p.schemaJson}, " +
            s"frame has ${w.schemaJson} — overwrite to change the schema, " +
            "or append(mergeSchema = true) to evolve it")
        mergeSchemas(table,
          DataType.fromJson(p.schemaJson).asInstanceOf[StructType],
          DataType.fromJson(w.schemaJson).asInstanceOf[StructType],
          p.dropped.getOrElse(Seq.empty)).json
      }
    }
    parent.foreach { p =>
      val ppb = p.partitionBy.getOrElse(Seq.empty)
      require(ppb == w.partitionBy,
        s"append partition-layout drift for $table: table is partitioned by " +
          s"[${ppb.mkString(", ")}] but the write used " +
          s"[${w.partitionBy.mkString(", ")}] (concurrent layout change?); re-run")
    }
    val carried = parent.fold(Attempt("append", w.fresh, w.stats, Map.empty))(
      swapped("append", _, Set.empty, w))
    carried.copy(txn = carried.txn ++ txnDelta, schemaJson = merged,
      constraints = guardedCons(table, parent, enforcedCons))
  }

  /** Union of the table's and the incoming frame's fields: table columns
    * keep their position, genuinely new columns go last; a same-name
    * column must match the table's type EXACTLY — silent widening would
    * misread the already-committed files that carry the old type.
    */
  private def mergeSchemas(table: String, existing: StructType,
      incoming: StructType, tombstones: Seq[String]): StructType = {
    val byName = existing.fields.map(f => f.name -> f).toMap
    val dead = tombstones.map(_.toLowerCase).toSet
    incoming.fields.foreach { f =>
      // re-adding a DROPPED name would resurrect the old files' stored
      // values as that column's history — without column mapping the
      // name IS the physical binding, so the name is retired for good
      require(!dead.contains(f.name.toLowerCase),
        s"append(mergeSchema) to $table: column '${f.name}' was DROPPED; " +
          "old files still hold values under that name, so re-adding it " +
          "would resurrect them — use a new column name")
      byName.get(f.name).foreach { tf =>
        require(tf.dataType == f.dataType,
          s"append(mergeSchema) to $table: column '${f.name}' type conflict " +
            s"- table has ${tf.dataType.simpleString}, frame has " +
            s"${f.dataType.simpleString}; evolution only ADDS columns")
      }
    }
    StructType(existing.fields ++
      incoming.fields.filterNot(f => byName.contains(f.name)))
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (the column-mapping
    * capability): the data files keep the original PHYSICAL name
    * forever — stats, bloom sidecars, and every byte on disk are
    * untouched — and the manifest's rename map re-labels it; reads
    * alias physical → logical at the end of the plan, writers rename
    * logical → physical at the head of the write, so old and new file
    * generations agree byte-for-byte while users only ever see the new
    * name. Load-bearing declarations must be released first (partition
    * layout, identity, generated columns and their sources,
    * CHECK-constraint references — same rule as [[dropColumn]]); the
    * bloom index needs no release (it is physical-keyed and probes
    * translate). The new name must not collide with any current
    * logical name; a dropped-name tombstone MAY be reused (the retired
    * physical stays unprojected, so old values cannot resurface).
    */
  def renameColumn(spark: SparkSession, table: String,
      from: String, to: String): Long = {
    require(from != to, "rename to the same name is a no-op")
    alterMetadata(spark, table, "rename_column") { (m, carried) =>
      requireReleased(table, m, from)
      // renaming TO a dropped-column tombstone is safe under column
      // mapping: the retired PHYSICAL name stays out of the schema,
      // so no read ever projects the old files' values — the new
      // logical label binds to `from`'s physical column only
      require(!logicalSchema(m).fieldNames.contains(to),
        s"table $table already has a column '$to'")
      val p = physOf(m, from)
      val ren = renamesOfM(m) - p
      carried.copy(renames = Some(if (to == p) ren else ren + (p -> to)))
    }
  }

  /** The attribute names a SQL expression references (pre-resolution;
    * parsed with the catalyst parser — `functions.expr` in Spark 4 is a
    * lazy SQL node with no tree to walk).
    */
  private def referencesOf(sql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
      .collect { case a: UnresolvedAttribute => a.name.toLowerCase }.toSet
  }

  /** Refuse to rename, drop or retype `column` unless it is a logical
    * column of `m` that no declaration binds: the partition layout, an
    * identity or generated declaration on it, a generated column
    * derived from it, or a CHECK constraint reading it — those must be
    * released first. `retypedFrom` (the column's current type, for a
    * retype) words the identity and derived-column refusals for it.
    */
  private def requireReleased(table: String, m: Manifest, column: String,
      retypedFrom: Option[DataType] = None): Unit = {
    val ls = logicalSchema(m)
    require(ls.fieldNames.contains(column),
      s"table $table has no column '$column' (schema: ${ls.fieldNames.mkString(", ")})")
    require(!m.partitionBy.getOrElse(Seq.empty).contains(column),
      s"'$column' is a partition column of $table — flatten or " +
        "re-partition the layout first")
    require(!m.identity.getOrElse(Map.empty).contains(column),
      s"'$column' is an identity column — " + retypedFrom.fold(
        "dropIdentityColumn first")(_ => "its allocation arithmetic is fixed at long"))
    val gen = m.generated.getOrElse(Map.empty)
    require(!gen.contains(column),
      s"'$column' is a generated column — dropGeneratedColumn first")
    val lc = column.toLowerCase
    gen.foreach { case (c, sql) => require(!referencesOf(sql).contains(lc),
      s"generated column '$c' derives from '$column' — " + retypedFrom.fold(
        "drop that declaration first")(t =>
        s"its expression was validated under ${t.simpleString}; drop it first")) }
    m.constraints.getOrElse(Map.empty).foreach { case (n, sql) =>
      require(!referencesOf(sql).contains(lc),
        s"CHECK constraint '$n' references '$column' — drop it first") }
  }

  /** `ALTER TABLE … ADD COLUMN(S)`: widen the manifest schema with new
    * NULLABLE fields in one metadata-only commit — zero data files are
    * touched; existing files simply lack the column, so every read
    * null-fills it (the standard parquet missing-column semantics the
    * mergeSchema append already relies on). New fields must be nullable
    * (there is no value to backfill) and must not collide with a live
    * logical or physical name.
    *
    * A name retired by [[dropColumn]] CAN be re-added: it comes back
    * under a FRESH PHYSICAL binding (`name__N`, the first free slot)
    * plus a rename-map entry physical → logical — the same
    * column-mapping machinery [[renameColumn]] uses (Delta's
    * name-mapping move, ids by another spelling). Old files still hold
    * bytes under the RETIRED physical name, which no read ever
    * projects again — the re-added column null-fills over every
    * pre-add file, while time travel to a pre-drop version still sees
    * the original values through that version's own schema.
    */
  def addColumns(spark: SparkSession, table: String,
      cols: Seq[StructField]): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    cols.foreach(f => require(f.nullable,
      s"new column '${f.name}' must be nullable - existing rows have no " +
        "value for it"))
    alterMetadata(spark, table, "add_columns") { (m, carried) =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val taken = (schema.fieldNames ++ logicalSchema(m).fieldNames)
        .map(_.toLowerCase).toSet
      val dead = m.dropped.getOrElse(Seq.empty).map(_.toLowerCase).toSet
      cols.foreach { f =>
        val lc = f.name.toLowerCase
        require(!taken(lc), s"table $table already has a column '${f.name}'")
      }
      require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
        "duplicate names in the added column list")
      // tombstoned names re-add under a fresh physical binding; `used`
      // covers every name any live-readable file can carry (current
      // physicals+logicals, plus every retired physical — renames never
      // change a physical, so no other column name exists on disk)
      val used = scala.collection.mutable.Set.empty[String] ++ taken ++ dead
      val mapped: Seq[(StructField, Option[String])] = cols.map { f =>
        if (!dead(f.name.toLowerCase)) { used += f.name.toLowerCase; (f, None) }
        else {
          var i = 2
          while (used.contains(s"${f.name.toLowerCase}__$i")) i += 1
          val p = s"${f.name}__$i"
          used += p.toLowerCase
          (f.copy(name = p), Some(f.name))
        }
      }
      val widened = StructType(schema.fields ++
        mapped.map(_._1).map(f => f.copy(nullable = true, metadata = Metadata.empty)))
      val remaps = mapped.collect { case (pf, Some(logical)) => pf.name -> logical }
      carried.copy(schemaJson = Some(asNullable(widened).json),
        renames =
          if (remaps.isEmpty) None else Some(renamesOfM(m) ++ remaps))
    }
  }

  /** DROP COLUMN as a METADATA-ONLY commit (no data file rewritten):
    * the manifest schema narrows, and because every read plans with the
    * STORED schema over parquet's by-name resolution, the column simply
    * stops being read — the bytes stay in the old files but no plan
    * ever projects them. At 100 TB this is the difference between a
    * catalog edit and rewriting the table.
    *
    * The dropped NAME is tombstoned: WRITE-side schema evolution
    * (append(mergeSchema), merge WITH SCHEMA EVOLUTION) refuses to
    * re-introduce it — those paths bind incoming columns by name, and
    * old files still hold values under that name. [[addColumns]] (and
    * SQL `ALTER TABLE … ADD COLUMN`) CAN re-add it: the explicit DDL
    * assigns a fresh physical binding through the rename map, so the
    * old values stay invisible (see addColumns).
    * Columns load-bearing elsewhere must be released first: partition
    * layout, generated-column declarations/sources, CHECK-constraint
    * references, and the bloom index (auto-dropped from the property).
    */
  def dropColumn(spark: SparkSession, table: String, column: String): Long =
    alterMetadata(spark, table, "drop_column") { (m, carried) =>
      requireReleased(table, m, column)
      // the user names the LOGICAL column; files/stats/tombstones speak
      // physical — drop the physical field and retire BOTH names
      val p = physOf(m, column)
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val narrowed = StructType(schema.fields.filterNot(_.name == p))
      require(narrowed.nonEmpty, s"cannot drop the last column of $table")
      carried.copy(
        // per-file stats for the dropped column are dead weight; strip
        stats = carried.stats.map(e => e.copy(stats = e.stats - p)),
        schemaJson = Some(narrowed.json),
        bloomIndex = Some(m.bloomIndex.getOrElse(Seq.empty)
          .filterNot(_ == p)),
        dropped = Some((m.dropped.getOrElse(Seq.empty) :+ p :+ column)
          .distinct),
        renames = Some(renamesOfM(m) - p))
    }

  /** The lossless type widenings Spark 4's parquet readers perform
    * NATIVELY on narrower physical pages (each pair verified
    * empirically in TypeWideningSpec — the reader matrix, not a wish
    * list): integral up-casts, byte/short/int→double, float→double,
    * int/long→decimal with enough integer digits, and decimal→decimal
    * growing both the integer-digit budget and the scale. Everything
    * else (long→double loses precision beyond 2⁵³; byte/short→decimal
    * the reader refuses; any narrowing or cross-family change) is NOT
    * widenable — [[alterColumnType]] refuses it and a rewrite through
    * overwrite is the honest path.
    */
  private[graft] def canWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision - t.scale >= f.precision - f.scale &&
          t.scale >= f.scale && (t.precision, t.scale) != (f.precision, f.scale)
      case _ => false
    }

  /** Write-head schema-enforcement upcast (the Delta stance): frame
    * columns whose type widens LOSSLESSLY into the table's declared
    * type ([[canWiden]]) are cast up before writing, so after
    * `alterColumnType(int→long)` an existing int-producing pipeline
    * keeps appending — and every file lands with the TABLE's type,
    * keeping new stats and bloom sidecars type-consistent. Anything
    * outside the widening matrix is left for the schema check to
    * refuse loudly.
    */
  private def upcastToTable(spark: SparkSession, table: String,
      df: DataFrame): DataFrame = {
    if (latestVersion(spark, table).isEmpty) return df
    val cs = spark.sessionState.conf.caseSensitiveAnalysis
    val fields = logicalSchema(manifest(spark, table)).fields
    val byName = fields.map(f => f.name -> f).toMap
    // case-insensitive fallback mirrors the analyzer's resolution; a
    // frame column matching only by case is CANONICALIZED to the
    // table's spelling (the Delta write behavior) so the byte-exact
    // schema check downstream compares apples to apples
    def lookup(n: String): Option[org.apache.spark.sql.types.StructField] =
      byName.get(n).orElse(if (cs) None
        else fields.find(_.name.equalsIgnoreCase(n)))
    val needs = df.schema.fields.exists(f =>
      lookup(f.name).exists(tf => tf.name != f.name ||
        (tf.dataType != f.dataType && canWiden(f.dataType, tf.dataType))))
    if (!needs) df
    else df.select(df.schema.fields.toSeq.map { f =>
      lookup(f.name) match {
        case Some(tf) =>
          val widened =
            tf.dataType != f.dataType && canWiden(f.dataType, tf.dataType)
          val c = if (widened) col(quoted(f.name)).cast(tf.dataType)
                  else col(quoted(f.name))
          if (widened || tf.name != f.name) c.as(tf.name) else c
        case None => col(quoted(f.name))
      }
    }: _*)
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` as a METADATA-ONLY commit
    * (the Delta type-widening capability): the manifest schema's field
    * widens to `to` and READS promote old files' narrower physical
    * values at scan time — Spark 4's parquet readers perform the
    * widening conversions natively (int32 pages surface as
    * long/double/decimal, float as double; filter pushdown included).
    * No file is rewritten: at 100 TB an int→long key migration is a
    * catalog edit, not a table rewrite. Only the widenings the readers
    * actually support are accepted ([[canWiden]]); narrowing or
    * cross-family changes are refused loudly.
    *
    * Metadata fallout, settled here rather than discovered later:
    *  - per-file STATS stay valid for integral/decimal/→double
    *    widenings (both sides of the stats compare parse through
    *    BigDecimal, and the narrow values are exactly representable in
    *    the wide domain) and are STRIPPED for float→double — a float's
    *    shortest-repr render re-parsed as double can land on the wrong
    *    side of the true widened value, and pruning never bets on a
    *    maybe (skipping degrades for that column; answers stay exact);
    *  - a BLOOM index on the column is SHED: sidecar hashes are typed,
    *    so a wide-typed probe cannot find the narrow-hashed entries —
    *    re-declare the index to rebuild on future writes;
    *  - appends UPCAST matching narrower frames at the write head
    *    ([[upcastToTable]]), so existing pipelines keep working and new
    *    files always land wide;
    *  - time travel and the change feed read each version under its
    *    own schema (the feed's union coerces across the change);
    *  - load-bearing declarations must be released first (partition
    *    layout, identity, generated target/source, CHECK references) —
    *    their expressions were validated under the old type.
    */
  def alterColumnType(spark: SparkSession, table: String, column: String,
      to: DataType): Long =
    alterMetadata(spark, table, "alter_column") { (m, carried) =>
      val ls = logicalSchema(m)
      require(ls.fieldNames.contains(column),
        s"table $table has no column '$column' (schema: ${ls.fieldNames.mkString(", ")})")
      val from = ls(column).dataType
      require(from != to,
        s"column '$column' of $table already has type ${to.simpleString}")
      require(canWiden(from, to),
        s"cannot alter '$column' from ${from.simpleString} to " +
          s"${to.simpleString}: only lossless widenings the parquet " +
          "readers support are metadata-only (byte→short/int/long/double, " +
          "short→int/long/double, int→long/double/decimal(≥10 int digits), " +
          "long→decimal(≥20), float→double, decimal→wider decimal); " +
          "rewrite through overwrite for anything else")
      requireReleased(table, m, column, retypedFrom = Some(from))
      val p = physOf(m, column)
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val widened = StructType(schema.fields.map(f =>
        if (f.name == p) f.copy(dataType = to) else f))
      carried.copy(
        stats =
          if (from == FloatType) carried.stats.map(e => e.copy(stats = e.stats - p))
          else carried.stats,
        schemaJson = Some(widened.json),
        bloomIndex = Some(m.bloomIndex.getOrElse(Seq.empty)
          .filterNot(_ == p)))
    }

  /** Transactional MERGE INTO: fold a CDC change batch
    * ([[graft.operators.MergeOps.cdcApply]] semantics — latest change
    * per key wins, `deleteOp` deletes, anything else upserts) into the
    * table under snapshot isolation.
    *
    * TOUCHED-FILES-ONLY (the public Delta merge shape): one
    * column-pruned scan semi-joined against the BROADCAST distinct
    * change-key set finds the files holding any matched key
    * ([[findTouched]]); every other file stays referenced untouched.
    * Cost is O(touched + changes), not O(table) — at 100 TB a CDC batch
    * touching 0.1% of files rewrites 0.1% of the table. The broadcast
    * assumes the key set is change-batch-sized (the CDC premise); a
    * table-sized "change" batch should be an overwrite. Copy-on-write
    * rewrites the touched files with the changes applied (new-key
    * inserts ride in the same fresh write; their deletion vectors are
    * materialized). `deletionVectors = true` is the cheapest correct
    * merge CDC semantics allow: a replaced row's OLD VALUES never
    * matter (the change row carries the entire new row), so the matched
    * keys' old positions are vectored out and only the latest
    * non-delete change rows are written — no touched file is read
    * beyond the key-finding scan, cost O(changes), the shape that
    * absorbs a trickle of CDC batches into a 100 TB table all day and
    * lets the nightly OPTIMIZE materialize the vectors once.
    *
    * Optimistic CAS loop ([[dml]]): the merge is computed against the
    * latest snapshot and publishes ONLY if that snapshot is still the
    * latest at commit time; a concurrent commit in the gap makes the
    * loop re-derive against the new snapshot (the stale result, however
    * plausible, would silently drop the concurrent writer's rows — lost
    * update). Data is rewritten per retry; retries are as rare as real
    * write-write races.
    */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], ordering: Seq[Column], opCol: String,
      deleteOp: String = "D", maxAttempts: Int = 10,
      deletionVectors: Boolean = false): Long = {
    val t = new Path(table)
    val keysDf = changes.select(keys.map(k => col(quoted(k))): _*).distinct()
    val renamedKeys = keys.foldLeft(keysDf)((d, k) =>
      d.withColumnRenamed(k, s"__mk_$k"))
    dml(spark, table, "merge", maxAttempts) { dataRel =>
      val base = latestVersion(spark, table).getOrElse(
        sys.error(s"table $table has no committed versions to merge into"))
      val m = manifestAt(spark, table, base)
      // null-safe key match, mirroring cdcApply's <=> semantics
      val f = findTouched(spark, t, m, dataRel, deletionVectors)(
        liveKeyed(spark, t, m, m.files).join(broadcast(renamedKeys),
          keys.map(k => col(quoted(k)) <=> col(s"__mk_$k")).reduce(_ && _),
          "left_semi"))
      // the old rows cdcApply folds: the touched files' live rows, or
      // none under vectors (CDC replace semantics)
      val merged = graft.operators.MergeOps.cdcApply(
        readLive(spark, t, m, if (deletionVectors) Seq.empty else f.touched),
        changes, keys, ordering, opCol, deleteOp)
      val cons = constraintsOf(spark, table)
      val w = writeData(inbound(spark, table, merged, cons), table,
        m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
      (w, onBase(m)(p => swapped("merge", p, f.gone, w).copy(
        constraints = guardedCons(table, Some(p), cons), dvs = f.dvsAgainst(p))))
    }
  }

  // ---------------------------------------------------------------------
  // General MERGE INTO (the full Delta/SQL MERGE clause surface;
  // [[merge]] keeps the cheaper CDC-shaped fast path)
  // ---------------------------------------------------------------------

  /** One `WHEN MATCHED [AND cond]` / `WHEN NOT MATCHED BY SOURCE [AND
    * cond]` clause. Conditions and assignment expressions reference the
    * target as `t.<col>` and the source as `s.<col>` (the engine aliases
    * both sides so); a NULL condition does not apply the clause (SQL
    * three-valued semantics). Clauses are evaluated IN ORDER — the first
    * whose condition holds acts, later ones never see the row.
    */
  sealed trait MergeMatchedClause { def cond: Option[Column] }
  /** `THEN UPDATE SET col = expr, …` — unassigned columns keep their
    * target values; each assignment is cast to the column's declared
    * type (an UPDATE can never drift the schema).
    */
  final case class MergeUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeMatchedClause
  /** `THEN DELETE`. */
  final case class MergeDelete(cond: Option[Column] = None)
      extends MergeMatchedClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (col, …) VALUES (expr, …)`
    * — unlisted columns insert NULL (generated columns are computed).
    */
  final case class MergeInsert(values: Map[String, Column],
      cond: Option[Column] = None)

  /** General `MERGE INTO` (the public Delta/ANSI shape): join the
    * target's LIVE rows with `source` on `on`, then apply the first
    * applicable clause per row — `matched` to (target, source) pairs,
    * `notMatched` to source-only rows, `notMatchedBySource` to
    * target-only rows. A target row that multiple source rows would
    * UPDATE or DELETE (a matched clause condition holding for more than
    * one of its pairs) fails loudly — the standard Delta stance; a
    * multi-matched row none of the matched clauses act on is fine.
    *
    * Cost shapes, in the order a 100 TB table cares about them:
    *   - '''insert-only''' (no matched/by-source clauses): one
    *     anti-join, fresh files appended, NOTHING rewritten — the
    *     dedup-on-ingest fast path.
    *   - '''no by-source clauses''': one column-pruned find scan
    *     locates the files containing matches (same economics as
    *     [[delete]]'s find pass); only those are rewritten
    *     (`deletionVectors = false`) or vectored (`true`, cost ∝ rows
    *     changed — no touched file read beyond the scans).
    *   - '''by-source clauses''': act on rows that DON'T match, which
    *     can live anywhere — the whole table is the working set (use
    *     vectors, or a partition-scoped `on`, for big tables).
    * Both non-insert-only shapes read `source` ONCE: it is cached for
    * the merge and released when it returns or throws (see the comment
    * at the top of the body).
    *
    * `evolveSchema = true` (the Delta `WITH SCHEMA EVOLUTION` knob):
    * source columns the clauses assign but the target lacks become new
    * nullable fields in the SAME commit — untouched files null-fill on
    * read, and the change feed carries them (nulls in pre-images).
    * Dropped/renamed-away names cannot be resurrected, and a source
    * column no clause assigns does not evolve the schema.
    *
    * Optimistic CAS like [[merge]]: a concurrent commit in the
    * find→publish gap re-derives against the new snapshot. Returns the
    * committed version (unchanged when no clause applied anywhere).
    *
    * `txnAppId`/`txnBatchId` make the merge IDEMPOTENT per batch (the
    * [[idempotentAppend]] watermark applied to upserts): a replayed
    * `foreachBatch` merge at or below the recorded watermark commits
    * NOTHING — the exactly-once half a streaming CDC-upsert pipeline
    * needs when its clauses are not naturally idempotent (`t.n + 1`).
    * The watermark check re-runs inside the CAS loop against the
    * current parent, so racing same-app writers cannot both land.
    */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      on: Column,
      matched: Seq[MergeMatchedClause] = Seq.empty,
      notMatched: Seq[MergeInsert] = Seq.empty,
      notMatchedBySource: Seq[MergeMatchedClause] = Seq.empty,
      deletionVectors: Boolean = false,
      changeFeed: Boolean = false,
      txnAppId: Option[String] = None,
      txnBatchId: Long = Long.MinValue,
      maxAttempts: Int = 10,
      evolveSchema: Boolean = false): Long = {
    txnAppId.foreach(id => require(id.nonEmpty, "txnAppId must be non-empty"))
    require(txnAppId.isEmpty == (txnBatchId == Long.MinValue),
      "txnAppId and txnBatchId must be provided together")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeInto needs at least one WHEN clause")
    Seq("__s_m", "__dv_k", "__dv_i").foreach(c =>
      require(!source.columns.contains(c),
        s"mergeInto source must not contain reserved column '$c'"))
    val t = new Path(table)
    // `__s_m` marks a source-side row; its value is unique to this merge
    // so that no other plan shares the cache entry below (a string
    // literal is codegen'd as a reference, so it leaves the generated
    // code, and its cache, unchanged)
    val srcM = source.withColumn("__s_m", lit(java.util.UUID.randomUUID().toString))
      .alias("s")
    def hold(c: Option[Column]): Column =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    // The general path reads the source in its find pass, its data write
    // and its change feed, on every CAS attempt. Materialize it ONCE
    // (Delta's materializeSource): all of them then see the same rows —
    // a non-deterministic or concurrently changing source can no longer
    // make the find pass and the write disagree, which would turn a
    // matched row into a duplicate insert — and the cached frame's exact
    // size lets the planner broadcast a small source instead of the
    // target. `srcM` is merge-private: no user plan and no concurrent
    // merge of the same `source` can share its cache entry (a user's own
    // cache of `source` is untouched), and it is released in the
    // `finally` below on every exit: success, no-op, the ambiguity
    // error, a failed write, and exhausted retries. The insert-only path
    // reads the source once anyway and does not materialize.
    val materialize = matched.nonEmpty || notMatchedBySource.nonEmpty
    try {
      if (materialize) {
        srcM.persist()
        srcM.write.format("noop").mode("overwrite").save()
      }
      dml(spark, table, "mergeInto", maxAttempts) { dataRel =>
        val base = latestVersion(spark, table).getOrElse(
          sys.error(s"table $table has no committed versions to merge into"))
        val m = manifestAt(spark, table, base)
        // already-applied batch: commit NOTHING (the CAS on base makes
        // this check race-safe — a same-app commit landing after it bumps
        // the version, voiding this attempt)
        if (txnAppId.exists(id =>
            m.txn.getOrElse(Map.empty).get(id).exists(_ >= txnBatchId)))
          return m.version
        val txnDelta: Map[String, Long] =
          txnAppId.map(_ -> txnBatchId).toMap
        // WITH SCHEMA EVOLUTION (the Delta mergeSchema-for-merge knob):
        // source columns the clauses actually ASSIGN but the target lacks
        // widen the schema as new NULLABLE fields inside the SAME merge
        // commit — the committed manifest's schemaJson comes from the
        // written frame, which carries them; untouched files simply lack
        // the columns and null-fill on read (the addColumns semantics,
        // fused into the merge). Only assignment keys evolve — the Delta
        // stance: star-expansion (done by the SQL layer) or an explicit
        // assignment, never a source column every clause ignores. A name
        // retired by dropColumn (or still present physically under a
        // rename) cannot be resurrected — fail loudly.
        val extraFields: Seq[StructField] =
          if (!evolveSchema) Seq.empty
          else {
            val logicalNames = logicalSchema(m).fieldNames.map(_.toLowerCase).toSet
            val physNames = DataType.fromJson(m.schemaJson)
              .asInstanceOf[StructType].fieldNames.map(_.toLowerCase).toSet
            val dead = m.dropped.getOrElse(Seq.empty).map(_.toLowerCase).toSet
            val assigned: Set[String] = ((matched ++ notMatchedBySource).flatMap {
              case MergeUpdate(set, _) => set.keys
              case _ => Seq.empty
            } ++ notMatched.flatMap(_.values.keys))
              .map(_.toLowerCase).toSet -- logicalNames
            val fields = source.schema.fields.toSeq
              .filter(f => assigned(f.name.toLowerCase))
            val orphans = assigned -- fields.map(_.name.toLowerCase)
            require(orphans.isEmpty,
              s"mergeInto schema evolution: assigned column(s) " +
                s"${orphans.mkString(", ")} exist in neither the target nor " +
                s"the source of $table - cannot infer a type for them")
            fields.map { f =>
              require(!dead(f.name.toLowerCase) && !physNames(f.name.toLowerCase),
                s"mergeInto schema evolution cannot add '${f.name}' to " +
                  s"$table: the name was previously dropped or renamed " +
                  "away - old files may still hold its pre-drop values")
              f.copy(dataType = asNullable(f.dataType), nullable = true,
                metadata = Metadata.empty)
            }
          }
        val extraNames = extraFields.map(_.name).toSet
        val schema = StructType(logicalSchema(m).fields ++ extraFields)
        val gen = m.generated.getOrElse(Map.empty)
        val cons = m.constraints.getOrElse(Map.empty)
        // identity columns: NOT MATCHED inserts receive fresh ids from the
        // snapshot's high-water marks inside THIS commit (the same
        // zipWithIndex + CAS recipe as appendWithIdentity — the version
        // CAS below subsumes the marks CAS, since marks only move with
        // versions); updated/kept rows keep their existing ids, and no
        // clause may assign one (GENERATED ALWAYS semantics)
        val idMap = m.identity.getOrElse(Map.empty)
        def checkAssign(cols: Iterable[String], what: String): Unit =
          cols.foreach { c =>
            require(schema.fieldNames.contains(c),
              s"mergeInto $what references no such column '$c' of $table " +
                s"(schema: ${schema.fieldNames.mkString(", ")})")
            require(!gen.contains(c),
              s"mergeInto cannot assign generated column '$c' of $table — " +
                s"it derives from (${gen.getOrElse(c, "")})")
            require(!idMap.contains(c),
              s"mergeInto cannot assign identity column '$c' of $table — " +
                "it is GENERATED ALWAYS AS IDENTITY")
          }
        def advancedIds(inserted: Long): Option[Map[String, IdentitySpec]] =
          if (idMap.isEmpty) None
          else Some(idMap.map { case (c, sp) =>
            c -> sp.copy(next = sp.next + sp.step * inserted) })
        // every shape of this merge's commit: the file swap against the
        // CAS base plus the watermark, feed, constraint guard and ids
        def mergeAttempt(p: Manifest, gone: Set[String], w: Written,
            cdf: Seq[String], ids: Option[Map[String, IdentitySpec]]): Attempt = {
          val a = swapped("merge", p, gone, w)
          a.copy(txn = a.txn ++ txnDelta, cdf = cdf,
            constraints = guardedCons(table, Some(p), cons), identity = ids)
        }
        val idFreeFields = schema.fields.toSeq.filterNot(f => idMap.contains(f.name))
        (matched ++ notMatchedBySource).foreach {
          case MergeUpdate(set, _) => checkAssign(set.keys, "UPDATE SET")
          case _ => ()
        }
        notMatched.foreach(cl => checkAssign(cl.values.keys, "INSERT"))

        // re-derive generated columns AFTER clause assignments (mirrors
        // update), so inbound validation can never trip on a stale value
        def regen(df: DataFrame): DataFrame =
          gen.toSeq.sortBy(_._1).foldLeft(df) { case (acc, (c, sql)) =>
            acc.withColumn(c, org.apache.spark.sql.functions.expr(sql)
              .cast(schema(c).dataType))
          }

        // ---- insert-only fast path: one anti-join, zero rewrites --------
        if (matched.isEmpty && notMatchedBySource.isEmpty) {
          val unmatched = srcM.join(
            readLive(spark, t, m, m.files).alias("t"), on, "left_anti")
          val taggedI = notMatched.zipWithIndex.map { case (cl, j) =>
            (hold(cl.cond), s"i$j") }
          val actI = taggedI.tail
            .foldLeft(when(taggedI.head._1, lit(taggedI.head._2))) {
              case (acc, (c, tag)) => acc.when(c, lit(tag)) }
            .otherwise(lit("drop"))
          val bare = unmatched.withColumn("__act", actI)
            .filter(col("__act") =!= "drop")
            .select(idFreeFields.map { f =>
              notMatched.zipWithIndex
                .foldLeft(lit(null).cast(f.dataType): Column) {
                  case (acc, (cl, j)) => when(col("__act") === s"i$j",
                    cl.values.getOrElse(f.name, lit(null)).cast(f.dataType))
                    .otherwise(acc)
                }.as(f.name)
            }: _*)
          // identity: every fresh row is an insert, so the mark advance is
          // just the written row count — no extra pass
          val rows = if (idMap.isEmpty) bare else assignIdentity(bare, idMap, schema)
          val w = writeData(enforcing(regen(rows), cons), table,
            m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
          val cdfFiles =
            if (!changeFeed) Seq.empty
            else {
              // fresh files carry any evolution-added columns; reading
              // them back with the OLD schema would silently drop those
              // from the feed — widen the read schema to match the write
              val readJson =
                if (extraFields.isEmpty) m.schemaJson
                else StructType(DataType.fromJson(m.schemaJson)
                  .asInstanceOf[StructType].fields ++ extraFields).json
              writeCdf(spark, table, w.dataRel,
                aliasLogical(toDf(spark, t, readJson, w.fresh), m)
                  .withColumn("_change_type", lit("insert")))
            }
          (w, onBase(m)(p =>
            mergeAttempt(p, Set.empty, w, cdfFiles,
              advancedIds(w.stats.map(_.rows).sum))))
        } else {
          // ---- find pass: touched files + multi-match cardinality check.
          // The ERROR is scoped the way Delta scopes it: only a target row
          // that ≥2 source rows would actually UPDATE/DELETE (some matched
          // clause condition holds for ≥2 of its pairs) is ambiguous. A
          // row matched twice whose matched conditions are all false — or
          // under clauses that never touch matched rows — merges fine.
          // The TOUCHED-file set stays "any match at all": a matched
          // source row must meet its target row in the acted join even
          // when no clause fires, or it would be mistaken for NOT MATCHED
          // and inserted as a duplicate.
          val anyApplies: Column = matched.map(cl => hold(cl.cond))
            .reduceOption(_ || _).getOrElse(lit(false))
          val byKey = byScanKey(m.files, t)
          // per target row: how many of its pairs a matched clause acts
          // on (`_1`) and how many pairs it has (`_2`) — the one shuffle;
          // the per-file maxima then fold in the tasks and on the driver
          // ([[foldPerFile]]), with no second shuffle or job
          val perFile: Seq[(String, Long, Long)] =
            if (m.files.isEmpty) Seq.empty
            else {
              import spark.implicits._
              foldPerFile(liveKeyed(spark, t, m, m.files).alias("t")
                .join(srcM, on, "inner")
                .groupBy(col("t.__dv_k").as("__k"), col("t.__dv_i").as("__i"))
                .agg(struct(
                  sum(when(anyApplies, lit(1L)).otherwise(lit(0L))).as("_1"),
                  count(lit(1L)).as("_2")).as("__an"))
                .select(col("__k"), col("__an"))
                .as[(String, (Long, Long))]) { (x, y) =>
                  (math.max(x._1, y._1), math.max(x._2, y._2)) }
                .toSeq.map { case (k, (a, n)) =>
                  (byKey.getOrElse(k, sys.error(s"scan returned unlisted file $k")), a, n) }
            }
          if (perFile.exists(_._2 > 1L)) sys.error(
            s"mergeInto $table: an UPDATE/DELETE clause applies to a target " +
              "row through multiple source rows — the result is ambiguous; " +
              "de-duplicate the source on the merge keys")
          // some target row joined ≥2 source pairs (all but at most one a
          // non-acting pair, per the check above): the CoW rewrite must
          // collapse to ONE surviving pair per target row or it would
          // write the row once per pair (duplicating kept rows and
          // resurrecting deleted ones)
          val multiPair = perFile.exists(_._3 > 1L)
          val touched = perFile.map(_._1).distinct
          // a by-source clause acts on rows that DON'T match — any file
          // can hold one, so the working set widens to the whole table
          val working =
            if (notMatchedBySource.nonEmpty) m.files else touched
          if (working.isEmpty && notMatched.isEmpty) return m.version

          val tgt =
            if (working.nonEmpty) liveKeyed(spark, t, m, working)
            else aliasLogical(toDf(spark, t, m.schemaJson, Seq.empty), m)
              .withColumn("__dv_k", lit(null).cast("string"))
              .withColumn("__dv_i", lit(null).cast("long"))
          val isM = col("t.__dv_k").isNotNull && col("__s_m").isNotNull
          val isS = col("t.__dv_k").isNull && col("__s_m").isNotNull
          val isT = col("__s_m").isNull
          val tagged: Seq[(Column, String)] =
            matched.zipWithIndex.map { case (cl, i) => (isM && hold(cl.cond), s"m$i") } ++
            notMatched.zipWithIndex.map { case (cl, j) => (isS && hold(cl.cond), s"i$j") } ++
            notMatchedBySource.zipWithIndex.map { case (cl, b) => (isT && hold(cl.cond), s"b$b") }
          val act = tagged.tail
            .foldLeft(when(tagged.head._1, lit(tagged.head._2))) {
              case (acc, (c, tag)) => acc.when(c, lit(tag)) }
            .otherwise(when(isS, lit("drop")).otherwise(lit("keep")))
          val acted = tgt.alias("t").join(srcM, on, "full_outer")
            .withColumn("__act", act)
          val deadTags: Seq[String] =
            matched.zipWithIndex.collect { case (MergeDelete(_), i) => s"m$i" } ++
            notMatchedBySource.zipWithIndex.collect { case (MergeDelete(_), b) => s"b$b" } :+
            "drop"
          // a field's target-side value; an evolution-added column has
          // none, so it reads NULL, not a (non-existent) t.<name>
          def targetValue(f: StructField): Column =
            if (extraNames(f.name)) lit(null).cast(f.dataType)
            else col("t." + quoted(f.name)).cast(f.dataType)
          // each field's post-clause value over `acted`'s columns
          def outExprs(fields: Seq[StructField]): Seq[Column] =
            fields.map { f =>
              val branches: Seq[(String, Column)] =
                matched.zipWithIndex.collect {
                  case (MergeUpdate(set, _), i) if set.contains(f.name) =>
                    s"m$i" -> set(f.name) } ++
                notMatched.zipWithIndex.map { case (cl, j) =>
                  s"i$j" -> cl.values.getOrElse(f.name, lit(null)) } ++
                notMatchedBySource.zipWithIndex.collect {
                  case (MergeUpdate(set, _), b) if set.contains(f.name) =>
                    s"b$b" -> set(f.name) }
              branches.foldLeft(targetValue(f)) {
                case (acc, (tag, v)) =>
                  when(col("__act") === tag, v.cast(f.dataType)).otherwise(acc)
              }.as(f.name)
            }
          def outCols(df: DataFrame): DataFrame =
            df.select(outExprs(schema.fields.toSeq): _*)

          val updTags: Seq[String] =
            matched.zipWithIndex.collect { case (MergeUpdate(_, _), i) => s"m$i" } ++
            notMatchedBySource.zipWithIndex.collect {
              case (MergeUpdate(_, _), b) => s"b$b" }
          val delTags: Seq[String] =
            matched.zipWithIndex.collect { case (MergeDelete(_), i) => s"m$i" } ++
            notMatchedBySource.zipWithIndex.collect {
              case (MergeDelete(_), b) => s"b$b" }
          val insTags: Seq[String] = notMatched.indices.map(j => s"i$j")
          // tags that ACT on a target row (fire a matched / by-source
          // clause) — the pair that decides the row's fate
          val actedTags: Seq[String] =
            matched.indices.map(i => s"m$i") ++
            notMatchedBySource.indices.map(b => s"b$b")
          // Identity-assigned insert rows, built ONCE and reused by the
          // data write and the CDF write so both see the same ids (same
          // lineage; zipWithIndex over reused shuffle output is stable
          // across the actions, the appendWithIdentity stance — its count
          // job materializes the shuffle before either write starts). The
          // extra count() for the mark advance is change-sized.
          val insAssigned: Option[DataFrame] =
            if (idMap.isEmpty || notMatched.isEmpty) None
            else Some(assignIdentity(
              acted.filter(col("__act").isin(insTags: _*)).select(outExprs(idFreeFields): _*),
              idMap, schema))
          val insertedForIds: Long =
            if (insAssigned.isEmpty) 0L
            else acted.filter(col("__act").isin(insTags: _*)).count()
          // CDF for the general merge (the shape readChangeFeed folds): the
          // acted-on target rows' pre-images (update_preimage / delete),
          // update post-images, and inserts, as ONE projection of `acted`
          // ([[mergeFeed]]). It reads only the parent snapshot and the
          // source, never the fresh files, so [[overlapCdf]] writes it
          // concurrently with the data. The feed reads `acted`, not the
          // CoW path's collapsed `actedCow` — they agree for every
          // CDF-visible tag because the collapse only discards NON-acting
          // sibling pairs (tag "keep"/"drop", outside updTags/delTags/
          // insTags; the ≥2-firing-pairs case already errored), so the
          // feed can never disagree with the committed rows. An edit that
          // lets a firing pair be collapsed away must switch the feed to
          // the collapsed frame. `acted` is deliberately not persisted: a
          // cached join output fragments the data write (several files
          // per merge instead of one), which compaction then pays for.
          val feed: Option[DataFrame] =
            if (!changeFeed) None
            else {
              val in = MergeFeedInputs(acted,
                preImage = schema.fields.toSeq.map(f => targetValue(f).as(f.name)),
                postImage = outExprs(schema.fields.toSeq),
                updTags, delTags, insTags, insAssigned)
              mergeFeedHook(in)
              Some(mergeFeed(in))
            }

          // the files that leave the manifest, the DV list to commit
          // against a parent, and the rows of the one fresh write
          val (gone, dvsAgainst, rows) = if (!deletionVectors) {
            // copy-on-write: rewrite the working files without the dead
            // rows, clause outputs applied; untouched files keep their DVs.
            // Under join fanout (multiPair) collapse to one surviving pair
            // per target position — the acting pair if any — mirroring the
            // DV path's per-position semantics: without this a row matched
            // by 2 source rows where ≤1 fires is written once per PAIR
            // (a kept row duplicates; a fired delete is undone by its
            // non-acting sibling pair rewriting the row). The window
            // partitions on (file, row index): per-partition occupancy is
            // bounded (= the row's pair fanout), but the SHUFFLE moves the
            // whole working-set join output — the full table when a
            // by-source clause widens `working` to every file — so one
            // fan-out pair anywhere pays a working-set-sized shuffle. The
            // multiPair gate keeps that off the common unique-key merge;
            // scoping it tighter (semi-join on multi-paired positions)
            // would itself shuffle the working set to find them.
            val actedCow =
              if (!multiPair) acted
              else {
                val firing = when(col("__act").isin(actedTags: _*), lit(0))
                  .otherwise(lit(1))
                // positional union: the join output carries duplicate
                // column NAMES (t.k / s.k), which unionByName rejects;
                // both branches project acted's columns in identical order
                acted.filter(col("t.__dv_k").isNotNull)
                  .withColumn("__pick", row_number().over(Window
                    .partitionBy(col("t.__dv_k"), col("t.__dv_i"))
                    .orderBy(firing)))
                  .filter(col("__pick") === 1).drop("__pick")
                  .union(acted.filter(col("t.__dv_k").isNull))
              }
            val rows = insAssigned match {
              case None => outCols(actedCow.filter(!col("__act").isin(deadTags: _*)))
              case Some(ins) => outCols(actedCow.filter(
                !col("__act").isin((deadTags ++ insTags): _*))).unionByName(ins)
            }
            (working.toSet, (_: Manifest) => Option.empty[Seq[DvEntry]], rows)
          } else {
            // deletion vectors: EVERY acted-on target row's old position is
            // vectored out (update and delete alike); updates' post-images
            // and inserts land in one fresh write. Cost ∝ rows changed —
            // no working file is read beyond the scans, none rewritten.
            val f = findTouched(spark, t, m, dataRel, deletionVectors = true)(
              acted.filter(col("__act").isin(actedTags: _*))
                .select(col("t.__dv_k").as("__dv_k"), col("t.__dv_i").as("__dv_i")))
            val liveTags: Seq[String] =
              matched.zipWithIndex.collect { case (MergeUpdate(_, _), i) => s"m$i" } ++
              notMatched.indices.map(j => s"i$j") ++
              notMatchedBySource.zipWithIndex.collect {
                case (MergeUpdate(_, _), b) => s"b$b" }
            val rows = insAssigned match {
              case None => outCols(acted.filter(col("__act").isin(liveTags: _*)))
              case Some(ins) => outCols(acted.filter(col("__act").isin(
                liveTags.filterNot(insTags.contains): _*))).unionByName(ins)
            }
            (f.gone, f.dvsAgainst _, rows)
          }
          val (w, cdfFiles) = overlapCdf(spark, table, feed, dataRel) {
            writeData(enforcing(regen(rows), cons), table,
              m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
          }
          (w, onBase(m)(p =>
            mergeAttempt(p, gone, w, cdfFiles, advancedIds(insertedForIds))
              .copy(dvs = dvsAgainst(p))))
        }
      }
    } finally if (materialize) srcM.unpersist(blocking = false)
  }

  /** The inputs of a general MERGE's change feed: `acted` (the target ⟗
    * source join, each row tagged `__act` with the clause that fired on
    * it — `m<i>` matched, `i<j>` not matched, `b<k>` not matched by
    * source — or "keep"/"drop"), a row's pre-image (its target columns)
    * and post-image (the clause outputs) in table order, the tags of the
    * update, delete and insert clauses, and, on an identity table, the
    * id-assigned insert rows the data write also uses.
    */
  private[sources] final case class MergeFeedInputs(acted: DataFrame,
      preImage: Seq[Column], postImage: Seq[Column], updTags: Seq[String],
      delTags: Seq[String], insTags: Seq[String], inserts: Option[DataFrame])

  /** A general MERGE's change feed as ONE projection of `acted`: the rows
    * an update, delete or insert clause fired on are filtered once, and
    * each explodes into its images — an update into its pre-image and
    * post-image, a delete into its pre-image, an insert into its
    * post-image. The filter also states, one join side at a time, what
    * the tags imply (matched and by-source rows have a target side,
    * matched and insert rows a source side), so Catalyst weakens the
    * full-outer join to inner, left- or right-outer as the clauses
    * allow. The feed plans the join once, where a union of per-image
    * branches planned it once per branch. With `inserts`, the insert
    * images are those rows, so the feed carries the data's ids.
    */
  private[sources] def mergeFeed(in: MergeFeedInputs): DataFrame = {
    val act = col("__act")
    val isUpd = act.isin(in.updTags: _*)
    val imgTags = in.updTags ++ in.delTags ++
      (if (in.inserts.isEmpty) in.insTags else Seq.empty)
    val guards =
      (if (imgTags.exists(_.startsWith("i"))) Seq.empty
       else Seq(col("t.__dv_k").isNotNull)) ++
      (if (imgTags.exists(_.startsWith("b"))) Seq.empty
       else Seq(col("__s_m").isNotNull))
    val pre = struct(in.preImage :+ when(isUpd, lit("update_preimage"))
      .otherwise(lit("delete")).as("_change_type"): _*)
    val post = struct(in.postImage :+ when(isUpd, lit("update_postimage"))
      .otherwise(lit("insert")).as("_change_type"): _*)
    val images = when(isUpd, array(pre, post))
      .when(act.isin(in.delTags: _*), array(pre))
      .otherwise(array(post))
    val projected = in.acted.filter(guards.foldLeft(act.isin(imgTags: _*))(_ && _))
      .select(explode(images).as("__img")).select("__img.*")
    in.inserts.fold(projected)(ins =>
      projected.unionByName(ins.withColumn("_change_type", lit("insert"))))
  }

  /** Test-only interposition point: sees the inputs of every general
    * MERGE change feed, so specs can check [[mergeFeed]] against a
    * reference built from the same `acted` join.
    */
  private[sources] var mergeFeedHook: MergeFeedInputs => Unit = _ => ()

  /** Abort a rewrite (compact/zorder) whose planned files' DELETION
    * VECTORS changed between planning and commit. The files-still-present
    * check alone misses this race: a concurrent `delete/update(
    * deletionVectors = true)` ADDS a vector without removing the file, but
    * the rewrite was computed with [[readLive]] under the OLD snapshot's
    * vectors, and committing it sheds the racer's new vector (the rewritten
    * file leaves the manifest, taking its DV entry with it) — silently
    * resurrecting the concurrently-deleted rows. The row-level DML paths
    * CAS on the exact parent version; rewrites deliberately tolerate
    * concurrent APPENDS, so the DV set must be checked explicitly.
    */
  private[graft] def requireDvsUnchanged(table: String, what: String,
      planned: Set[String], m: Manifest, parent: Option[Manifest]): Unit = {
    def of(mm: Manifest) = mm.dvs.getOrElse(Seq.empty).filter(e => planned(e.path)).toSet
    if (parent.map(of).getOrElse(Set.empty) != of(m))
      throw new java.util.ConcurrentModificationException(
        s"$what of $table aborted: a concurrent commit changed deletion " +
          "vectors on file(s) planned for rewrite")
  }

  /** Publish a row-preserving rewrite (compact, purge, z-order): `w`'s
    * files replace the `planned` files of snapshot `m` in whatever parent
    * the CAS lands on, so concurrent appends compose. A concurrent commit
    * that removed a planned file, changed a planned file's deletion
    * vector ([[requireDvsUnchanged]]) or changed the schema aborts the
    * rewrite, named `what` — rewriting rows a racer dropped or vectored
    * out would resurrect them. Constraints flow through unguarded (a
    * rewrite of already-validated rows cannot introduce a violation);
    * the planned files' vectors were materialized by the rewrite, and a
    * vector a concurrent commit put on any other file survives.
    */
  private def relayout(spark: SparkSession, table: String, action: String,
      what: String, m: Manifest, planned: Set[String], w: Written): Long =
    publish(spark, table, w, parent => {
      val p = parent.filter(p => planned.subsetOf(p.files.toSet)).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"$what of $table aborted: a concurrent commit removed " +
            "file(s) planned for rewrite"))
      requireDvsUnchanged(table, what, planned, m, parent)
      require(p.schemaJson == w.schemaJson,
        s"$what schema drift for $table (concurrent overwrite?)")
      Some(swapped(action, p, planned, w))
    }).get

  /** Compaction (the public OPTIMIZE bin-packing recipe): rewrite the
    * referenced files smaller than `smallFileBytes` into
    * ~`targetFileBytes` files and commit a version with identical rows.
    * Large files are never rewritten or even read — at 100 TB the
    * maintenance cost is proportional to the small-file debt (the
    * streaming-append tail), not the table. Readers are untouched
    * mid-compaction (snapshot isolation); time travel to pre-compaction
    * versions still resolves the old files until [[vacuum]].
    *
    * Concurrency: a concurrent append composes fine (its files are
    * simply retained); a concurrent overwrite/compaction that removed
    * one of the planned-for-rewrite files aborts this compaction with
    * `ConcurrentModificationException` — rewriting rows whose source
    * files a racing commit dropped would resurrect deleted data.
    *
    * Returns the committed version, or the current version unchanged if
    * fewer than two files qualify (nothing to pack).
    */
  def compact(spark: SparkSession, table: String,
      smallFileBytes: Long = 128L << 20,
      targetFileBytes: Long = 128L << 20,
      partition: Map[String, Any] = Map.empty): Long = {
    require(smallFileBytes > 0 && targetFileBytes > 0, "thresholds must be positive")
    val t = new Path(table)
    val f = fs(spark, t)
    val m = manifest(spark, table)
    // `partition` targets the bin-packing at one partition (slice) of a
    // partitioned table — the maintenance-window pattern: a streaming
    // ingest fragments only TODAY's partition, so tonight's OPTIMIZE
    // should stat and read only today's files, not the table's
    val candidates =
      if (partition.isEmpty) m.files
      else {
        val pcols = partitionedManifest(table, m)
        partition.keys.foreach(k => require(pcols.contains(k),
          s"'$k' is not a partition column of $table (has: ${pcols.mkString(", ")})"))
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        val byPath = partedEntries(table, m)
        m.files.filter(p => partMatches(schema, byPath(p), partition))
      }
    // size from the MANIFEST's recorded cost statistics — zero
    // filesystem RPCs on the common path (one getFileStatus per
    // candidate is 10⁷ round-trips on a big table); only entries
    // predating size recording (pre-stats manifests, adopted layouts)
    // fall back to a live stat
    val recorded = m.stats.getOrElse(Seq.empty)
      .flatMap(e => e.bytes.map(e.path -> _)).toMap
    val sized = candidates.map(rel => rel -> recorded.getOrElse(rel,
      f.getFileStatus(new Path(t, rel)).getLen))
    val small = sized.filter(_._2 < smallFileBytes)
    if (small.size < 2) return m.version
    val packed = readLive(spark, t, m, small.map(_._1))
      // coalesce, not repartition: packing must not shuffle the data it
      // rewrites — narrow concatenation of the small files' partitions
      // (readLive's DV anti-join, when present, broadcasts and stays
      // narrow too; packing also MATERIALIZES the deletion vectors)
      .coalesce(((small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes)
        .toInt.max(1))
    // a partitioned table's rewrite re-partitions on the same columns
    // (they are ordinary data columns in the small files), so rewritten
    // files keep exact per-file partition metadata; a coalesced task
    // holding k partitions' rows emits k files — packing quality is
    // per-task, the manifest semantics are exact either way
    val w = writeData(packed, table, m.partitionBy.getOrElse(Seq.empty))
    relayout(spark, table, "compact", "compaction", m, small.map(_._1).toSet, w)
  }

  /** `REORG TABLE … APPLY (PURGE)` (the public Delta spelling):
    * materialize every deletion vector by rewriting ONLY the files
    * that carry one — each vectored file's live rows land in fresh
    * files, the old file is de-referenced, and the committed manifest
    * carries no vectors. The targeted middle ground between letting DV
    * debt accumulate (every read pays the anti-join) and a full
    * OPTIMIZE (which rewrites small UN-vectored files too): cost is
    * proportional to the vectored files, not the table. Row-preserving
    * (live rows only move), so constraints flow through unguarded;
    * a concurrent commit that removed or re-vectored a planned file
    * aborts (same CAS stance as [[compact]]); a vector-free table
    * returns unchanged without writing.
    */
  def purgeDvs(spark: SparkSession, table: String): Long = {
    val t = new Path(table)
    val m = manifest(spark, table)
    val vectored = m.dvs.getOrElse(Seq.empty).map(_.path)
    if (vectored.isEmpty) return m.version
    // readLive anti-joins the vectors out; the rewrite IS the purge
    val w = writeData(readLive(spark, t, m, vectored), table,
      m.partitionBy.getOrElse(Seq.empty))
    relayout(spark, table, "purge", "purge", m, vectored.toSet, w)
  }

  /** Transactional `OPTIMIZE … ZORDER BY (x, y)` (the Delta layout
    * maintenance command): rewrite the table's files — or ONE
    * partition's, the nightly maintenance-window shape — re-clustered
    * along the Morton curve of (`xCol`, `yCol`) via [[Layout.zOrdered]]
    * (one tiny range aggregate + one range exchange + in-partition
    * sort), and commit the swap atomically. Rows are untouched; what
    * changes is every file's per-column [min,max] becoming a tight 2-d
    * box, which is what lets [[readWhere]]'s conjunctive pruning (and
    * the automatic SQL skipping) answer a 2-d range query from a
    * handful of files instead of the whole table. Readers pinned to the
    * pre-optimize snapshot keep reading the old files (immutable until
    * [[vacuum]]); a concurrent commit that removed a planned file
    * aborts the optimize (same CAS stance as [[compact]]); constraints
    * flow through unguarded — a rewrite of already-validated rows
    * cannot introduce a violation.
    */
  def zorderOptimize(spark: SparkSession, table: String,
      xCol: String, yCol: String, numFiles: Int,
      partition: Map[String, Any] = Map.empty): Long =
    zorderOptimize(spark, table, Seq(xCol, yCol), numFiles, partition,
      curve = "morton")

  /** [[zorderOptimize]] over ANY number of columns — the full
    * `OPTIMIZE … ZORDER BY (a, b, c, …)` surface ([[Layout.zValueN]]
    * trades per-dimension grid resolution for dimensions exactly like
    * the published implementations). `curve = "hilbert"` re-clusters
    * along the Hilbert curve instead (the liquid-clustering-class
    * locality upgrade; [[Layout.hilbertValueN]]).
    */
  def zorderOptimize(spark: SparkSession, table: String,
      cols: Seq[String], numFiles: Int,
      partition: Map[String, Any],
      curve: String): Long = {
    require(cols.nonEmpty, "z-order needs at least one column")
    val t = new Path(table)
    val m = manifest(spark, table)
    val schema = logicalSchema(m)
    cols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"table $table has no column '$c' (schema: ${schema.fieldNames.mkString(", ")})")
      require(schema(c).dataType.isInstanceOf[NumericType],
        s"z-order column '$c' (${schema(c).dataType.simpleString}) is not numeric")
    }
    val candidates =
      if (partition.isEmpty) m.files
      else {
        val pcols = partitionedManifest(table, m)
        partition.keys.foreach(k => require(pcols.contains(k),
          s"'$k' is not a partition column of $table (has: ${pcols.mkString(", ")})"))
        val byPath = partedEntries(table, m)
        m.files.filter(p => partMatches(schema, byPath(p), partition))
      }
    if (candidates.isEmpty) return m.version
    // live rows: a rewrite MATERIALIZES any deletion vectors (the
    // rewritten files never carry them forward)
    val (clustered, _) = Layout.zOrderedN(
      readLive(spark, t, m, candidates), cols, numFiles, curve)
    val w = writeData(clustered, table, m.partitionBy.getOrElse(Seq.empty))
    relayout(spark, table, "zorder", "zorder optimize", m, candidates.toSet, w)
  }

  // ---------------------------------------------------------------------
  // Partition operations (the Hive/Delta partitioned-table surface over
  // the per-file `parts` metadata [[writeData]] records)
  // ---------------------------------------------------------------------

  /** Require every live file of `m` to carry partition metadata and
    * return path → entry. Exact partition operations plan from `parts`
    * alone; a file without it (written before the table was partitioned,
    * or by a drifted writer) would make "replace partition X" silently
    * miss rows — fail loudly instead.
    */
  private def partedEntries(table: String, m: Manifest): Map[String, FileEntry] = {
    val byPath = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    m.files.foreach(p => require(byPath.get(p).exists(_.parts.isDefined),
      s"file $p of $table has no partition metadata — exact partition " +
        "operations need every live file written under the partitioned layout"))
    byPath
  }

  /** Does `e` fall in the partition(s) selected by `values` (column →
    * wanted value, null selects the NULL partition)? Values compare in
    * the column's own domain ([[cmp]]): numerics numerically, so
    * `7 == "07"`, everything else by the dir-rendered string.
    */
  private def partMatches(schema: StructType, e: FileEntry,
      values: Map[String, Any]): Boolean = {
    val parts = e.parts.getOrElse(sys.error(s"file ${e.path} has no partition metadata"))
    values.forall { case (k, v) =>
      val stored = parts.getOrElse(k,
        sys.error(s"file ${e.path} has no partition value for '$k'"))
      if (v == null) stored == nullPartition
      else stored != nullPartition &&
        cmp(schema(k).dataType, stored, v.toString).contains(0)
    }
  }

  private def partitionedManifest(table: String, m: Manifest): Seq[String] =
    m.partitionBy.getOrElse(sys.error(
      s"table $table is not partitioned — overwrite(partitionBy = Some(cols)) first"))

  /** Table property that regenerates symlink manifests after EVERY
    * commit (Delta's `compatibility.symlinkFormatManifest.enabled`).
    * Skipped while deletion vectors exist — the post-commit hook must
    * not fail a DV write; run PURGE then GENERATE to re-sync.
    */
  val symlinkAutoKey = "graft.symlink.autoGenerate"

  /** `GENERATE symlink_format_manifest FOR TABLE t` (the Delta interop
    * command): writes `_symlink_format_manifest/…/manifest` text files
    * listing the CURRENT snapshot's data files as fully-qualified URIs,
    * one per line — the format Presto/Trino/Athena-class external
    * engines read to query the table without understanding the log.
    * Partitioned tables get one manifest per live partition
    * (`p=v/manifest`, hive-layout dirs); unpartitioned tables a single
    * `manifest`. The output dir is REPLACED each run — a partition
    * whose files all vanished since the last generation must not leave
    * a stale manifest behind. Generation REFUSES while the table
    * carries deletion vectors (a symlink reader sees raw parquet and
    * would resurrect the deleted rows — the Delta rule; run
    * `REORG TABLE … APPLY (PURGE)` first). Returns the written
    * manifest paths, table-relative.
    *
    * Cost: one O(files) pass over the driver-resident manifest plus
    * one small text file per partition; zero data files opened. NOT
    * auto-maintained — re-run after commits (Delta's manual mode).
    */
  def generateSymlinkManifest(spark: SparkSession,
      table: String): Seq[String] = {
    val t = new Path(table)
    val f = fs(spark, t)
    val m = manifest(spark, table)
    require(m.dvs.forall(_.isEmpty),
      s"generateSymlinkManifest on $table: the table carries deletion " +
        "vectors — a symlink reader reads raw parquet and would " +
        "resurrect the deleted rows; REORG TABLE … APPLY (PURGE) first")
    val outDir = new Path(t, "_symlink_format_manifest")
    f.delete(outDir, true)
    val groups: Seq[(String, Seq[String])] =
      m.partitionBy.filter(_.nonEmpty) match {
        case None => Seq("" -> m.files)
        case Some(pcols) =>
          val byPath = partedEntries(table, m)
          // parts values are stored UNESCAPED; the manifest directory is
          // consumed by external Hive-layout readers, so each segment must
          // be re-escaped (a raw '/', '=' or '%' in a value would otherwise
          // nest a bogus directory and misattribute the partition)
          val esc = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName _
          m.files.groupBy { rel =>
            val parts = byPath(rel).parts.get
            pcols.map(c => s"${esc(c)}=${esc(parts(c))}").mkString("/")
          }.toSeq.sortBy(_._1)
      }
    val entries: Seq[(String, Seq[String])] = groups.map { case (dir, files) =>
      val rel = if (dir.isEmpty) "_symlink_format_manifest/manifest"
        else s"_symlink_format_manifest/$dir/manifest"
      rel -> files.sorted.map(r => f.makeQualified(new Path(t, r)).toString)
    }
    def write(fx: org.apache.hadoop.fs.FileSystem, base: Path,
        rel: String, lines: Seq[String]): Unit = {
      val out = fx.create(new Path(base, rel), true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    // one small file per partition: below the threshold the driver
    // writes them directly; a 10⁴–10⁵-partition table fans the writes
    // out to executors (same stance as vacuum's distributed reap —
    // manifest writes are idempotent overwrites, so task retries are
    // safe)
    if (entries.size < vacuumDistributeThreshold) {
      entries.foreach { case (rel, lines) => write(f, t, rel, lines) }
    } else {
      val confBc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val tq = f.makeQualified(t).toString
      import spark.implicits._
      try spark.createDataset(entries)
        .repartition(math.max(1, math.min(
          spark.sparkContext.defaultParallelism, entries.size / 100)))
        .foreachPartition { (it: Iterator[(String, Seq[String])]) =>
          val base = new Path(tq)
          val fx = base.getFileSystem(confBc.value.value)
          it.foreach { case (rel, lines) => write(fx, base, rel, lines) }
        }
      finally confBc.destroy()
    }
    entries.map(_._1)
  }

  /** `SHOW PARTITIONS`: one row per live partition with its file count
    * and row count — answered entirely from the manifest (metadata-only,
    * O(files) driver work, no data access). Partition values come back
    * in their dir-rendered string form (the same domain [[readPartition]]
    * and [[dropPartitions]] accept), NULL partitions as SQL NULL.
    */
  def partitions(spark: SparkSession, table: String): DataFrame = {
    val m = manifest(spark, table)
    val pcols = partitionedManifest(table, m)
    val byPath = partedEntries(table, m)
    val rows = m.files.map(byPath).groupBy(_.parts.get).toSeq.map {
      case (parts, es) =>
        org.apache.spark.sql.Row.fromSeq(
          pcols.map(c => parts.get(c).filterNot(_ == nullPartition).orNull) ++
            Seq(es.size.toLong, es.map(_.rows).sum))
    }
    val schema = StructType(
      pcols.map(StructField(_, StringType)) ++
        Seq(StructField("num_files", LongType), StructField("rows", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Read exactly the partition(s) matching `values` (a subset of the
    * partition columns; null selects the NULL partition): plans ONLY the
    * matching files — exact manifest-time partition pruning, not a
    * may-match stats bet — then applies the equality predicate on top
    * (partition columns are ordinary data columns in every file, so the
    * frame needs no reconstruction). At 100 TB this is the
    * one-partition read a date-keyed consumer does nightly: file list
    * ∝ the partition, never the table.
    */
  def readPartition(spark: SparkSession, table: String,
      values: Map[String, Any]): DataFrame = {
    require(values.nonEmpty, "readPartition needs at least one partition value")
    val m = manifest(spark, table)
    val pcols = partitionedManifest(table, m)
    values.keys.foreach(k => require(pcols.contains(k),
      s"'$k' is not a partition column of $table (has: ${pcols.mkString(", ")})"))
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val byPath = partedEntries(table, m)
    val kept = m.files.filter(p => partMatches(schema, byPath(p), values))
    val exact = values.map { case (k, v) =>
      val c = col(quoted(k))
      if (v == null) c.isNull else c === lit(v).cast(schema(k).dataType)
    }.reduceOption(_ && _).getOrElse(lit(true))
    readLive(spark, new Path(table), m, kept).filter(exact)
  }

  /** Dynamic partition overwrite (Spark's `partitionOverwriteMode=dynamic`
    * / Delta `replaceWhere` by partition): atomically replace EXACTLY the
    * partitions present in `df`, leaving every other partition's files
    * untouched and still referenced — the nightly-publish primitive for a
    * date-partitioned table, where the job rewrites the day(s) it
    * computed and must not touch (or even read) the other 3 000 days.
    * The new files are written once; a lost CAS race recomputes only the
    * metadata composition. Fails loudly if the frame's schema drifts
    * from the table's or a concurrent commit changed the layout.
    */
  def overwritePartitions(df: DataFrame, table: String,
      changeFeed: Boolean = false, maxAttempts: Int = 10): Long = {
    val spark = df.sparkSession
    val t = new Path(table)
    optimistic(table, "overwritePartitions", maxAttempts) {
      val m = manifest(spark, table)
      val pcols = partitionedManifest(table, m)
      val cons = m.constraints.getOrElse(Map.empty)
      val w = writeData(inbound(spark, table, df, cons), table, pcols)
      require(w.schemaJson == m.schemaJson,
        s"overwritePartitions schema drift for $table: table has " +
          s"${m.schemaJson}, frame has ${w.schemaJson}")
      val newParts = w.stats.flatMap(_.parts).toSet
      val byPath = partedEntries(table, m)
      val gone = m.files.filter(f => byPath(f).parts.exists(newParts)).toSet
      // CDF: replaced partitions' rows as delete pre-images, the new
      // rows as inserts — the Delta replaceWhere+CDF recipe. Opt-in:
      // recording pre-images reads exactly the replaced files (which
      // the dynamic overwrite otherwise never touches).
      val cdfFiles =
        if (!changeFeed) Seq.empty
        else {
          // pre-images are LIVE rows only (a DV-deleted row was already
          // retracted by the commit that deleted it); fresh files carry
          // no DVs, post stays raw
          val pre = readLive(spark, t, m, gone.toSeq.sorted)
            .withColumn("_change_type", lit("delete"))
          // post-images under LOGICAL names like every other CDF writer
          // (raw toDf is physical-named; on a renamed table the union
          // below would fail, and readChangeFeed expects logical)
          val post = aliasLogical(toDf(spark, t, m.schemaJson, w.fresh), m)
            .withColumn("_change_type", lit("insert"))
          writeCdf(spark, table, w.dataRel, pre.unionByName(post))
        }
      publish(spark, table, w, onBase(m)(p =>
        swapped("overwritePartitions", p, gone, w).copy(cdf = cdfFiles,
          constraints = guardedCons(table, Some(p), cons))))
    }
  }

  /** `ALTER TABLE DROP PARTITION` — drop every file in the partition(s)
    * matching `values`, METADATA-ONLY: no data file is read or written;
    * the commit just de-references them (vacuum reaps later). This is
    * the retention fast path a date-partitioned 100 TB table runs
    * nightly — constant-cost regardless of how many terabytes the
    * dropped partitions held. Returns the committed version (unchanged
    * if nothing matched).
    */
  def dropPartitions(spark: SparkSession, table: String,
      values: Map[String, Any], maxAttempts: Int = 10,
      changeFeed: Boolean = false): Long = {
    require(values.nonEmpty, "dropPartitions needs at least one partition value")
    optimistic(table, "dropPartitions", maxAttempts) {
      val m = manifest(spark, table)
      val pcols = partitionedManifest(table, m)
      values.keys.foreach(k => require(pcols.contains(k),
        s"'$k' is not a partition column of $table (has: ${pcols.mkString(", ")})"))
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val byPath = partedEntries(table, m)
      val gone = m.files.filter(p => partMatches(schema, byPath(p), values)).toSet
      if (gone.isEmpty) return m.version
      val w = writeNothing(spark, table, m.schemaJson)
      // CDF: the dropped partitions' rows as delete pre-images — opt-in
      // because it turns the metadata-only drop into one read of exactly
      // the dropped files (still never a rewrite); what lets a
      // downstream incremental view retract the retired partition
      val cdfFiles =
        if (!changeFeed) Seq.empty
        else writeCdf(spark, table, w.dataRel,
          readLive(spark, new Path(table), m, gone.toSeq.sorted)
            .withColumn("_change_type", lit("delete")))
      publish(spark, table, w, onBase(m)(p =>
        swapped("dropPartitions", p, gone, w).copy(cdf = cdfFiles)))
    }
  }

  /** Logical conflict detection for a lost commit CAS: can a computed
    * DELETE/UPDATE attempt be REBASED onto the newer `parent` instead
    * of recomputed from scratch? True iff no table-level contract moved
    * between `base` and `parent` (schema, constraints, partition
    * layout, renames, generated columns, dropped-column tombstones,
    * bloom columns) and every file the attempt MODIFIES — rewrites,
    * drops, or vectors (`touched`) — is carried into `parent`
    * unchanged: still listed, same deletion vector. Data files are
    * immutable, so the base-vs-parent comparison is exact: a touched
    * file listed in `parent` with its base vector yields the identical
    * per-file result no matter what landed in between. Concurrent
    * APPENDS and file-disjoint DML therefore cost each writer ONE
    * compute (the Delta conflict-rebase shape — without this, a
    * streaming ingest trickling appends into a 100 TB table livelocks
    * every nightly DML into O(attempts × full-DML) recomputes).
    *
    * Semantics are per-file snapshot isolation (Delta's
    * WriteSerializable stance): rows landed by the concurrent commit
    * are outside this DML's snapshot and stay untouched — a rebased
    * DELETE does not chase rows appended after its find scan.
    * `identity` is deliberately NOT compared: delete/update never
    * allocate ids, and the Attempt inherits the parent's (possibly
    * advanced) mark. Key-based MERGE never rebases: a concurrent
    * append can land a key the merge decided to INSERT, and rebasing
    * would commit the duplicate.
    */
  private def rebasable(base: Manifest, parent: Manifest,
      touched: Set[String]): Boolean = {
    val bd = base.dvs.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val pd = parent.dvs.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    val pf = parent.files.toSet
    parent.schemaJson == base.schemaJson &&
    parent.constraints.getOrElse(Map.empty) ==
      base.constraints.getOrElse(Map.empty) &&
    parent.partitionBy.getOrElse(Seq.empty) ==
      base.partitionBy.getOrElse(Seq.empty) &&
    parent.renames.getOrElse(Map.empty) == base.renames.getOrElse(Map.empty) &&
    parent.generated.getOrElse(Map.empty) ==
      base.generated.getOrElse(Map.empty) &&
    parent.dropped.getOrElse(Seq.empty) == base.dropped.getOrElse(Seq.empty) &&
    parent.bloomIndex.getOrElse(Seq.empty) ==
      base.bloomIndex.getOrElse(Seq.empty) &&
    touched.forall(f => pf(f) && bd.get(f) == pd.get(f))
  }

  /** Test-only interposition point: runs at the start of every
    * [[publish]] call, after the attempt's data is written and before
    * its first CAS, so specs can land a DETERMINISTIC concurrent commit
    * in the CAS gap of any writer (append-vs-delete rebase races,
    * constraint-change aborts, exhausted retries) without thread timing.
    * A racer that commits from the hook publishes too: the hook must
    * disarm itself, or guard against re-entry, before it does.
    */
  private[graft] var casRaceHook: () => Unit = () => ()

  /** A per-file reduction with no Exchange: each task folds its
    * `(file key, value)` rows into one row per file key with `op`, and
    * the driver folds those partials the same way — ONE job, no shuffle,
    * no AQE re-plan, and a result of at most files × tasks rows. Typed
    * `mapPartitions` + `collect` keeps it a Dataset action, so the pass
    * is a tracked SQL execution under the caller's job group.
    */
  private def foldPerFile[V](rows: Dataset[(String, V)])(op: (V, V) => V)(
      implicit enc: Encoder[(String, V)]): Map[String, V] =
    rows.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[String, V]
      it.foreach { case (k, v) => acc(k) = acc.get(k).fold(v)(op(_, v)) }
      acc.iterator
    }.collect().toSeq.groupMapReduce(_._1)(_._2)(op)

  /** What a row-level DML attempt's find step ([[findTouched]])
    * decided: the `touched` files (sorted rels, each holding a matched
    * live row), the `full` ones whose every live row matched, and, under
    * deletion vectors, the new vectors of the touched files that stay
    * (`dvEntries`). Positions never reach the driver.
    */
  private final case class Found(touched: Seq[String], full: Set[String],
      dvEntries: Option[Seq[DvEntry]]) {
    /** The files that leave the manifest: under copy-on-write every
      * touched file (rewritten), under vectors only the full ones — the
      * rest keep their unmatched rows behind a vector.
      */
    val gone: Set[String] = if (dvEntries.isEmpty) touched.toSet else full

    /** The DV list to commit against `p` — the CAS base, or a rebase
      * parent proven safe by [[rebasable]] (which guarantees every
      * touched file carries its base vector, so the entries'
      * prior-unions stay exact). None under copy-on-write: [[publish]]
      * then keeps the parent's vectors of the files that stay.
      */
    def dvsAgainst(p: Manifest): Option[Seq[DvEntry]] = dvEntries.map { es =>
      val replaced = es.map(_.path).toSet
      p.dvs.getOrElse(Seq.empty).filterNot(e => gone(e.path) || replaced(e.path)) ++ es
    }
  }

  /** The find step of every row-level DML statement: how the rows in
    * `matched` — the statement's matched LIVE rows, carrying
    * [[liveKeyed]]'s `__dv_k`/`__dv_i` — reach the files.
    *   - Copy-on-write: each scan task counts its matches per file and
    *     the driver sums the counts ([[foldPerFile]]) — one job, no
    *     shuffle. A `cond` filter over [[liveKeyed]] reads only the
    *     columns `cond` references, with `cond` pushed into the parquet
    *     reader so row-group stats skip non-matching IO. A file is
    *     `full` when its count equals its live rows.
    *   - Deletion vectors: [[composeDvsDist]] aggregates the positions
    *     per file and writes the sidecars under `dataRel`, the
    *     attempt's own data dir ([[dml]]).
    * Serves [[delete]], [[update]], [[merge]], [[replaceWhere]] and the
    * vector branch of [[mergeInto]]. `matched` is built only when the
    * manifest lists files.
    */
  private def findTouched(spark: SparkSession, t: Path, m: Manifest,
      dataRel: String, deletionVectors: Boolean)(matched: => DataFrame): Found =
    graft.DriverTimers.time("findTouched") {
      if (m.files.isEmpty) Found(Seq.empty, Set.empty, None)
      else if (deletionVectors) composeDvsDist(spark, t, m, dataRel, matched)
      else {
        import spark.implicits._
        val hits = foldPerFile(matched.select(col("__dv_k"), lit(1L))
          .as[(String, Long)])(_ + _)
        // map file keys back to table-relative manifest paths (last2 is
        // unique per live file: the part name embeds its write job's UUID)
        val byKey = byScanKey(m.files, t)
        val live = liveRowsOf(m)
        val counts = hits.toSeq.map { case (k, n) =>
          byKey.getOrElse(k, sys.error(s"scan returned unlisted file $k")) -> n }
        Found(counts.map(_._1).sorted,
          counts.collect { case (rel, n) if live.get(rel).contains(n) => rel }.toSet, None)
      }
    }

  /** Row-level DELETE (SQL `DELETE WHERE cond` semantics: a row is
    * removed iff `cond` is TRUE; NULL keeps the row), the public Delta
    * DELETE shape:
    *   1. files with no matching row are NOT touched (the find scan,
    *      [[findTouched]], reads only `cond`'s columns, with `cond`
    *      pushed to the parquet row-group stats);
    *   2. files where EVERY live row matches are dropped from the
    *      manifest without being read again;
    *   3. boundary files — some rows match, some don't — are rewritten
    *      without the matching rows, or, with `deletionVectors = true`
    *      (the modern Delta default), keep their bytes: the matching
    *      rows' parquet positions go to change-sized sidecars, and the
    *      manifest maps each file to its vector (a second delete on a
    *      vectored file unions positions).
    * At 100 TB a retention delete on a date-partitioned table is tier 2
    * for almost every touched file: metadata-only. Vectors turn a
    * GDPR-style scattered delete from "rewrite every touched GB" into
    * "one scan + KBs of positions". Every live read anti-joins the
    * positions out; rewrites (compact/zorder/copy-on-write DML)
    * materialize them; [[statsAggregate]] and the metadata-aggregate
    * rule refuse tables with vectors (per-file min/max may describe
    * deleted rows — a metadata ANSWER is never a guess, while stats
    * PRUNING stays safe because bounds only widen). Optimistic CAS
    * ([[dml]]); a lost race rebases onto a winner that left the touched
    * files alone. Returns the committed version (unchanged if nothing
    * matched).
    */
  def delete(spark: SparkSession, table: String, cond: Column,
      maxAttempts: Int = 10, changeFeed: Boolean = false,
      deletionVectors: Boolean = false): Long = {
    val t = new Path(table)
    dml(spark, table, "delete", maxAttempts) { dataRel =>
      val m = manifest(spark, table)
      val f = findTouched(spark, t, m, dataRel, deletionVectors)(
        liveKeyed(spark, t, m, m.files).filter(cond))
      if (f.touched.isEmpty) return m.version
      // CDF: the deleted rows' pre-images. Opt-in because tier-2 files
      // are otherwise never read — recording their pre-images turns the
      // metadata-only drop into a read of exactly the dropped files
      // (still never a rewrite). Written CONCURRENTLY with the data
      // write (overlapCdf — both read only the parent snapshot).
      val cdfChanges =
        if (!changeFeed) None
        else Some(readLive(spark, t, m, f.touched)
          .filter(coalesce(cond, lit(false)))
          .withColumn("_change_type", lit("delete")))
      // copy-on-write rewrites the boundary files' LIVE rows: the
      // rewrite MATERIALIZES their vectors (never carried forward)
      val rewrite = if (deletionVectors) Seq.empty else f.touched.filterNot(f.full)
      val (w, cdfFiles) = overlapCdf(spark, table, cdfChanges, dataRel) {
        if (rewrite.isEmpty) writeNothing(spark, table, m.schemaJson, Some(dataRel))
        else writeData(readLive(spark, t, m, rewrite).filter(!coalesce(cond, lit(false))),
          table, m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
      }
      // row-removing: constraints flow through unguarded. On a lost
      // CAS, REBASE onto the winner when it left our touched files (and
      // their vectors) alone — concurrent appends / file-disjoint DML
      // cost one compute each instead of a full re-derive.
      (w, onBaseOrRebase(m, f.touched.toSet)(p =>
        swapped("delete", p, f.gone, w).copy(cdf = cdfFiles, dvs = f.dvsAgainst(p))))
    }
  }

  /** Arbitrary-predicate `replaceWhere` (the Delta
    * `option("replaceWhere", …)` contract): ONE atomic commit that
    * deletes every live row matching `cond` and inserts `df`'s rows —
    * the way a backfill replaces a date range, or a restatement
    * replaces one key's history, without the delete+append gap where a
    * reader could observe the range missing. Delta's insert constraint
    * is enforced the same way: every inserted row must itself satisfy
    * `cond` (checked in-task by the same codegen'd assert the CHECK
    * constraints use — a row outside the predicate would silently
    * survive the NEXT replaceWhere of the same range), else the write
    * fails before anything commits.
    *
    * Cost shape = [[delete]]'s three tiers + one write: files with no
    * match are untouched metadata, full-match files are de-referenced
    * without being read, and only boundary files are rewritten — their
    * surviving rows ride in the SAME fresh write as the inserts, so the
    * whole operation is one find scan + one write regardless of table
    * size. `changeFeed = true` records the replaced rows as delete
    * pre-images and the inserted rows as insert post-images (kept
    * boundary rows appear as neither — the predicate partitions every
    * fresh file's rows into kept = non-matching vs inserted = matching).
    * Optimistic CAS like every writer here.
    */
  def replaceWhere(df: DataFrame, table: String, cond: Column,
      maxAttempts: Int = 10, changeFeed: Boolean = false): Long = {
    val spark = df.sparkSession
    val t = new Path(table)
    dml(spark, table, "replaceWhere", maxAttempts) { dataRel =>
      val m = manifest(spark, table)
      val cons = m.constraints.getOrElse(Map.empty)
      // in-task insert-predicate guard: fail the write, not the data
      val guarded = inbound(spark, table, df, cons)
        .filter(org.apache.spark.sql.functions.assert_true(
          coalesce(cond, lit(false)),
          lit("replaceWhere: an inserted row does not satisfy the " +
            "replacement predicate - it would silently survive the next " +
            "replaceWhere of the same range; widen the predicate or fix " +
            "the frame")).isNull)
      val f = findTouched(spark, t, m, dataRel, deletionVectors = false)(
        liveKeyed(spark, t, m, m.files).filter(cond))
      val rewrite = f.touched.filterNot(f.full)
      val toWrite =
        if (rewrite.isEmpty) guarded
        else readLive(spark, t, m, rewrite)
          .filter(!coalesce(cond, lit(false)))
          .unionByName(guarded)
      val w = writeData(toWrite, table, m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
      require(w.schemaJson == m.schemaJson,
        s"replaceWhere schema drift for $table: table has " +
          s"${m.schemaJson}, frame has ${w.schemaJson}")
      val cdfFiles =
        if (!changeFeed) Seq.empty
        else {
          val pre = readLive(spark, t, m, f.touched)
            .filter(coalesce(cond, lit(false)))
            .withColumn("_change_type", lit("delete"))
          val post = aliasLogical(toDf(spark, t, m.schemaJson, w.fresh), m)
            .filter(coalesce(cond, lit(false)))
            .withColumn("_change_type", lit("insert"))
          writeCdf(spark, table, w.dataRel, pre.unionByName(post))
        }
      (w, onBase(m)(p =>
        swapped("replaceWhere", p, f.gone, w).copy(
          cdf = cdfFiles, constraints = guardedCons(table, Some(p), cons))))
    }
  }

  /** Test-only probe: how many rows the last DV find pass collected to
    * the driver — pinned by DeletionVectorSpec to equal the TOUCHED
    * FILE count (one descriptor per file, never one per changed row).
    */
  private[graft] val lastDvFindCollected =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** [[findTouched]] under deletion vectors: turn the matched
    * `(__dv_k, __dv_i)` rows into this commit's DV state WITHOUT
    * collecting positions to the driver: the positions are aggregated
    * per file executor-side, unioned with any prior vector (physical
    * parquet row indexes are stable for an immutable file), encoded,
    * and each sidecar is written FROM THE TASK under `dataRel/_dv/` —
    * the driver collects exactly ONE descriptor row per touched file.
    * A 1% delete on a 100 TB table therefore moves ~10⁹ positions
    * through executors (bounded per task by one file's row count) and
    * ~10⁵ descriptor rows through the driver, not the other way round —
    * the Delta DV-write shape.
    * Files whose every live row matched are dropped outright (decided
    * in-task from the broadcast live-row counts; no sidecar written).
    * `dataRel` must be the commit's OWN data dir ([[dml]]), which the
    * data write appends into, so an abandoned attempt cleans the
    * sidecars up with it; the sidecar name is a digest of the data
    * file's rel, making task retries idempotent.
    */
  private def composeDvsDist(spark: SparkSession, t: Path, m: Manifest,
      dataRel: String, matched: DataFrame): Found = {
    import spark.implicits._
    val byKey = byScanKey(m.files, t)
    val live = liveRowsOf(m)
    val oldDv = m.dvs.getOrElse(Seq.empty).map(e => e.path -> e.dv).toMap
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val tqStr = fs(spark, t).makeQualified(t).toString
    val perFile: Array[(String, String, Long)] = try matched
      .select(col("__dv_k"), col("__dv_i"))
      .groupBy(col("__dv_k"))
      .agg(collect_list(col("__dv_i")).as("__ps"))
      .as[(String, Seq[Long])]
      .map { (kp: (String, Seq[Long])) =>
        val (key, ps0) = kp
        val rel = byKey.getOrElse(key,
          sys.error(s"scan returned unlisted file $key"))
        val ps = ps0.distinct
        if (live.get(rel).contains(ps.size.toLong)) (rel, "", 0L)
        else {
          val base = new Path(tqStr)
          val f = base.getFileSystem(confBc.value.value)
          val prior = oldDv.get(rel)
            .map(dv => readDvFileFs(f, base, dv)).getOrElse(Seq.empty)
          val union = (prior ++ ps).distinct.sorted
          val dvRel = s"$dataRel/_dv/${dvSidecarName(rel)}"
          // write-to-temp + rename-if-absent, never create(overwrite)
          // at the final path: a speculative twin or zombie attempt
          // that is still running when the winning collect() returns
          // could otherwise TRUNCATE a published sidecar mid-rewrite
          // and hand a post-commit reader a torn .dv file. The name is
          // a rel-digest and the content deterministic (same snapshot,
          // same positions, sorted), so "already exists" IS success —
          // any attempt's file is byte-identical
          val target = new Path(base, dvRel)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId).getOrElse(0L)
          val tmp = new Path(base, s"$dvRel.a$attempt.tmp")
          val out = f.create(tmp, true)
          try out.write(encodeDv(union)) finally out.close()
          try {
            val fc = FileContext.getFileContext(base.toUri, confBc.value.value)
            renameIfAbsent(fc, f, tmp, target)
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException =>
              f.delete(tmp, false) // a twin attempt won with the same bytes
          }
          (rel, dvRel, union.size.toLong)
        }
      }
      .collect() // ONE row per touched FILE — the only driver structure
    finally confBc.destroy()
    lastDvFindCollected.set(perFile.length.toLong)
    val newEntries = perFile.toSeq.collect { case (rel, dv, n) if dv.nonEmpty =>
      DvEntry(rel, dv, n) }.sortBy(_.path)
    Found(perFile.map(_._1).toSeq.sorted,
      perFile.collect { case (rel, "", _) => rel }.toSet, Some(newEntries))
  }

  /** Fail an UPDATE's `set` that names a column `m` lacks, assigns a
    * column twice, or assigns a generated column (those derive).
    */
  private def checkUpdate(table: String, m: Manifest,
      set: Seq[(String, Column)]): Unit = {
    val schema = logicalSchema(m)
    val gen = m.generated.getOrElse(Map.empty)
    set.foreach { case (name, _) =>
      require(schema.fieldNames.contains(name),
        s"table $table has no column '$name' " +
          s"(schema: ${schema.fieldNames.mkString(", ")})")
      require(!gen.contains(name),
        s"cannot UPDATE generated column '$name' of $table — it derives " +
          s"from (${gen(name)})")
    }
    val twice = set.map(_._1).diff(set.map(_._1).distinct)
    require(twice.isEmpty,
      s"update of $table assigns ${twice.distinct.mkString(", ")} more than once")
  }

  /** An UPDATE's row images over `live` (live rows of `m`, logical
    * names): every assignment and `cond` evaluated against the
    * PRE-update row in ONE projection — `SET a = b, b = a` swaps, and an
    * assignment to a column `cond` reads cannot un-match the row for
    * the other assignments — then `m`'s generated columns re-derived
    * from the post-update values. Each table column holds its
    * POST-image (assigned where `cond` is TRUE; NULL does not match),
    * `__hit` whether `cond` held, and `__pre_<i>` the i-th column's
    * PRE-image. The data write ([[postImages]]) and the change feed
    * ([[updateFeed]]) both read this frame, so they cannot disagree.
    */
  private def updateImages(live: DataFrame, m: Manifest, cond: Column,
      set: Seq[(String, Column)]): DataFrame = {
    val schema = logicalSchema(m)
    val fields = schema.fields.toSeq
    val hit = coalesce(cond, lit(false))
    val assign = set.toMap
    val assigned = live.select(fields.map { f =>
      val old = col(quoted(f.name))
      assign.get(f.name)
        .fold(old)(e => when(hit, e.cast(f.dataType)).otherwise(old)).as(f.name)
    } ++ fields.indices.map(i => col(quoted(fields(i).name)).as(s"__pre_$i")) :+
      hit.as("__hit"): _*)
    m.generated.getOrElse(Map.empty).toSeq.sortBy(_._1)
      .foldLeft(assigned) { case (acc, (c, sql)) =>
        acc.withColumn(c, org.apache.spark.sql.functions.expr(sql)
          .cast(schema(c).dataType))
      }
  }

  /** The post-update rows of [[updateImages]], in table order. */
  private def postImages(images: DataFrame, m: Manifest): DataFrame =
    images.select(logicalSchema(m).fieldNames.map(n => col(quoted(n))): _*)

  /** UPDATE's change feed as ONE projection of [[updateImages]]: the
    * matched rows are filtered once and each explodes into its
    * `update_preimage` and `update_postimage` — one scan of the touched
    * rows, where a union of the two images scanned them twice (and
    * wrote twice the CDF files).
    */
  private def updateFeed(images: DataFrame, m: Manifest): DataFrame = {
    val names = logicalSchema(m).fieldNames.toSeq
    def image(cols: Seq[Column], kind: String): Column =
      struct(cols :+ lit(kind).as("_change_type"): _*)
    images.filter(col("__hit"))
      .select(explode(array(
        image(names.indices.map(i => col(s"__pre_$i").as(names(i))), "update_preimage"),
        image(names.map(n => col(quoted(n))), "update_postimage"))).as("__img"))
      .select("__img.*")
  }

  /** Row-level UPDATE (SQL `UPDATE SET col = expr WHERE cond`
    * semantics: assignments apply iff `cond` is TRUE, and every
    * assignment reads the PRE-update row — [[updateImages]]). Files with
    * no matching row are never touched — the same find pass as
    * [[delete]] ([[findTouched]]) — and each assignment is cast back to
    * the column's declared type, so an UPDATE can never drift the table
    * schema out from under the older files. Copy-on-write rewrites every
    * touched file with the assignments applied; `deletionVectors = true`
    * vectors the matched rows' old positions out of their files and
    * writes only their post-images — cost proportional to the rows
    * UPDATED, not the files touched (a scattered 0.01% update of a
    * 100 TB table moves KBs of positions plus the updated rows), and
    * drops a file whose every live row matched instead of vectoring it.
    * Optimistic CAS ([[dml]]); a lost race rebases like [[delete]].
    */
  def update(spark: SparkSession, table: String, cond: Column,
      set: Seq[(String, Column)], maxAttempts: Int = 10,
      changeFeed: Boolean = false, deletionVectors: Boolean = false): Long = {
    require(set.nonEmpty, "update needs at least one assignment")
    val t = new Path(table)
    dml(spark, table, "update", maxAttempts) { dataRel =>
      val m = manifest(spark, table)
      checkUpdate(table, m, set)
      val f = findTouched(spark, t, m, dataRel, deletionVectors)(
        liveKeyed(spark, t, m, m.files).filter(cond))
      if (f.touched.isEmpty) return m.version
      // live rows: a rewrite MATERIALIZES any deletion vectors on the
      // touched files (a deleted row must not resurrect updated); under
      // vectors only the matched rows' post-images are written
      val all = updateImages(readLive(spark, t, m, f.touched), m, cond, set)
      val images = if (deletionVectors) all.filter(col("__hit")) else all
      // assignments can violate a CHECK constraint — enforce on the
      // written rows like any other row-changing write
      val cons = m.constraints.getOrElse(Map.empty)
      // CDF: the matched rows' update_preimage/update_postimage pairs
      // as one projection of the written rows' own images
      // ([[updateFeed]]) — independent of the fresh write's output, so
      // it runs CONCURRENTLY with it (overlapCdf)
      val cdfChanges =
        if (!changeFeed) None else Some(updateFeed(images, m))
      val (w, cdfFiles) = overlapCdf(spark, table, cdfChanges, dataRel) {
        writeData(enforcing(postImages(images, m), cons), table,
          m.partitionBy.getOrElse(Seq.empty), Some(dataRel))
      }
      // lost CAS: rebase onto a winner that left our touched files
      // alone (rebasable guarantees constraints are unchanged too, so
      // the guardedCons stance is preserved by construction)
      (w, onBaseOrRebase(m, f.touched.toSet)(p =>
        swapped("update", p, f.gone, w).copy(cdf = cdfFiles,
          constraints = guardedCons(table, Some(p), cons),
          dvs = f.dvsAgainst(p))))
    }
  }

  /** Change feed over an append-only stretch of history: every row
    * committed AFTER `sinceVersion`, read straight from the files those
    * commits added (appends never remove files, so the file-set diff IS
    * the row diff — no row-level comparison, no full-table read; an
    * incremental consumer's cost is proportional to the new data).
    * Throws if any commit after `sinceVersion` is not an append
    * (overwrite/delete/compact rewrite files — a file-set diff would
    * misreport rewritten rows as new), or if `sinceVersion` predates
    * the retained history ([[vacuum]]).
    */
  def readAppendsSince(spark: SparkSession, table: String,
      sinceVersion: Long): DataFrame = {
    val t = new Path(table)
    val from = readManifest(spark, t, sinceVersion)
    val later = versions(spark, table).filter(_ > sinceVersion).sorted
      .map(readManifest(spark, t, _))
    // per-version walk, not an endpoints diff: a row-preserving rewrite
    // in the range (OPTIMIZE, REORG PURGE) introduces files that are
    // NOT new rows — attribute each file to the commit that added it
    // and take only the append versions' additions
    var prev = from.files.toSet
    val added = Seq.newBuilder[String]
    later.foreach { m =>
      if (m.action == "append") added ++= m.files.filterNot(prev)
      else if (!rowPreservingActions(m.action))
        sys.error(s"readAppendsSince($sinceVersion): version ${m.version} " +
          s"is '${m.action}', not an append — its rewrites change the row " +
          "set; re-baseline from a snapshot read")
      prev = m.files.toSet
    }
    later.lastOption match {
      case None => aliasLogical(toDf(spark, t, from.schemaJson, Seq.empty), from)
      case Some(to) => aliasLogical(toDf(spark, t, to.schemaJson, added.result()), to)
    }
  }

  /** `RESTORE TABLE ... TO VERSION AS OF toVersion` (the public Delta
    * RESTORE shape): roll the table back by committing a NEW version
    * whose state — file list, stats, schema, and CHECK constraints — is
    * exactly `toVersion`'s. Rolling FORWARD through history is
    * preserved: the bad versions stay readable via [[readAsOf]] until
    * [[vacuum]], and the restore itself is an ordinary commit (an
    * auditable `restore` row in [[history]], not a log rewrite). No
    * data file is copied or rewritten — the commit re-references
    * `toVersion`'s immutable files, so restoring a 100 TB table is a
    * metadata-only operation, and vacuum keeps those files alive for as
    * long as the restore version survives.
    *
    * The parent's `txn` watermarks are KEPT (not restored): regressing
    * them would let a restarted streaming writer double-land batches it
    * already committed — the one piece of state that must only move
    * forward. Like all zero-data-file commits, a lost-ack retry can
    * land a second, content-identical restore version (idempotent).
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val t = new Path(table)
    val target = readManifest(spark, t, toVersion) // loud if vacuumed/missing
    val w = writeNothing(spark, table, target.schemaJson)
    publish(spark, table, w, parent =>
      Some(Attempt("restore", target.files,
        target.stats.getOrElse(Seq.empty),
        parent.flatMap(_.txn).getOrElse(Map.empty),
        schemaJson = Some(target.schemaJson),
        constraints = target.constraints.getOrElse(Map.empty),
        // explicit: restoring to a pre-partitioning (or differently
        // partitioned) version restores THAT layout, not the parent's
        partitionBy = Some(target.partitionBy.getOrElse(Seq.empty)),
        // ... and THAT version's deletion vectors and generated-column
        // declarations, not the parent's
        dvs = Some(target.dvs.getOrElse(Seq.empty)),
        generated = Some(target.generated.getOrElse(Map.empty)),
        dropped = Some(target.dropped.getOrElse(Seq.empty)),
        identity = Some(target.identity.getOrElse(Map.empty)),
        renames = Some(target.renames.getOrElse(Map.empty)),
        properties = Some(target.properties.getOrElse(Map.empty))))).get
  }

  // ---------------------------------------------------------------------
  // Table properties (the TBLPROPERTIES surface)
  // ---------------------------------------------------------------------

  /** The table property that routes SQL DELETE/UPDATE/MERGE through the
    * deletion-vector paths (the Delta
    * `delta.enableDeletionVectors`-equivalent knob): SQL statements carry
    * no per-call option, so the table declares the DML cost shape once.
    */
  val dvPropertyKey = "graft.dml.deletionVectors"

  /** Current table properties (empty when none were ever set). */
  def propertiesOf(spark: SparkSession, table: String): Map[String, String] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.properties).getOrElse(Map.empty)

  /** Whether SQL DML on `table` should take the deletion-vector paths. */
  def dmlDeletionVectors(spark: SparkSession, table: String): Boolean =
    propertiesOf(spark, table).get(dvPropertyKey).exists(_.toBoolean)

  /** The table property that makes SQL DML record its row-level change
    * data (the Delta `delta.enableChangeDataFeed` parity knob): with it
    * set, [[readChangeFeed]] works across SQL DELETE/UPDATE/MERGE
    * commits instead of failing loudly on an unrecorded rewrite.
    */
  val cfPropertyKey = "graft.dml.changeFeed"

  /** Whether SQL DML on `table` should record the change data feed. */
  def dmlChangeFeed(spark: SparkSession, table: String): Boolean =
    propertiesOf(spark, table).get(cfPropertyKey).exists(_.toBoolean)

  /** `SHOW TBLPROPERTIES` as a frame: (key, value), one row per
    * property — the SQL-facing read of [[propertiesOf]].
    */
  def properties(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    propertiesOf(spark, table).toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** `ALTER TABLE … SET TBLPROPERTIES(key = value)` — a metadata-only
    * commit; properties inherit through every subsequent commit and
    * restore/clone carry them like the other table-level declarations.
    */
  def setProperty(spark: SparkSession, table: String, key: String,
      value: String): Long =
    alterMetadata(spark, table, "set_property") { (m, carried) =>
      carried.copy(properties = Some(m.properties.getOrElse(Map.empty) + (key -> value)))
    }

  /** `ALTER TABLE … UNSET TBLPROPERTIES(key)` (no-op if absent). */
  def unsetProperty(spark: SparkSession, table: String, key: String): Long =
    alterMetadata(spark, table, "unset_property") { (m, carried) =>
      carried.copy(properties = Some(m.properties.getOrElse(Map.empty) - key))
    }

  /** Commits whose LIVE row set is provably identical to their
    * parent's (Delta's `dataChange = false` class): bin-packing /
    * clustering rewrites, DV materialization (those rows died in an
    * earlier commit that recorded its own changes), and every
    * metadata-only schema / property / constraint change. The change
    * feed emits nothing for them and the streaming source skips them
    * WITHOUT `ignoreChanges` — a nightly OPTIMIZE must never kill the
    * table's streaming consumers or force them onto the
    * skip-real-changes escape hatch.
    */
  private[graft] val rowPreservingActions: Set[String] = Set(
    "compact", "zorder", "purge",
    "addConstraint", "dropConstraint",
    "set_bloom_index", "drop_bloom_index",
    "set_generated", "drop_generated",
    "set_identity", "drop_identity",
    "drop_column", "rename_column", "add_columns", "alter_column",
    "set_property", "unset_property")

  /** The row-preserving commits that nonetheless CHANGE the read
    * schema. The batch change feed handles them (each version reads
    * under its own schema, the union coerces), but a STREAMING source's
    * schema is fixed at query start — silently passing a rename would
    * null-fill the old name and a widened column would cast back down
    * (overflow wraps), so the stream fails loudly on these instead and
    * a restart re-snapshots under the new schema (the Delta streaming
    * contract for schema change). `add_columns` is NOT here: a new
    * column is projected away by the fixed schema, which loses nothing
    * the stream ever promised.
    */
  private[graft] val schemaChangingActions: Set[String] = Set(
    "drop_column", "rename_column", "alter_column")

  /** Row-level change data feed (the public Delta CDF shape): every
    * change committed in `(sinceVersion, untilVersion]`, as table rows
    * plus `_change_type` (`insert` / `delete` / `update_preimage` /
    * `update_postimage`) and `_commit_version`. Appends need no
    * recorded changes — their added files ARE the inserts; deletes and
    * updates must have been committed with `changeFeed = true`, and any
    * other rewrite in the range (overwrite/compact/merge, or DML
    * without recorded changes) fails loudly — silently misreporting a
    * rewrite as row changes is the one thing a CDF must never do.
    * Cost ∝ the change volume, never table size. Downstream, this is
    * what keeps an incremental materialization exact across DML: fold
    * inserts and update_postimages in, retract deletes and
    * update_preimages. `skipUnrecorded = true` (the streaming
    * `ignoreChanges` escape hatch) silently SKIPS change-less rewrite
    * versions instead of failing — the caller is declaring the feed may
    * be incomplete.
    */
  def readChangeFeed(spark: SparkSession, table: String, sinceVersion: Long,
      untilVersion: Option[Long] = None,
      skipUnrecorded: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val t = new Path(table)
    val until = untilVersion.orElse(latestVersion(spark, table)).getOrElse(
      sys.error(s"table $table has no committed versions"))
    require(until >= sinceVersion,
      s"readChangeFeed: until ($until) precedes since ($sinceVersion)")
    var prevFiles = readManifest(spark, t, sinceVersion).files.toSet
    val parts = ((sinceVersion + 1) to until).flatMap { v =>
      val m = readManifest(spark, t, v)
      val piece: Option[DataFrame] = (m.action, m.cdf) match {
        case ("append", _) =>
          Some(aliasLogical(
            toDf(spark, t, m.schemaJson, m.files.filterNot(prevFiles)), m)
            .withColumn("_change_type", lit("insert")))
        case (_, Some(cdfFiles)) =>
          // CDF files are written from logical-named frames, so they
          // read back under the committing manifest's logical schema
          val schema = logicalSchema(m).add("_change_type", StringType)
          Some(spark.read.schema(schema)
            .parquet(cdfFiles.map(new Path(t, _).toString): _*))
        // row-preserving commits (OPTIMIZE bin-packing/z-order, REORG
        // PURGE, constraint / property / schema-metadata changes) have
        // a provably EMPTY row-change set — the feed skips them without
        // needing anything recorded (Delta's dataChange=false files)
        case (a, None) if rowPreservingActions(a) => None
        case (_, None) if skipUnrecorded => None
        case (other, None) => sys.error(
          s"readChangeFeed: version $v is '$other' with no recorded change " +
            "data — commit DML with changeFeed = true (rewrites like " +
            "overwrite/compact/merge never record one); re-baseline from a " +
            "snapshot read instead")
      }
      prevFiles = m.files.toSet
      piece.map(_.withColumn("_commit_version", lit(v)))
    }
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val m = readManifest(spark, t, until)
        aliasLogical(toDf(spark, t, m.schemaJson, Seq.empty), m)
          .withColumn("_change_type", lit(null).cast("string"))
          .withColumn("_commit_version", lit(null).cast("long"))
      }
  }

  /** The data files + stats of one not-yet-published commit attempt. */
  private[sources] final case class Written(dataRel: String, fresh: Seq[String],
      stats: Seq[FileEntry], schemaJson: String,
      partitionBy: Seq[String] = Seq.empty)

  /** A commit attempt that adds NO data files: a delete whose every
    * touched file was dropped whole, a DV delete, [[dropPartitions]],
    * every metadata-only commit ([[alterMetadata]]), [[restore]],
    * [[clone]] and [[convert]]. Nothing is written; the unused dataRel
    * keeps [[publish]]'s bookkeeping uniform (abandoning it deletes a
    * directory that never existed — a no-op). The lost-ack
    * disambiguator cannot recognize a zero-file commit by its data dir,
    * so a lost-ack retry composes against a parent that already holds
    * the commit: a delete or drop re-derives and finds nothing left to
    * do, a metadata edit re-applies or its check refuses it loudly,
    * restore lands a content-identical version, clone refuses the now
    * non-empty target, and convert accepts the identical winner.
    */
  private def writeNothing(spark: SparkSession, table: String,
      schemaJson: String, dataRel: Option[String] = None): Written =
    Written(dataRel.getOrElse(newDataRel()), Seq.empty, Seq.empty,
      schemaJson)

  /** A fresh commit-private data dir name. Row-level DML ([[dml]])
    * picks it BEFORE the find pass so the executor-written sidecars land
    * under the same dir the data write and the cleanups use.
    */
  private def newDataRel(): String = s"data/${java.util.UUID.randomUUID()}"

  /** What a commit wants to publish, composed against the current parent.
    * `schemaJson` overrides the written frame's schema as the manifest
    * schema: a schema-evolving append sets it to the merged schema, and
    * every metadata-only commit ([[alterMetadata]]) to its parent's,
    * edited or not.
    * `cdf` lists this commit's change-data files (delete/update with
    * `changeFeed = true`); `constraints` is the FULL constraint map the
    * committed manifest carries (composers thread the parent's through,
    * [[addConstraint]]/[[dropConstraint]] edit it).
    */
  private final case class Attempt(action: String, files: Seq[String],
      stats: Seq[FileEntry], txn: Map[String, Long],
      schemaJson: Option[String] = None,
      cdf: Seq[String] = Seq.empty,
      constraints: Map[String, String] = Map.empty,
      partitionBy: Option[Seq[String]] = None,
      bloomIndex: Option[Seq[String]] = None,
      // None = inherit the parent's deletion vectors RESTRICTED to this
      // attempt's file list (universally right for carries and
      // DV-materializing rewrites: a file dropped from `files` sheds its
      // DV, a surviving file keeps it); Some = exactly these (the
      // DV-writing delete, restore, clone)
      dvs: Option[Seq[DvEntry]] = None,
      // generated-column table property: None inherits, only
      // set/dropGeneratedColumn, restore, and clone pass Some
      generated: Option[Map[String, String]] = None,
      // dropped-column tombstones: None inherits, only dropColumn,
      // restore, and clone pass Some
      dropped: Option[Seq[String]] = None,
      // identity allocation state: None inherits, identity-assigning
      // appends / setIdentityColumn / restore / clone pass Some
      identity: Option[Map[String, IdentitySpec]] = None,
      // column-mapping renames (PHYSICAL -> current LOGICAL name):
      // None inherits, only renameColumn / restore / clone pass Some
      renames: Option[Map[String, String]] = None,
      // free-form table properties (TBLPROPERTIES): None inherits, only
      // setProperty / restore / clone pass Some
      properties: Option[Map[String, String]] = None)

  /** The optimistic-commit loop every retrying writer shares: run
    * `attempt` (snapshot, compute, write, [[publish]]) until one returns
    * a result. `None` is an attempt that lost the commit race and was
    * abandoned (its data dir deleted); the next attempt re-derives
    * against the new latest snapshot.
    */
  private def optimistic[T](table: String, op: String, maxAttempts: Int)(
      attempt: => Option[T]): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    Iterator.fill(maxAttempts)(attempt).collectFirst { case Some(v) => v }
      .getOrElse(sys.error(s"$op on $table lost the commit race $maxAttempts " +
        "times (pathological write contention); re-run or serialize writers"))
  }

  /** The optimistic loop of a row-level DML statement ([[delete]],
    * [[update]], [[merge]], [[mergeInto]], [[replaceWhere]]). Each
    * attempt picks a fresh commit-private `data/<uuid>/` dir and hands
    * it to `stage` — the find step ([[findTouched]]) writes deletion
    * vectors under it, the data and change-feed writes land in it —
    * which returns the written files and the manifest composer for
    * [[publish]]; an attempt that commits nothing `return`s from the
    * statement instead. If `stage` throws (a CHECK violation in the
    * write, a cancelled job group), the dir is deleted before the
    * exception leaves, once [[overlapCdf]] has drained its CDF job and
    * every task of the attempt's jobs has ended ([[awaitTasks]]), so no
    * write of the attempt is still landing in it. [[publish]] runs
    * outside that guard: it deletes the dir itself on a lost race or a
    * throw before its rename lands, and a post-commit hook can throw
    * after the rename has landed, when the dir is committed data.
    *
    * Cancelling: the statement's jobs run in the caller's job group,
    * and `cancelJobGroup` cancels only the jobs running at that moment.
    * Cancelled during a change-feed statement's CDF job, it lets the
    * data write that [[overlapCdf]] submits after that job run to its
    * end before the statement fails. Callers should cancel with
    * `cancelJobGroupAndFutureJobs`, which also stops the jobs the
    * group submits later.
    */
  private def dml(spark: SparkSession, table: String, op: String,
      maxAttempts: Int)(
      stage: String => (Written, Option[Manifest] => Option[Attempt])): Long =
    optimistic(table, op, maxAttempts) {
      val dataRel = newDataRel()
      val sc = spark.sparkContext
      val tag = s"graft-dml-${dataRel.stripPrefix("data/")}"
      sc.addJobTag(tag)
      val (w, compose) =
        try stage(dataRel)
        catch { case e: Throwable
            if !e.isInstanceOf[scala.util.control.ControlThrowable] =>
          try {
            awaitTasks(spark, tag)
            val f = fs(spark, new Path(table))
            f.delete(new Path(f.makeQualified(new Path(table)), dataRel), true)
          } catch { case scala.util.control.NonFatal(d) => e.addSuppressed(d) }
          throw e
        } finally sc.removeJobTag(tag)
      publish(spark, table, w, compose)
    }

  /** Wait, for at most a minute, until every job tagged `tag` has ended
    * and none of its tasks has run for a quiet period. A failed or
    * cancelled job returns to its caller before its killed tasks end,
    * and a task that ends late can still create its output dirs. The
    * status store learns of a job's start before any of its tasks
    * launch, but a task launched while its job is being cancelled
    * reports its start only after the job's end — the quiet period
    * covers that gap.
    */
  private def awaitTasks(spark: SparkSession, tag: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def busy: Boolean = st.getJobIdsForTag(tag).exists(id =>
      st.getJobInfo(id).exists(j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
          j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))))
    val quietNs = 200L * 1000 * 1000
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < quietNs && System.nanoTime() < deadline) {
      Thread.sleep(10)
      if (busy) quietSince = System.nanoTime()
    }
  }

  /** Compose `att` against exactly the snapshot `base` the attempt was
    * computed from; any other parent abandons the attempt for a
    * re-derive (the stale result would silently drop the winner's rows).
    */
  private def onBase(base: Manifest)(
      att: Manifest => Attempt): Option[Manifest] => Option[Attempt] =
    parent => parent.filter(_.version == base.version).map(_ => att(base))

  /** [[onBase]], but a newer parent that left every `touched` file
    * alone ([[rebasable]]) is composed against instead of abandoned:
    * DELETE and UPDATE rebase onto concurrent appends and file-disjoint
    * DML rather than recompute.
    */
  private def onBaseOrRebase(base: Manifest, touched: Set[String])(
      att: Manifest => Attempt): Option[Manifest] => Option[Attempt] = {
    case Some(p) if p.version == base.version => Some(att(base))
    case Some(p) if rebasable(base, p, touched) => Some(att(p))
    case _ => None
  }

  /** `p` with its `gone` files (and their stats) swapped for `w`'s fresh
    * ones; `p`'s txn watermarks and constraints carried.
    */
  private def swapped(action: String, p: Manifest, gone: Set[String],
      w: Written): Attempt =
    Attempt(action, p.files.filterNot(gone) ++ w.fresh,
      p.stats.getOrElse(Seq.empty).filterNot(e => gone(e.path)) ++ w.stats,
      p.txn.getOrElse(Map.empty),
      constraints = p.constraints.getOrElse(Map.empty))

  /** A metadata-only commit: `edit` gets the CAS parent and that
    * parent's files, stats, txn, constraints and schema as a carried
    * [[Attempt]], and returns it with the table-level state it changes.
    * A lost race re-runs `edit` against the new parent, so nothing a
    * concurrent commit changed is ever republished stale. The table
    * must exist before anything is published: `current` is a snapshot
    * the caller already read, else it is read here.
    */
  private def alterMetadata(spark: SparkSession, table: String,
      action: String, current: Option[Manifest] = None)(
      edit: (Manifest, Attempt) => Attempt): Long = {
    val w = writeNothing(spark, table,
      current.getOrElse(manifest(spark, table)).schemaJson)
    publish(spark, table, w, parent => {
      val m = parent.getOrElse(sys.error(s"table $table has no committed versions"))
      Some(edit(m, swapped(action, m, Set.empty, w).copy(schemaJson = Some(m.schemaJson))))
    }).get
  }

  /** Write a change-data frame under the commit's own data directory
    * (`<dataRel>/_cdf/`): invisible to snapshot readers (only
    * manifest-LISTED files are ever planned), cleaned up with the data
    * dir if the commit is abandoned, and referenced by the manifest's
    * `cdf` field when it publishes.
    */
  private def writeCdf(spark: SparkSession, table: String, dataRel: String,
      changes: DataFrame): Seq[String] = graft.DriverTimers.time("writeCdf") {
    val f = fs(spark, new Path(table))
    val t = f.makeQualified(new Path(table))
    val rel = s"$dataRel/_cdf"
    val dir = new Path(t, rel)
    txWriter(changes.write).parquet(dir.toString)
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n")
  }

  /** Daemon pool for the CDF side of [[overlapCdf]] — one extra Spark
    * action in flight at a time is all a single commit ever needs. Its
    * threads are shared by every caller, so each callable runs with its
    * caller's thread-locals (see [[overlapCdf]]), never the ones a
    * thread inherited from whoever first created it.
    */
  private lazy val cdfPool = java.util.concurrent.Executors.newFixedThreadPool(
    2,
    (r: Runnable) => {
      val t = new Thread(r, "graft-cdf-write")
      t.setDaemon(true)
      t
    })

  /** Run one commit's DATA write and CDF write as CONCURRENT Spark
    * actions, overlapping two independent jobs: the change-data
    * frame reads only the parent snapshot's files (and a MERGE's
    * source), never the fresh write's output, so the two jobs are
    * independent, and each carries ~0.2 s of fixed write-command cost
    * that otherwise serializes on the driver. Callers: [[delete]],
    * [[update]] and the general [[mergeInto]], in both write modes.
    * Writers whose feed reads the fresh files (insert-only MERGE,
    * `replaceWhere`, `overwritePartitions`) stay sequential and do not
    * come here.
    *
    * Both land under the attempt's commit-private `dataRel` (same
    * abandonment unit, [[dml]]): the CDF under `_cdf/`, while `write`
    * appends into the dir. The data write's fresh-file listing excludes
    * the `_cdf`/`_dv` subdirs, so a CDF file that lands first can never
    * be mistaken for data. With no change feed, only `write` runs.
    *
    * The CDF job runs on [[cdfPool]] with the caller's thread-locals
    * captured and restored around it (`SQLExecution
    * .withThreadLocalCaptured`: local properties, active session): it
    * carries the caller's job group, so `cancelJobGroup` reaches it.
    */
  private[sources] def overlapCdf(spark: SparkSession, table: String,
      changes: Option[DataFrame], dataRel: String)(
      write: => Written): (Written, Seq[String]) =
    changes match {
      case None => (write, Seq.empty)
      case Some(ch) =>
        val fut = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], cdfPool)(
          writeCdf(spark, table, dataRel, ch))
        val w =
          try write
          catch { case e: Throwable =>
            // let the CDF job drain before propagating, so abandon/retry
            // never races a write into the dir it is about to delete
            drain(fut)
            throw e
          }
        val cdf =
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        (w, cdf)
    }

  /** Wait for `fut` to finish, ignoring its outcome. An interrupt that
    * arrives meanwhile does not cut the wait short; it is re-asserted on
    * the thread afterwards, so the caller still sees it.
    */
  private def drain(fut: java.util.concurrent.Future[_]): Unit = {
    var interrupted = false
    var done = false
    while (!done) {
      try { fut.get(); done = true }
      catch {
        case _: InterruptedException => interrupted = true
        case _: Throwable => done = true
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Dir-name sentinel Spark's writer uses for a NULL (or empty-string)
    * partition value.
    */
  val nullPartition = "__HIVE_DEFAULT_PARTITION__"

  private val gpPrefix = "__gp_"

  /** Undo the writer's `%XX` dir-name escaping (Hive path escaping —
    * the inverse of what `partitionBy` applies to special characters
    * in partition values).
    */
  private def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse a table-relative file path's partition values from its
    * `__gp_<col>=<value>` directory segments (between `data/<uuid>/` and
    * the file name); None for a flat (unpartitioned) path.
    */
  private def partValuesOf(rel: String): Option[Map[String, String]] = {
    val segs = rel.split('/')
    val kvs = segs.drop(2).dropRight(1)
    if (kvs.isEmpty) None
    else Some(kvs.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > gpPrefix.length && seg.startsWith(gpPrefix),
        s"unexpected partition directory segment '$seg' in $rel")
      seg.substring(gpPrefix.length, eq) -> unescapePath(seg.substring(eq + 1))
    }.toMap)
  }

  /** Write the frame's data files under a fresh `data/<uuid>/` dir and
    * collect their stats. Nothing is visible until [[publish]] lands a
    * manifest referencing them.
    *
    * With `partitionBy` non-empty the write lays files out Hive-style —
    * but each partition column is DUPLICATED under a `__gp_` name and
    * the write partitions on the duplicates: the writer consumes those
    * into the directory layout while the ORIGINALS stay inside every
    * file. Reads therefore remain one flat parquet scan over the
    * manifest's file list (no partition discovery, no per-partition
    * unions, no basePath coupling), per-file stats give min=max=value
    * on the partition columns for free (stats skipping IS partition
    * pruning), and the directory names only feed the manifest's
    * per-file `parts` metadata — which the exact partition operations
    * ([[overwritePartitions]], [[dropPartitions]], [[readPartition]])
    * plan from without touching data.
    */
  /** Table property declaring CLUSTER-ON-WRITE columns (logical names,
    * comma-separated) — the Delta clustered-table/liquid-style knob:
    * every write sorts its rows along the Morton curve of the declared
    * columns WITHIN each write task before landing, so fresh files get
    * tight row-group and file min/max boxes from day one. No extra
    * shuffle and no second pass over the incoming frame: the curve's
    * ranges come from the MANIFEST's existing per-file stats (metadata
    * only; out-of-range values clamp to the grid edge), and the first
    * write of a stat-less table falls back to a lexicographic in-task
    * sort. The full re-cluster across files remains
    * [[zorderOptimize]]'s job.
    */
  val clusterByKey = "graft.clusterBy"

  /** Companion property choosing the cluster-on-write curve:
    * "morton" (default) or "hilbert" ([[Layout.hilbertValueN]]).
    */
  val clusterCurveKey = "graft.clusterBy.curve"

  /** Apply the cluster-on-write sort if `m` declares it and every
    * declared column is present and numeric in the (physical-named)
    * frame — otherwise the frame passes through untouched (a reshaping
    * overwrite or schema evolution must not be blocked by a layout
    * hint).
    */
  private def clusterOnWrite(mOpt: Option[Manifest],
      ren: Map[String, String], df: DataFrame): DataFrame = {
    val m = mOpt.getOrElse(return df)
    val logical = m.properties.getOrElse(Map.empty).get(clusterByKey)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    if (logical.isEmpty) return df
    val phys = logical.map(l =>
      ren.collectFirst { case (p, ll) if ll == l => p }.getOrElse(l))
    if (!phys.forall(c => df.columns.contains(c) &&
        df.schema(c).dataType.isInstanceOf[NumericType])) return df
    val stats = m.stats.getOrElse(Seq.empty)
    def rangeOf(c: String): Option[(Double, Double)] = {
      val vals = stats.flatMap(_.stats.get(c))
      val los = vals.flatMap(_.min).flatMap(s => s.toDoubleOption)
      val his = vals.flatMap(_.max).flatMap(s => s.toDoubleOption)
      if (los.isEmpty || his.isEmpty) None else Some((los.min, his.max))
    }
    val ranges = phys.map(rangeOf)
    if (ranges.forall(_.isDefined)) {
      val dims = phys.zip(ranges.flatten).map { case (c, r) => (col(quoted(c)), r) }
      val value = m.properties.getOrElse(Map.empty)
        .getOrElse(clusterCurveKey, "morton") match {
          case "hilbert" => Layout.hilbertValueN(dims)
          case _ => Layout.zValueN(dims)
        }
      df.sortWithinPartitions(value)
    } else // no stats yet (first write): lexicographic still tightens c1
      df.sortWithinPartitions(phys.map(c => col(quoted(c))): _*)
  }

  /** Test-only probe: total [[writeData]] invocations — specs pin a
    * maintenance op racing a concurrent commit to exactly ONE data
    * write (the rebase composes inside [[publish]]; losing a CAS must
    * never re-run the rewrite).
    */
  private[graft] val dataWriteCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Commit-protocol trim for MANIFEST-GATED writes (guide §7.3's
    * commit-protocol cost, the Delta/Iceberg argument): files under
    * `data/<uuid>/` are invisible until a published manifest references
    * them, so the rename-based job-commit ceremony buys nothing here —
    * task-side final renames (FileOutputCommitter algorithm 2, with
    * task commits still arbitrated by the OutputCommitCoordinator, so
    * retries/speculation stay exactly-once), no `_SUCCESS` marker
    * (readers resolve through the manifest, never the directory), no
    * parquet summary sidecars. An aborted job leaves at worst an
    * orphaned `data/<uuid>/` dir — the same abandonment unit as before,
    * reaped by vacuum/abandon. Scoped per write via options: census
    * writes (whose reader checks `_SUCCESS`) and any non-TxLog write
    * keep the stock protocol. Honest sizing (an interleaved A/B of
    * these write options): ~5% of a small commit's cost on the local
    * filesystem, where rename is cheap — the knob is kept because on
    * object storage the per-file job-commit rename IS the dominant
    * commit cost, and the manifest gate is precisely what makes
    * skipping it safe.
    */
  private def txWriter(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    w.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("parquet.summary.metadata.level", "NONE")

  private def writeData(df0: DataFrame, table: String,
      partitionBy: Seq[String] = Seq.empty,
      dataRelOpt: Option[String] = None): Written =
    graft.DriverTimers.time("writeData")(
      writeData0(df0, table, partitionBy, dataRelOpt))

  private def writeData0(df0: DataFrame, table: String,
      partitionBy: Seq[String],
      dataRelOpt: Option[String]): Written = {
    dataWriteCount.incrementAndGet()
    val spark = df0.sparkSession
    val mOpt = latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
    // logical → physical: renamed columns are written under the name
    // the table's existing files use, so every file generation agrees
    val ren = mOpt.flatMap(_.renames).getOrElse(Map.empty)
    // a frame still speaking a RETIRED physical name is a stale writer,
    // not a valid spelling — fail loudly rather than silently matching
    // the files' internal name
    ren.foreach { case (p, l) =>
      require(!df0.columns.contains(p),
        s"write to $table uses column '$p', which was renamed to '$l'") }
    val renamed = ren.foldLeft(df0) { case (d, (p, l)) =>
      if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d }
    // column ORDER is immaterial to parquet by-name reads, but the
    // manifest compares schemas structurally — when the frame holds
    // exactly the table's columns (e.g. a generated or identity column
    // was computed and APPENDED mid-pipeline), align it to the declared
    // order; any other shape (evolution, overwrite reshaping) passes
    // through for the append drift check to judge
    val aligned = mOpt.map(m =>
        DataType.fromJson(m.schemaJson).asInstanceOf[StructType].fieldNames.toSeq)
      .filter(names => names != renamed.columns.toSeq &&
        names.sorted == renamed.columns.toSeq.sorted)
      .map(names => renamed.select(names.map(n => col(quoted(n))): _*))
      .getOrElse(renamed)
    val df = clusterOnWrite(mOpt, ren, aligned)
    val f = fs(spark, new Path(table))
    val t = f.makeQualified(new Path(table))
    // row-level DML pre-chooses the dir ([[dml]]; its find pass may
    // already have put sidecars under `<dataRel>/_dv/`, its change feed
    // may be landing under `_cdf/`) — append alongside them; the
    // fresh-file listing below filters on `.parquet`, and the underscore
    // prefixes keep those subdirs invisible to any scan
    val dataRel = dataRelOpt.getOrElse(newDataRel())
    val dataDir = new Path(t, dataRel)
    val writeMode = if (dataRelOpt.isDefined) "append" else "error"
    val schema = asNullable(df.schema).asInstanceOf[StructType]
    if (partitionBy.isEmpty)
      graft.DriverTimers.time("writeData.job") {
        txWriter(df.write).mode(writeMode).parquet(dataDir.toString) }
    else {
      partitionBy.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"partition column '$c' not in schema (${schema.fieldNames.mkString(", ")})")
        require(isSkippable(schema(c).dataType) || schema(c).dataType == BooleanType,
          s"partition column '$c' (${schema(c).dataType.simpleString}) is not an " +
            "atomic partitionable type")
      }
      val dup = partitionBy.foldLeft(df)((acc, c) =>
        acc.withColumn(gpPrefix + c, col(quoted(c))))
      txWriter(dup.write).mode(writeMode)
        .partitionBy(partitionBy.map(gpPrefix + _): _*)
        .parquet(dataDir.toString)
    }
    val freshBuf = scala.collection.mutable.ArrayBuffer[String]()
    // per-file on-disk sizes, captured from the same listing that finds
    // the files — they become the manifest's cost statistics, which is
    // what lets TxLogRelation report an exact sizeInBytes and Spark
    // auto-broadcast small transactional tables in joins
    val sizeBuf = scala.collection.mutable.Map[String, Long]()
    val dataDirStr = f.makeQualified(dataDir).toString
    // MANUAL recursion, never descending into the commit-private
    // sidecar dirs that share data/<uuid>/ but are not data: `_cdf`
    // change files (parquet, possibly being written CONCURRENTLY by
    // overlapCdf — a blanket recursive listing would race its
    // in-flight `_temporary` dir) and `_dv` deletion vectors.
    // Partition dirs (`__gp_…=`) are walked as before.
    def walk(d: Path): Unit =
      f.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_cdf" && name != "_dv" && name != "_temporary")
            walk(st.getPath)
        } else if (name.endsWith(".parquet")) {
          val p = st.getPath.toString
          if (p.startsWith(dataDirStr + "/")) {
            val rel = dataRel + "/" + p.stripPrefix(dataDirStr + "/")
            freshBuf += rel
            sizeBuf(rel) = st.getLen
          }
        }
      }
    walk(dataDir)
    val fresh = freshBuf.toSeq.sorted
    val stats =
      if (fresh.isEmpty) Seq.empty
      else graft.DriverTimers.time("writeData.stats") {
        collectStats(spark, t, schema, fresh) }
    // a 0-row part file never surfaces in collectStats' grouped
    // aggregate (no rows, no group) — record it explicitly so the
    // manifest's per-file row counts are COMPLETE, which is what lets
    // statsAggregate answer count(*) from metadata alone
    val seen = stats.map(_.path).toSet
    val all = (stats ++ fresh.filterNot(seen)
        .map(p => FileEntry(p, 0L, Map.empty, partValuesOf(p))))
      .map(e => e.copy(bytes = sizeBuf.get(e.path)))
    // bloom index is a table property: every writer builds the fresh
    // files' sidecars so the index stays complete without opting in
    val bloomCols = bloomIndexOf(spark, table)
    if (fresh.nonEmpty && bloomCols.nonEmpty)
      buildBlooms(spark, t, schema, fresh,
        stats.map(_.rows).maxOption.getOrElse(1L), bloomCols)
    Written(dataRel, fresh, all.sortBy(_.path), schema.json, partitionBy)
  }

  // fallback lock per local table log dir — see renameIfAbsent
  private val localLogLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Single-process commit fallback for mounts without hard-link
    * support: in-process lock + exists-check + rename. Restores the
    * documented single-process-only guarantee there.
    */
  private def linkFallback(f: org.apache.hadoop.fs.FileSystem,
      fc: FileContext, tmp: Path, target: Path): Unit = {
    val lock = localLogLocks.computeIfAbsent(
      target.getParent.toString, _ => new Object)
    lock.synchronized {
      if (f.exists(target))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          target.toString)
      fc.rename(tmp, target, Options.Rename.NONE)
    }
  }

  /** The commit primitive, scheme-sensitive like the public Delta
    * LogStore split: on HDFS-like filesystems `rename(…, Rename.NONE)`
    * is checked server-side under the namespace lock — genuinely
    * atomic rename-if-absent. On the LOCAL filesystem that same call
    * is check-THEN-rename over a POSIX rename that silently
    * OVERWRITES, so two racing committers can both observe "absent"
    * and both return success — the second clobbers the first's
    * manifest (losing its commit!). Local commits therefore publish by
    * HARD LINK: `link(2)` fails with EEXIST atomically — across
    * PROCESSES, not just threads (an in-process lock, the previous
    * stance, still let two JVMs on one machine both win a version) —
    * and the target appears with its FULL content in one step, so a
    * concurrent reader can never see a torn manifest. Filesystems
    * without hard links (some network mounts) fall back to the
    * in-process lock + exists + rename, restoring the documented
    * single-process-only guarantee there.
    */
  private[graft] def renameIfAbsent(fc: FileContext,
      f: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path): Unit = {
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      val targetNio = java.nio.file.Paths.get(target.toUri.getPath)
      try {
        // atomic create-if-absent: one winner per version across
        // processes; java.nio FileAlreadyExistsException propagates to
        // publish's existing lost-race handling
        java.nio.file.Files.createLink(targetNio, tmpNio)
        f.delete(tmp, false)
        // ChecksumFileSystem wrote tmp's .crc sidecar; the linked target
        // has none, which is fine (missing crc = unchecked read), but a
        // STALE crc from any earlier overwrite attempt would fail reads —
        // drop one if present
        val crc = new Path(target.getParent, s".${target.getName}.crc")
        if (f.exists(crc)) f.delete(crc, false)
      } catch {
        // The JDK provider reports "no hard links on this mount"
        // inconsistently: UnsupportedOperationException per the javadoc,
        // but EPERM/EOPNOTSUPP from link(2) (CIFS/FAT/some NFS) surfaces
        // as a generic FileSystemException. Treat BOTH as missing-link
        // support and fall back — but only when the target does not
        // exist, because a FileSystemException over an existing target
        // could be a lost race, which must keep propagating as
        // already-exists so publish retries against the new parent.
        case e: java.nio.file.FileSystemException
            if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] &&
              !java.nio.file.Files.exists(targetNio) =>
          linkFallback(f, fc, tmp, target)
        case _: UnsupportedOperationException =>
          linkFallback(f, fc, tmp, target)
      }
    } else fc.rename(tmp, target, Options.Rename.NONE)
  }

  /** Publish `w` via rename-if-absent. Optimistic concurrency: a lost
    * race re-reads the (new) parent snapshot, re-composes the attempt,
    * and retries with the SAME already-written data files — only the
    * metadata attempt repeats, never the data write. `compose` returning
    * None abandons the commit (CAS failure / idempotent skip): the
    * orphaned data directory is deleted and None is returned. A throw
    * before the rename lands (a failed manifest write, the last lost
    * race, [[casRaceHook]]) deletes the directory too, unless the
    * latest manifest holds it (a lost ack), then rethrows. The
    * post-commit hooks run outside that guard: once the rename has
    * landed the directory is committed data. [[DriverTimers]] times
    * the two apart: `publish` up to the rename, `publishHooks` after.
    */
  private def publish(spark: SparkSession, table: String, w: Written,
      compose: Option[Manifest] => Option[Attempt]): Option[Long] =
    graft.DriverTimers.time("publish") {
      val f = fs(spark, new Path(table))
      val t = f.makeQualified(new Path(table))
      try { casRaceHook(); casLoop(spark, table, f, t, w, compose) }
      catch { case e: Throwable
          if !e.isInstanceOf[scala.util.control.ControlThrowable] =>
        try {
          if (!latestVersion(spark, table)
              .exists(v => holdsDir(readManifest(spark, t, v), w.dataRel)))
            f.delete(new Path(t, w.dataRel), true)
        } catch { case scala.util.control.NonFatal(d) => e.addSuppressed(d) }
        throw e
      }
    }.map { case (version, afterCommit) =>
      graft.DriverTimers.time("publishHooks")(afterCommit())
      version
    }

  /** Does `m` reference anything under the commit-private `dataRel`: a
    * data file, a change-data file or a deletion-vector sidecar? The
    * dir's name is unique to one commit attempt, so a manifest that
    * references it proves that attempt landed.
    */
  private def holdsDir(m: Manifest, dataRel: String): Boolean = {
    val under = (p: String) => p.startsWith(dataRel + "/")
    m.files.exists(under) || m.cdf.exists(_.exists(under)) ||
      m.dvs.exists(_.exists(d => under(d.dv)))
  }

  /** [[publish]]'s compose → manifest write → rename loop. Returns the
    * landed version with the post-commit hooks still to run (none for a
    * lost-ack success found on a retry), or None when `compose`
    * abandoned the commit.
    */
  private def casLoop(spark: SparkSession, table: String,
      f: org.apache.hadoop.fs.FileSystem,
      t: Path, w: Written, compose: Option[Manifest] => Option[Attempt])
      : Option[(Long, () => Unit)] = {
    f.mkdirs(logDir(t))
    val fc = FileContext.getFileContext(t.toUri, spark.sessionState.newHadoopConf())
    // did OUR rename land at `version`? Identified by this commit's
    // unique data directory appearing in the published manifest — the
    // lost-ack disambiguator (a rename can succeed server-side while the
    // client sees an IOException; blindly retrying such a commit would
    // re-compose on top of a parent that already contains it and
    // double-count every appended row).
    def winner(version: Long): Boolean =
      f.exists(manifestPath(t, version)) &&
        holdsDir(readManifest(spark, t, version), w.dataRel)
    var attempt = 0
    while (true) {
      attempt += 1
      val parent = latestVersion(spark, table).map(readManifest(spark, t, _))
      // a lost-ack success would appear here as our own data dir in the
      // parent — the commit is already published, return it
      parent.filter(holdsDir(_, w.dataRel))
        .foreach(p => return Some((p.version, () => ())))
      val att = compose(parent) match {
        case Some(a) => a
        case None => f.delete(new Path(t, w.dataRel), true); return None
      }
      val version = parent.map(_.version).getOrElse(0L) + 1
      val m0 = Manifest(version, att.action, att.files,
        att.schemaJson.getOrElse(w.schemaJson),
        // in-commit timestamps are MONOTONIC per table (the Delta ICT
        // guarantee): a clock-skewed writer can never stamp a child at
        // or before its parent, so TIMESTAMP AS OF / RETAIN n HOURS
        // always resolve consistently with the commit order
        math.max(System.currentTimeMillis(),
          parent.map(_.tsMillis + 1).getOrElse(0L)),
        stats = Some(att.stats).filter(_.nonEmpty),
        txn = Some(att.txn).filter(_.nonEmpty),
        cdf = Some(att.cdf).filter(_.nonEmpty),
        constraints = Some(att.constraints).filter(_.nonEmpty),
        // partition layout is a table property: only an explicit
        // overwrite/restore changes it, every other commit inherits
        partitionBy = att.partitionBy
          .orElse(parent.flatMap(_.partitionBy)).filter(_.nonEmpty),
        // bloom index set is a table property too: only setBloomIndex /
        // dropBloomIndex pass Some, every other commit inherits
        bloomIndex = att.bloomIndex
          .orElse(parent.flatMap(_.bloomIndex)).filter(_.nonEmpty),
        dvs = Some(att.dvs.getOrElse {
          val keep = att.files.toSet
          parent.flatMap(_.dvs).getOrElse(Seq.empty).filter(e => keep(e.path))
        }).filter(_.nonEmpty),
        generated = att.generated
          .orElse(parent.flatMap(_.generated)).filter(_.nonEmpty),
        dropped = att.dropped
          .orElse(parent.flatMap(_.dropped)).filter(_.nonEmpty),
        identity = att.identity
          .orElse(parent.flatMap(_.identity)).filter(_.nonEmpty),
        renames = att.renames
          .orElse(parent.flatMap(_.renames)).filter(_.nonEmpty),
        properties = att.properties
          .orElse(parent.flatMap(_.properties)).filter(_.nonEmpty))
      // stamp the reader features THIS version's state requires, so a
      // build without them refuses to read instead of mis-reading
      val m = m0.copy(features = requiredReaderFeatures(m0))
      // Checkpointed log: encode as a delta vs the parent when (a) not
      // on the checkpoint cadence, (b) the delta is actually smaller
      // than the snapshot (an overwrite replacing most files gains
      // nothing), and (c) the reconstruction is BIT-EXACT (case-class
      // equality) — the writer proves what the reader will compute.
      // Otherwise write the full snapshot: a checkpoint.
      val deltaBody: Option[String] = parent match {
        case Some(p) if version % checkpointInterval != 0 =>
          val d = buildDelta(p, m)
          if (d.add.size + d.remove.size < m.files.size &&
              applyDelta(p, d) == m) Some(Serialization.write(d))
          else None
        case _ => None
      }
      val body = deltaBody.getOrElse(Serialization.write(m))
      val isCkpt = deltaBody.isEmpty
      val tmp = new Path(logDir(t), s".tmp-${w.dataRel.drop(5)}-$attempt.json")
      val out = f.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      // the CAS try wraps ONLY the rename: post-commit hooks run after
      // it, so a hook's FileAlreadyExistsException (e.g. from a
      // manifest or census write) can never be misread as a lost
      // commit race and re-enter the retry loop (double-commit)
      val landed: Boolean =
        try {
          // rename-if-absent: the ONE atomic, mutual-exclusion step
          renameIfAbsent(fc, f, tmp, manifestPath(t, version))
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
               | _: java.nio.file.FileAlreadyExistsException
              if attempt < 20 =>
            f.delete(tmp, false) // definitely lost the race; retry
            false
          case _: java.io.IOException if attempt < 20 =>
            f.delete(tmp, false)
            // ambiguous failure: the rename may have landed (lost ack) —
            // if the target now exists with OUR data dir, we won;
            // else someone else owns `version` (or nothing landed): retry
            winner(version)
        }
      // commit is durable from here — hook failures surface loudly
      // to the caller but can never lose or duplicate the commit
      if (landed) return Some((version, () => {
        // seed the resolver cache — the snapshot we just proved exact
        snapshotCache.put(
          f.makeQualified(manifestPath(t, version)).toString, m)
        // advisory pointer (the Delta `_last_checkpoint` recipe): lets
        // [[latestVersion]] probe forward from a recent version instead
        // of listing the whole log dir. Moved on the cadence only, not
        // on size-forced snapshots: the in-place replace forces a
        // writeback (see [[checkpointInterval]]), and a pointer up to
        // one interval behind costs at most that many `exists` calls.
        // Best-effort and non-atomic by design — resolution only ever
        // uses it as a hint.
        if (version % checkpointInterval == 0) {
          try {
            val lc = f.create(lastCheckpointPath(t), true)
            try lc.write(s"""{"version":$version}""".getBytes("UTF-8"))
            finally lc.close()
          } catch { case _: java.io.IOException => () }
        }
        // parquet census sidecar (the Delta parquet-checkpoint idea):
        // additive, best-effort, size-gated — JSON stays the gate
        if (isCkpt) writeCensus(spark, t, version, m)
        // opt-in symlink auto-generation (the Delta
        // `compatibility.symlinkFormatManifest` property): external
        // readers track every commit without a manual GENERATE. Full
        // regeneration, priced per commit (set the property only on
        // tables whose external readers need it fresh).
        if (m.properties.exists(_.get(symlinkAutoKey).contains("true"))
            && m.dvs.forall(_.isEmpty)) {
          generateSymlinkManifest(spark, table)
        }
      }))
    }
    sys.error("unreachable")
  }

  /** Drop all but the last `keepVersions` manifests and delete the data
    * files ONLY they referenced. Files referenced by any kept version
    * survive; unknown files (possibly an in-flight commit's) are never
    * touched, and neither are BORROWED files (absolute-path entries a
    * [[clone]] references inside another table's root — reaping those
    * is the owning table's vacuum's call, never the clone's). Returns
    * the deleted data-file paths (table-relative).
    */
  /** What [[vacuum]] WOULD delete, without deleting anything — the
    * Delta `VACUUM … DRY RUN` contract: the exact doomed file list
    * (data, change-data, DV sidecars, and the dropped versions'
    * `.checkpoint.parquet` census dirs under `_txlog`) for the operator to
    * review before committing to an irreversible reap. Pure metadata
    * walk.
    */
  def vacuumDryRun(spark: SparkSession, table: String,
      keepVersions: Int): Seq[String] =
    vacuumPlan(spark, table, keepVersions)._1

  /** (doomed files, versions to drop, versions kept) of a
    * keep-the-last-K vacuum — shared by [[vacuum]] and
    * [[vacuumDryRun]] so the dry run can never disagree with the reap.
    */
  private def vacuumPlan(spark: SparkSession, table: String,
      keepVersions: Int): (Seq[String], Seq[Long], Seq[Long]) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val t = new Path(table)
    val all = versions(spark, table)
    val (drop, keep) = all.splitAt((all.size - keepVersions).max(0))
    // a version owns its data files, its change-data files AND its
    // deletion-vector sidecars (a DV file can be referenced by several
    // consecutive manifests — the shared-file rule keeps it alive)
    def owned(m: Manifest): Seq[String] =
      m.files ++ m.cdf.getOrElse(Seq.empty) ++
        m.dvs.getOrElse(Seq.empty).map(_.dv)
    val keptFiles = keep.flatMap(v => owned(readManifest(spark, t, v))).toSet
    // each dropped version's parquet checkpoint census dir goes with it
    // (vacuum deletes them alongside the manifests) — the dry run must
    // report them too, or it under-reports the reap
    val census = {
      val f = fs(spark, t)
      val root = f.makeQualified(t).toString
      drop.map(censusPath(t, _)).filter(f.exists).map { p =>
        val q = f.makeQualified(p).toString
        if (q.startsWith(root + "/")) q.substring(root.length + 1) else q
      }
    }
    val doomed = drop.flatMap(v => owned(readManifest(spark, t, v)))
      .distinct.filterNot(keptFiles)
      .filterNot(isBorrowed) ++ census
    (doomed, drop, keep)
  }

  /** Doomed-file counts at or above this reap on EXECUTORS instead of
    * a driver loop: one delete per file is an object-store RPC, and a
    * 10⁶-file vacuum at ~20 ms each is hours sequential vs minutes
    * fanned out (the Delta parallel-delete recipe). Deletes are
    * idempotent (a missing file is a no-op false), so task retries are
    * safe. Var, not val: specs lower it to pin the distributed path.
    */
  private[graft] var vacuumDistributeThreshold: Int = 1000

  def vacuum(spark: SparkSession, table: String, keepVersions: Int): Seq[String] = {
    val t = new Path(table)
    val f = fs(spark, t)
    val (doomed, drop, keep) = vacuumPlan(spark, table, keepVersions)
    // census dirs ride the doomed list for DRY RUN visibility but are
    // reaped (recursively) with their manifests below
    val dataDoomed = doomed.filterNot(_.startsWith("_txlog/"))
    if (dataDoomed.size < vacuumDistributeThreshold) {
      dataDoomed.foreach { rel =>
        f.delete(new Path(t, rel), false)
        // a reaped data file takes its bloom sidecar dir with it
        f.delete(new Path(t, s"_bloom/$rel"), true)
      }
    } else {
      val confBc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val tq = f.makeQualified(t).toString
      import spark.implicits._
      try spark.createDataset(dataDoomed)
        .repartition(math.max(1, math.min(
          spark.sparkContext.defaultParallelism, dataDoomed.size / 100)))
        .foreachPartition { (it: Iterator[String]) =>
          val base = new Path(tq)
          val fx = base.getFileSystem(confBc.value.value)
          it.foreach { rel =>
            fx.delete(new Path(base, rel), false)
            fx.delete(new Path(base, s"_bloom/$rel"), true)
          }
        }
      finally confBc.destroy()
    }
    // Chain integrity under the checkpointed log: the oldest KEPT
    // version may be a delta record chaining through versions about to
    // be dropped. Materialize its already-resolved snapshot as a full
    // checkpoint IN PLACE (content-equivalent rewrite — the resolver
    // cache stays valid) before any manifest below it disappears. A
    // plain overwrite-rename is safe: concurrent readers see either the
    // old delta (chain still intact at that instant) or the new
    // checkpoint, which resolve identically.
    if (drop.nonEmpty) keep.headOption.foreach { v =>
      if (!isCheckpointOnDisk(spark, table, v)) {
        val snap = readManifest(spark, t, v)
        val fc = FileContext.getFileContext(f.makeQualified(t).toUri,
          spark.sessionState.newHadoopConf())
        val tmp = new Path(logDir(t), s".tmp-ckpt-$v.json")
        val out = f.create(tmp, true)
        try out.write(Serialization.write(snap).getBytes("UTF-8"))
        finally out.close()
        val target = manifestPath(t, v)
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
        // f.create wrote a checksum sidecar for tmp; the raw rename left
        // it orphaned and the target's (if any) stale — drop both
        f.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
        f.delete(new Path(target.getParent, s".${target.getName}.crc"), false)
      }
    }
    drop.foreach { v =>
      f.delete(manifestPath(t, v), false)
      // a dropped checkpoint takes its parquet census sidecar with it
      f.delete(censusPath(t, v), true)
    }
    doomed
  }

  /** A manifest entry outside the table root: an absolute path (or full
    * URI) referencing files a [[clone]] borrowed from its source table.
    * Every file THIS table writes is recorded `data/<uuid>/…`-relative.
    */
  private def isBorrowed(rel: String): Boolean =
    // scheme match, not "://": Hadoop renders authority-less URIs with a
    // single slash (`file:/root/…`), which `"://"` would miss. An owned
    // entry (`data/<uuid>/…`) can never contain ':' before its first '/'.
    rel.startsWith("/") || rel.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")

  /** Zero-copy SHALLOW CLONE (the public Delta `CREATE TABLE … SHALLOW
    * CLONE` semantics): `dst` becomes a new table whose version-1
    * manifest references the SOURCE's current data files by ABSOLUTE
    * path — no data byte moves, so cloning a 100 TB table is one
    * metadata write. The dev/test-fork primitive a lakehouse needs:
    * experiments run against production data without a copy and without
    * ever being able to disturb it.
    *
    * Independence comes from immutability, not isolation code: data
    * files are never rewritten in place, so the clone PINS the exact
    * files it was created from — source overwrites/deletes after the
    * clone don't change what the clone reads, and the clone's own
    * appends/rewrites land under `dst`'s `data/` dir, invisible to the
    * source. Per-file stats, CHECK constraints and the partition layout
    * carry over (skipping and invariants keep working on the clone);
    * commit-scoped state (change feed, streaming txn watermarks) does
    * not — the clone's history starts at its own version 1. The one
    * coupling is the documented Delta shallow-clone caveat: a source
    * [[vacuum]] that drops the cloned-from version reaps files the
    * clone still references — deep-copy (overwrite the clone with
    * itself) before vacuuming the source under it.
    */
  def clone(spark: SparkSession, src: String, dst: String,
      versionAsOf: Option[Long] = None): Long = {
    // an explicit version clones a HISTORICAL snapshot (the Delta
    // `CLONE src VERSION AS OF v` knob — fork yesterday's state for a
    // repro); default = latest. manifestAt is loud on a missing version
    val m = versionAsOf.map(manifestAt(spark, src, _))
      .getOrElse(manifest(spark, src))
    require(latestVersion(spark, dst).isEmpty,
      s"clone target $dst already has committed versions")
    val srcRoot = fs(spark, new Path(src)).makeQualified(new Path(src))
    def absOf(rel: String): String =
      if (isBorrowed(rel)) rel // a clone of a clone borrows the originals
      // FULL URI, not getPath: a bare /path would strip the source's
      // scheme/authority (s3://, hdfs://host) and silently resolve
      // against the DESTINATION's filesystem — and make isBorrowed's
      // "://" branch unreachable for entries this code writes
      else new Path(srcRoot, rel).toUri.toString
    val att = Attempt("clone", m.files.map(absOf),
      m.stats.getOrElse(Seq.empty).map(e => e.copy(path = absOf(e.path))),
      txn = Map.empty,
      constraints = m.constraints.getOrElse(Map.empty),
      partitionBy = m.partitionBy,
      // deletion vectors ride along, entry AND sidecar borrowed
      dvs = Some(m.dvs.getOrElse(Seq.empty)
        .map(e => e.copy(path = absOf(e.path), dv = absOf(e.dv)))),
      generated = m.generated,
      dropped = m.dropped,
      identity = m.identity,
      renames = m.renames,
      properties = m.properties)
    publish(spark, dst, writeNothing(spark, dst, m.schemaJson),
      parent => {
        require(parent.isEmpty,
          s"clone target $dst gained a commit while cloning")
        Some(att)
      }).get
  }

  /** DEEP CLONE (the Delta `CREATE TABLE … CLONE` default): `dst`
    * becomes a fully independent table whose version-1 manifest
    * references COPIES of the source's current data files (and DV
    * sidecars) under its own root — the disaster-recovery / migration
    * spelling next to [[clone]]'s zero-copy fork. Independence is
    * total: the source can be vacuumed, overwritten, or deleted
    * outright and the deep clone keeps reading; the clone's vacuum
    * reaps its own bytes. Owned entries keep their relative paths
    * verbatim (stats, partition metadata, and DV descriptors carry
    * over without rewriting); entries the SOURCE itself borrowed (a
    * deep clone OF a shallow clone) materialize under a fresh
    * `data/<uuid>/` dir — a deep clone never borrows. Copies fan out
    * to executors above [[vacuumDistributeThreshold]] files
    * (attempt-unique temp + rename — file bytes are immutable, so any
    * landed copy is correct); below it the driver copies directly.
    * Like the shallow clone, the bloom-index PROPERTY does not carry
    * (re-declare to rebuild sidecars); metadata (schema, constraints,
    * partition layout, generated/identity/rename/default declarations,
    * properties) all does. A clone abandoned by a lost target race
    * leaves copied bytes under `dst` for the operator to remove with
    * the directory — the target was required empty.
    */
  def deepClone(spark: SparkSession, src: String, dst: String,
      versionAsOf: Option[Long] = None): Long = {
    val m = versionAsOf.map(manifestAt(spark, src, _))
      .getOrElse(manifest(spark, src))
    require(latestVersion(spark, dst).isEmpty,
      s"clone target $dst already has committed versions")
    val sroot = fs(spark, new Path(src)).makeQualified(new Path(src))
    val droot = fs(spark, new Path(dst)).makeQualified(new Path(dst))
    val cloneId = java.util.UUID.randomUUID.toString
    def srcAbs(rel: String): Path =
      if (isBorrowed(rel)) new Path(rel) else new Path(sroot, rel)
    // owned rels carry over verbatim (their data/<uuid> layout is
    // already collision-free); borrowed ones materialize fresh
    val relMap = scala.collection.mutable.Map[String, String]()
    def relOf(rel: String, i: Int): String = relMap.getOrElseUpdate(rel,
      if (!isBorrowed(rel)) rel
      else s"data/$cloneId/b${i}_${new Path(rel).getName}")
    val dvEntries = m.dvs.getOrElse(Seq.empty)
    // bloom sidecars ride along for OWNED entries (re-indexing a cloned
    // 100 TB table would be a full scan); a borrowed entry's sidecar
    // lives under the ORIGINAL table's root, unknowable from here —
    // those files are simply unpruned until re-indexed (advisory, never
    // wrong). Missing sidecars skip in the copier (FileNotFound-safe).
    val bloomCols = m.bloomIndex.getOrElse(Seq.empty)
    val bloomPairs: Seq[(String, String)] =
      for (rel <- m.files if !isBorrowed(rel); c <- bloomCols) yield {
        val sidecarRel =
          s"_bloom/$rel/${java.net.URLEncoder.encode(c, "UTF-8")}.bloom"
        new Path(sroot, sidecarRel).toUri.toString -> sidecarRel
      }
    val pairs: Seq[(String, String)] =
      m.files.zipWithIndex.map { case (rel, i) =>
        srcAbs(rel).toUri.toString -> relOf(rel, i) } ++
      dvEntries.zipWithIndex.map { case (e, i) =>
        srcAbs(e.dv).toUri.toString -> relOf(e.dv, m.files.size + i) } ++
      bloomPairs
    val conf = spark.sessionState.newHadoopConf()
    if (pairs.size < vacuumDistributeThreshold) {
      val dfs = droot.getFileSystem(conf)
      pairs.foreach { case (sa, dr) =>
        val sp = new Path(sa)
        try org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
          dfs, new Path(droot, dr), false, true, conf)
        catch { case _: java.io.FileNotFoundException =>
          require(dr.startsWith("_bloom/"),
            s"deep clone source file vanished mid-copy: $sa")
        }
      }
    } else {
      val confBc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(conf))
      val dq = droot.toString
      import spark.implicits._
      try spark.createDataset(pairs)
        .repartition(math.max(1, math.min(
          spark.sparkContext.defaultParallelism, pairs.size / 64)))
        .foreachPartition { (it: Iterator[(String, String)]) =>
          val base = new Path(dq)
          val dfs = base.getFileSystem(confBc.value.value)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId).getOrElse(0L)
          it.foreach { case (sa, dr) =>
            val target = new Path(base, dr)
            if (!dfs.exists(target)) {
              val tmp = new Path(base, s"$dr.a$attempt.tmp")
              val sp = new Path(sa)
              val copied =
                try {
                  org.apache.hadoop.fs.FileUtil.copy(
                    sp.getFileSystem(confBc.value.value), sp, dfs, tmp,
                    false, true, confBc.value.value)
                  true
                } catch { case _: java.io.FileNotFoundException =>
                  // a bloom sidecar may legitimately not exist (advisory
                  // index, per-file presence optional); data must
                  if (!dr.startsWith("_bloom/"))
                    sys.error(s"deep clone source file vanished: $sa")
                  false
                }
              // immutable source bytes → any landed copy is correct
              if (copied && !dfs.rename(tmp, target)) {
                if (!dfs.exists(target))
                  sys.error(s"deep clone copy rename failed for $target")
                dfs.delete(tmp, false)
              }
            }
          }
        }
      finally confBc.destroy()
    }
    val mapped = relMap.toMap
    val att = Attempt("deep_clone", m.files.map(mapped),
      m.stats.getOrElse(Seq.empty).map(e => e.copy(path = mapped(e.path))),
      txn = Map.empty,
      constraints = m.constraints.getOrElse(Map.empty),
      partitionBy = m.partitionBy,
      // the sidecars were copied above (owned entries), so the index
      // keeps pruning on the clone; borrowed-materialized files are
      // merely unpruned until the next write re-sidecars them
      bloomIndex = m.bloomIndex,
      dvs = Some(dvEntries.map(e =>
        e.copy(path = mapped(e.path), dv = mapped(e.dv)))),
      generated = m.generated,
      dropped = m.dropped,
      identity = m.identity,
      renames = m.renames,
      properties = m.properties)
    publish(spark, dst, writeNothing(spark, dst, m.schemaJson),
      parent => {
        require(parent.isEmpty,
          s"clone target $dst gained a commit while cloning")
        Some(att)
      }).get
  }

  /** CONVERT an existing plain-parquet directory into a graft-txlog
    * table IN PLACE (the public Delta `CONVERT TO DELTA` capability):
    * version 1 adopts the directory's parquet files by relative path —
    * NO data byte moves or rewrites, so converting a 100 TB directory
    * costs one recursive listing plus one column-pruned stats pass
    * (≤[[maxStatsCols]] skippable columns; `statsColumns = 0` skips the
    * min/max scan and records footer-cheap row counts only — stats are
    * advisory, an entry without them is simply never skipped, but row
    * counts must be complete). File sizes from the listing become the
    * manifest's cost statistics, so a converted dimension
    * auto-broadcasts like a written one. After convert the directory is
    * a full citizen: DML, OPTIMIZE, constraints, CDF opt-in, vacuum
    * (adopted files are table-root-relative, reaped like written ones).
    *
    * Heterogeneous file schemas union-merge (`mergeSchema`): files
    * lacking a column null-fill on read — the SAME semantics
    * schema-evolving appends already give old files. Hive-partitioned
    * layouts (`col=value` directories) are REFUSED loudly: their
    * partition values live in directory names, not in the files, while
    * graft-txlog keeps partition columns inside data files — rewrite
    * via `overwrite(spark.read.parquet(dir), dst, partitionBy = …)`.
    *
    * Idempotent under a lost-ack or concurrent convert of the SAME
    * directory: if version 1 exists as a convert of exactly these
    * files, returns it; any other existing commit fails loudly.
    */
  def convert(spark: SparkSession, table: String,
      statsColumns: Int = maxStatsCols): Long = {
    val f = fs(spark, new Path(table))
    val t = f.makeQualified(new Path(table))
    require(f.exists(t), s"convert: $table does not exist")
    val tStr = t.toString
    val relBuf = scala.collection.mutable.ArrayBuffer[String]()
    val sizeBuf = scala.collection.mutable.Map[String, Long]()
    val it = f.listFiles(t, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (p.endsWith(".parquet") && p.startsWith(tStr + "/")) {
        val rel = p.stripPrefix(tStr + "/")
        val segs = rel.split('/')
        if (!segs.exists(s => s.startsWith("_") || s.startsWith("."))) {
          require(!segs.dropRight(1).exists(_.contains("=")),
            s"convert: $table is Hive-partitioned ('${segs.find(_.contains("="))
              .getOrElse("")}') - partition values live in directory names, " +
              "not in the files, while graft-txlog keeps partition columns " +
              "inside data files; rewrite via TxLog.overwrite(" +
              "spark.read.parquet(dir), dst, partitionBy = ...)")
          relBuf += rel
          sizeBuf(rel) = st.getLen
        }
      }
    }
    require(relBuf.nonEmpty, s"convert: no parquet files under $table")
    val rels = relBuf.toSeq.sorted
    // a prior convert of exactly this directory is an idempotent
    // success (the lost-ack / double-call stance); ANY other history is
    // a loud refusal — convert only adopts plain parquet directories
    latestVersion(spark, table).foreach { v =>
      val m = readManifest(spark, new Path(table), v)
      require(v == 1L && m.action == "convert" && m.files.toSet == rels.toSet,
        s"convert: $table already has committed versions - convert only " +
          "adopts plain parquet directories")
      return v
    }
    val abs = rels.map(r => new Path(t, r).toString)
    val schema = asNullable(spark.read.option("mergeSchema", "true")
      .parquet(abs: _*).schema).asInstanceOf[StructType]
    // scan-path → manifest-relative: compare URI *paths* (the scan
    // renders file:///… and percent-encodes; the listing rendered
    // file:/… raw) — decoding both sides makes the match rendering-proof
    val rootPath = t.toUri.getPath
    val relOf: String => String = { a =>
      val ap =
        try {
          val u = new java.net.URI(a)
          if (u.getPath != null) u.getPath else a
        } catch { case _: java.net.URISyntaxException => a }
      require(ap.startsWith(rootPath + "/"),
        s"convert stats scan returned unlisted file $a")
      ap.stripPrefix(rootPath + "/")
    }
    val scanned = statsScan(spark, schema, abs, relOf, statsColumns)
    val seen = scanned.map(_.path).toSet
    // 0-row part files never surface in the grouped aggregate — record
    // them so per-file row counts stay COMPLETE
    val entries = (scanned ++ rels.filterNot(seen)
        .map(r => FileEntry(r, 0L, Map.empty)))
      .map(e => e.copy(bytes = sizeBuf.get(e.path)))
      .sortBy(_.path)
    require(entries.map(_.path).toSet == rels.toSet,
      "convert: stats scan and listing disagree on the file set")
    val att = Attempt("convert", rels, entries, txn = Map.empty)
    publish(spark, table, writeNothing(spark, table, schema.json),
      parent => if (parent.isEmpty) Some(att) else None) match {
      case Some(v) => v
      case None =>
        // a concurrent (or lost-ack-retried) convert won the race: the
        // SAME file set is the same table — idempotent success
        val m = manifest(spark, table)
        require(m.version == 1L && m.action == "convert" &&
            m.files.toSet == rels.toSet,
          s"convert: $table gained a different commit while converting")
        m.version
    }
  }

  // ---------------------------------------------------------------------
  // Per-file Bloom filter index (the public Delta bloom-index capability)
  // ---------------------------------------------------------------------

  /** False-positive rate of the per-file sidecar filters: ~9.6 bits per
    * row, so a sidecar is ~0.1% of its (compressed) data file — the
    * published Delta default is in the same regime.
    */
  val bloomFpp = 0.01

  /** Bloom indexing targets POINT lookups, so only equality-friendly key
    * types: integral and string. (Range types already have min/max
    * stats; floats equality-match too rarely to pay for.)
    */
  private def isBloomIndexable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** The table's bloom-indexed columns (empty when the index is unset). */
  def bloomIndexOf(spark: SparkSession, table: String): Seq[String] =
    latestVersion(spark, table)
      .map(readManifest(spark, new Path(table), _))
      .flatMap(_.bloomIndex).getOrElse(Seq.empty)

  /** One sidecar per (data file, indexed column), under `_bloom/<rel>/`.
    * Sidecars are ADVISORY, like stats: a missing/unreadable one keeps
    * the file; a borrowed (clone) entry resolves to a path that does not
    * exist under this root and is simply never pruned.
    */
  private def bloomPathOf(t: Path, rel: String, column: String): Path =
    new Path(t,
      s"_bloom/$rel/${java.net.URLEncoder.encode(column, "UTF-8")}.bloom")

  /** Test-only probe: how the last bloom sidecar build wrote its files
    * ("driver" below the threshold, "distributed" above) — pinned by
    * BloomIndexSpec's threshold-forced case.
    */
  private[graft] val lastBloomBuildMode =
    new java.util.concurrent.atomic.AtomicReference[String]("none")

  /** Build + write the per-file sidecar filters for `cols` over
    * `relFiles`. ONE column-pruned scan of exactly the indexed columns
    * (grouped by file — a mergeable `BloomFilterAggregate` per column).
    * Below [[vacuumDistributeThreshold]] files the driver collects the
    * sketches and writes the sidecars (bounded: files-in-commit × ~0.1%
    * of file size). ABOVE it — a [[setBloomIndex]] backfill of a large
    * table, or a huge overwrite/COPY INTO on an indexed one — the
    * sidecars are written FROM THE AGGREGATING TASKS (attempt-unique
    * temp + rename, the composeDvsDist recipe): at 10⁶ files the driver
    * would otherwise hold ~100 GB of filter bytes and issue 10⁶
    * sequential create RPCs. Task retries are idempotent: the filter
    * bytes are deterministic for a file's rows (bitset ORs), so any
    * landed sidecar is equivalent. `expectedRows` sizes the filters (an
    * underestimate degrades fpp, never correctness — Bloom filters
    * cannot false-negative).
    */
  private def buildBlooms(spark: SparkSession, t: Path, schema: StructType,
      relFiles: Seq[String], expectedRows: Long, cols: Seq[String]): Unit = {
    val present = cols.filter(schema.fieldNames.contains)
    if (relFiles.isEmpty || present.isEmpty) return
    val aggs = present.map(c =>
      BloomFns.bloomAgg(col(quoted(c)), expectedRows.max(1L), bloomFpp)
        .as(s"__bf_$c"))
    // keyed by last-two path components (both raw and URI-encoded
    // spellings): backfill file lists span MANY data/<uuid> dirs, which
    // the single-dir relMapper cannot handle
    val byKey = byScanKey(relFiles, t)
    val grouped = spark.read.schema(schema)
      .parquet(relFiles.map(new Path(t, _).toString): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val f = fs(spark, t)
    if (relFiles.size < vacuumDistributeThreshold) {
      lastBloomBuildMode.set("driver")
      grouped.collect().foreach { r =>
        val rel = byKey.getOrElse(last2(r.getString(0)),
          sys.error(s"bloom scan returned unlisted file ${r.getString(0)}"))
        present.zipWithIndex.foreach { case (c, i) =>
          Option(r.get(i + 1)).foreach { bytes =>
            val out = f.create(bloomPathOf(t, rel, c), true)
            try out.write(bytes.asInstanceOf[Array[Byte]]) finally out.close()
          }
        }
      }
    } else {
      lastBloomBuildMode.set("distributed")
      val confBc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val byKeyBc = spark.sparkContext.broadcast(byKey)
      val tqStr = f.makeQualified(t).toString
      val presentL = present.toIndexedSeq
      try grouped.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val base = new Path(tqStr)
          val fx = base.getFileSystem(confBc.value.value)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId).getOrElse(0L)
          it.foreach { r =>
            val rel = byKeyBc.value.getOrElse(last2(r.getString(0)),
              sys.error(s"bloom scan returned unlisted file ${r.getString(0)}"))
            presentL.zipWithIndex.foreach { case (c, i) =>
              Option(r.get(i + 1)).foreach { bytes =>
                val target = bloomPathOf(base, rel, c)
                val tmp = new Path(target.getParent,
                  s".${target.getName}.a$attempt.tmp")
                val out = fx.create(tmp, true)
                try out.write(bytes.asInstanceOf[Array[Byte]])
                finally out.close()
                // a backfill may legitimately REPLACE a stale sidecar
                // (re-declared after type widening shed the index):
                // delete-then-rename; a speculative twin's just-landed
                // file carries equivalent bytes, so either winner is
                // correct and "already there" is success
                if (fx.exists(target)) fx.delete(target, false)
                if (!fx.rename(tmp, target)) {
                  if (!fx.exists(target))
                    sys.error(s"bloom sidecar rename failed for $target")
                  fx.delete(tmp, false)
                }
              }
            }
          }
        }
      }
      finally {
        confBc.destroy()
        byKeyBc.destroy()
      }
    }
  }

  /** Declare `cols` bloom-indexed: backfills sidecars for every live
    * file (one column-pruned scan), then commits the property — readers
    * that see it find every sidecar already present (and a missing one
    * is merely unpruned, never wrong). From then on EVERY writer
    * (append/overwrite/merge/delete/update/compact) builds sidecars for
    * the files it adds, so the index stays complete without any writer
    * opting in. The canonical use: point lookups on a high-cardinality
    * key whose values are scattered across the table — min/max stats
    * prune nothing there (every file spans the whole key range), while
    * the per-file filter answers "definitely not in this file" for
    * all but ~fpp of the files.
    */
  def setBloomIndex(spark: SparkSession, table: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "setBloomIndex needs at least one column")
    val m = manifest(spark, table)
    val schema = logicalSchema(m)
    // validated against the logical schema, STORED as physical names
    // (the sidecar builder scans physical-named files, probes translate)
    val physCols = cols.map { c =>
      require(schema.fieldNames.contains(c),
        s"table $table has no column '$c' (schema: ${schema.fieldNames.mkString(", ")})")
      require(isBloomIndexable(schema(c).dataType),
        s"column '$c' (${schema(c).dataType.simpleString}) is not bloom-indexable " +
          "(integral and string columns only)")
      physOf(m, c)
    }
    val t = fs(spark, new Path(table)).makeQualified(new Path(table))
    val own = m.files.filterNot(isBorrowed)
    val expected = m.stats.map(_.map(_.rows)).filter(_.nonEmpty)
      .map(_.max).getOrElse(1000000L)
    buildBlooms(spark, t,
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType],
      own, expected, physCols)
    alterMetadata(spark, table, "set_bloom_index", Some(m)) { (_, carried) =>
      carried.copy(bloomIndex = Some(physCols))
    }
  }

  /** Drop the bloom-index property (sidecars become dead weight until
    * [[vacuum]] reaps them with their files; readers ignore them).
    */
  def dropBloomIndex(spark: SparkSession, table: String): Long =
    alterMetadata(spark, table, "drop_bloom_index") { (_, carried) =>
      carried.copy(bloomIndex = Some(Seq.empty)) // Some(empty) → filter(_.nonEmpty) → unset
    }

  /** Driver-side hash matching the build side exactly: the value cast
    * to the COLUMN's type (the aggregate hashed the column's native
    * representation), then `xxhash64(seed 42)` — the same pair
    * [[graft.functions.BloomFns]] builds with. `None` = can't hash
    * (cast failed / null) → the caller keeps the file.
    */
  private def bloomHashOf(dt: DataType, v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    try {
      val lit = Literal(v)
      val cast = if (lit.dataType == dt) lit else Cast(lit, dt)
      val internal = cast.eval(null)
      if (internal == null) None
      else Some(new XxHash64(Seq(Literal(internal, dt)), 42L)
        .eval(null).asInstanceOf[Long])
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Could `rel` hold any of `values` for `column`, judged from its
    * sidecar filter? Missing/unreadable sidecar or unhashable value ⇒
    * true (keep) — pruning is an optimization, never a correctness bet.
    */
  private[graft] def bloomMightContain(spark: SparkSession, table: Path,
      rel: String, column: String, dt: DataType, values: Seq[Any]): Boolean = {
    val f = fs(spark, table)
    val p = bloomPathOf(table, rel, column)
    val in = try f.open(p)
      catch { case _: java.io.IOException => return true }
    val bf =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      catch { case scala.util.control.NonFatal(_) => return true }
      finally in.close()
    values.exists(v => bloomHashOf(dt, v).forall(bf.mightContainLong))
  }

  /** The subset of `files` whose sidecar filters admit every probe in
    * `probes` (column → candidate values; a file survives a probe if
    * ANY value may be present). Files without sidecars always survive.
    */
  /** Probes are (PHYSICAL column, value type, candidate values) —
    * callers translate logical names and resolve the type from the
    * logical schema, so a renamed bloom column keeps pruning.
    */
  private[graft] def bloomPrune(spark: SparkSession, table: String,
      m: Manifest, files: Seq[String],
      probes: Seq[(String, DataType, Seq[Any])]): Seq[String] = {
    val idx = m.bloomIndex.getOrElse(Seq.empty)
    val live = probes.filter { case (c, _, _) => idx.contains(c) }
    if (live.isEmpty) files
    else {
      val t = fs(spark, new Path(table)).makeQualified(new Path(table))
      files.filter(rel => live.forall { case (c, dt, vs) =>
        bloomMightContain(spark, t, rel, c, dt, vs) })
    }
  }
}
