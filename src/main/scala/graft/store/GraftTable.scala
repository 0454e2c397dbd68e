package graft.store

import graft.query.Where
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The computed next state of one mutation: the full next table state as a
  * lazy plan, the set of partition keys the mutation touches (ONLY these
  * slices get rewritten), and the matched/inserted row count. */
private[store] final case class Staged(next: DataFrame, touched: Set[String], n: Long)

/** Isolation levels accepted by `\$transaction`
  * (`internal/prismaNamespace.ts:885-892`). The store ALWAYS provides
  * snapshot reads (manifest resolved once per txn) with an optimistic
  * serializable commit (base-version check + atomic manifest swap), so
  * every requested level is satisfied by these equal-or-stronger
  * semantics; the option exists for API parity and intent documentation. */
object IsolationLevel extends Enumeration {
  val ReadUncommitted, ReadCommitted, RepeatableRead, Snapshot, Serializable = Value
}

/** `\$transaction` options (`internal/prismaNamespace.ts:885-892`):
  * `maxWaitMs` bounds waiting for the commit lock (P2024 on expiry, the
  * connection-pool `maxWait` analog), `timeoutMs` bounds the whole
  * interactive closure via Spark job-group cancellation (P2028;
  * 0 = unbounded), `isolation` as documented on [[IsolationLevel]].
  * Defaults mirror Prisma's (maxWait 2 s, timeout 5 s). */
final case class TxnOptions(
    maxWaitMs: Long = 2000,
    timeoutMs: Long = 5000,
    isolation: IsolationLevel.Value = IsolationLevel.Serializable)

/** The write side of the Prisma model surface (SURVEY §2.A #6–14, #19)
  * over a [[Catalog]]-managed copy-on-write table.
  *
  * Mutations never touch existing files: each op computes the next table
  * state as a DataFrame, derives the set of touched partition slices from
  * its predicate / incoming keys, and stages a new version for ONLY those
  * slices; [[Txn.commit]] (or the auto-commit wrappers here) publishes
  * staged slice versions atomically. A status flip on a status-partitioned
  * table rewrites the affected status slices, never the whole table — the
  * partition-scoped COW that makes row-level-ish writes viable at 100 TB
  * (what PostgreSQL gives the reference for free, `schema.prisma:12-14`).
  *
  * Unique keys are enforced engine-side (parquet has no indexes): inserts
  * anti-join the incoming batch against the current snapshot and against
  * itself. `skipDuplicates=true` mirrors `createMany({skipDuplicates})`
  * (`effect.ts:479-485`) and the swallowed unique-violation insert of
  * `extractGooglePlaces.ts:305-317`; `false` throws the P2002 equivalent.
  *
  * Timestamps: `createdAt` defaults to now() on insert, `updatedAt` is
  * touched on every write that changes a row — the `@default(now())` /
  * `@updatedAt` behavior of `schema.prisma:26-27`.
  */
final class GraftTable(
    val spark: SparkSession,
    val catalog: Catalog,
    val name: String,
    val schema: StructType,
    val uniqueKeys: Seq[Seq[String]] = Nil,
    val timestampCols: Seq[String] = Nil,
    /** Partition columns: the table is stored as one independently-versioned
      * slice per distinct value tuple, so (a) selective reads (e.g. the
      * `status IS NULL` poll slice, `runner/locator.ts:61-67`) list only the
      * matching slice directories ([[snapshotSlice]]) and (b) mutations
      * rewrite only the slices they touch — the SURVEY §4.2 layout
      * requirement for status-polled tables at 100 TB. */
    val partitionCols: Seq[String] = Nil,
    /** Per-column maximum string lengths (the `VARCHAR(n)` contract of
      * the reference's Postgres columns): any written value longer than
      * its declared cap raises the P2000 equivalent. Parquet stores
      * strings untyped, so enforcement is engine-side, riding the same
      * validation pass as the NULL/unique checks. */
    val maxLengths: Map[String, Int] = Map.empty,
    /** Columns to cover with parquet BLOOM FILTERS at write time — the
      * point-lookup complement of min/max stats: a high-cardinality
      * UNSORTED column (an external key, a phone, a URL) has overlapping
      * per-file ranges that min/max and z-order can never prune, but a
      * per-file membership sketch rejects files that provably lack the
      * looked-up value. The write pays one parquet-native bloom per file
      * (built inline by the writer — no extra scan); [[SliceStats]] lifts
      * the filter bytes into the sidecar so [[GraftFileIndex]] can test
      * equality/IN conjuncts at PLANNING time, before any task launches —
      * at 100 TB a point lookup touches the one file that can match
      * instead of every file whose range overlaps. */
    val bloomCols: Seq[String] = Nil,
    /** Expected distinct values per file for [[bloomCols]] — sizes the
      * bloom bitset (parquet's optimalNumOfBits at 1% FPP). */
    val bloomNdv: Long = 100000L) {

  /** ON DELETE RESTRICT relations: (child table, child FK column, parent
    * key column) triples whose live child rows block deletion of referenced
    * parent rows — the referential behavior Prisma/Postgres give the
    * reference's `CrmSyncEvent.companyId → Company.id` FK
    * (`migration.sql:93`, declared `schema.prisma:80-82`). */
  private[store] var restricts: Seq[(GraftTable, String, String)] = Nil

  maxLengths.foreach { case (c, mx) =>
    require(mx > 0, s"$name: maxLength for $c must be positive")
    require(schema.fieldNames.contains(c), s"$name: no column $c for maxLengths")
    require(schema(c).dataType == StringType,
      s"$name: maxLengths applies to string columns only ($c is ${schema(c).dataType})")
  }

  require(bloomNdv > 0, s"$name: bloomNdv must be positive")
  bloomCols.foreach { c =>
    require(schema.fieldNames.contains(c), s"$name: no column $c for bloomCols")
  }

  /** DataFrameWriter options enabling parquet-native bloom filters on
    * [[bloomCols]] — applied by every slice write (staging and
    * compaction), so the sidecar collection that follows each write can
    * lift the filters without a second scan. */
  private[store] def bloomWriteOptions: Map[String, String] =
    bloomCols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> bloomNdv.toString)).toMap

  // "__" prefixes are reserved for engine-internal staging columns
  // (__pk in slice staging, __o_/__n_/__present_ in the change feed,
  // __rn/__keep in create dedup…): a user column with the prefix could
  // silently collide with one of them deep inside a write plan — refuse
  // at declaration, where the error is legible.
  schema.fieldNames.foreach(c => require(!c.startsWith("__"),
    s"$name: column $c — the __ prefix is reserved for engine columns"))

  /** The inverse view, registered on the CHILD: (parent, childCol,
    * parentCol) triples validated on child-side writes — inserting or
    * updating a child row whose FK value has no parent row raises P2003,
    * exactly as the Postgres FK does on orphan inserts (a FK constrains
    * BOTH directions; `ON DELETE RESTRICT` is only its delete behavior).
    * NULL FK values pass (SQL `MATCH SIMPLE`, Prisma optional relation). */
  private[store] var parentRefs: Seq[(GraftTable, String, String)] = Nil

  /** Declare `child.childCol REFERENCES this.parentCol ON DELETE RESTRICT`:
    * any delete on this table whose doomed rows are still referenced by
    * `child` throws the P2003 equivalent, and any child write with a
    * dangling `childCol` does too. Registration is post-construction
    * (child tables are usually built after their parents). */
  def onDeleteRestrict(child: GraftTable, childCol: String, parentCol: String): this.type = {
    require(child.schema.fieldNames.contains(childCol),
      s"${child.name}: no column $childCol")
    require(schema.fieldNames.contains(parentCol), s"$name: no column $parentCol")
    restricts :+= ((child, childCol, parentCol))
    child.parentRefs :+= ((this, childCol, parentCol))
    this
  }

  /** ON DELETE CASCADE relations: (child, childCol, parentCol) triples
    * whose referencing child rows are DELETED in the same transaction as
    * referenced parent rows — the join-table behavior of the reference's
    * `_CompanyToFirmService` FKs (`migration.sql:96-99`). */
  private[store] var cascades: Seq[(GraftTable, String, String)] = Nil

  /** Declare `child.childCol REFERENCES this.parentCol ON DELETE CASCADE`:
    * deleting rows here deletes matching `child` rows inside the SAME
    * commit (atomic: the manifest swap publishes both or neither).
    * Cascades compose depth-first — a cascaded child delete honors the
    * child's own declared CASCADE/RESTRICT relations — and child-side
    * writes validate the FK exactly as under RESTRICT (a dangling insert
    * is P2003 either way; only the delete behavior differs). */
  def onDeleteCascade(child: GraftTable, childCol: String, parentCol: String): this.type = {
    require(child.schema.fieldNames.contains(childCol),
      s"${child.name}: no column $childCol")
    require(schema.fieldNames.contains(parentCol), s"$name: no column $parentCol")
    cascades :+= ((child, childCol, parentCol))
    child.parentRefs :+= ((this, childCol, parentCol))
    this
  }

  /** Metadata-only schema evolution (Delta/Iceberg ADD/DROP COLUMN): a
    * new handle over the SAME catalog state with the evolved schema — no
    * file is rewritten. Added columns must be nullable; existing files
    * simply lack them, and the explicit-schema parquet read
    * ([[readDirs]]) null-fills on the fly, so at 100 TB adding a column
    * costs one manifest line, not a table rewrite. Dropped columns keep
    * their bytes on disk (reads project them away); a later vacuum-style
    * rewrite could reclaim them. Writes through the evolved handle carry
    * the new shape; readers holding the old handle keep working (their
    * schema is a projection of the files either way). FK registrations
    * carry over; uniqueKeys/timestampCols/partitionCols must survive a
    * drop (enforced). */
  def evolve(add: Seq[StructField] = Nil, drop: Seq[String] = Nil): GraftTable = {
    add.foreach { f =>
      require(f.nullable,
        s"$name: added column ${f.name} must be nullable (existing rows have no value)")
      require(!schema.fieldNames.contains(f.name), s"$name: column ${f.name} exists")
    }
    // FK-backing columns are as load-bearing as keys: restricts/cascades
    // reference parentCol on THIS table, parentRefs reference childCol
    // on THIS table — dropping any of them would break FK validation at
    // the next write, far from this call
    val protectedCols =
      uniqueKeys.flatten ++ timestampCols ++ partitionCols ++
        restricts.map(_._3) ++ cascades.map(_._3) ++ parentRefs.map(_._2)
    drop.foreach { c =>
      require(schema.fieldNames.contains(c), s"$name: no column $c to drop")
      require(!protectedCols.contains(c),
        s"$name: cannot drop $c (key/timestamp/partition/FK column)")
    }
    val evolved = StructType(
      schema.fields.filterNot(f => drop.contains(f.name)) ++ add)
    val t = new GraftTable(spark, catalog, name, evolved, uniqueKeys,
      timestampCols, partitionCols, maxLengths -- drop)
    t.restricts = restricts
    t.parentRefs = parentRefs
    t.cascades = cascades
    // Persist the evolved schema's fingerprint in the manifest (reserved
    // __schema__ entry, same atomic swap + OCC as data commits): writers
    // still holding THIS pre-evolve handle now fail fast with P2022
    // instead of silently nulling evolved columns in rewritten slices.
    // The expectedBase guard makes two racing evolve() calls an explicit
    // P2034 conflict rather than a lost schema. This handle must ITSELF
    // be current: evolving from a stale handle would commit a fingerprint
    // derived from a stale lineage, silently superseding (and orphaning)
    // a newer schema's columns.
    val m = catalog.manifest()
    assertSchemaCurrent(m)
    catalog.commit(
      Map(Catalog.SchemaTable -> m.get(Catalog.SchemaTable)),
      Map(Catalog.SchemaTable ->
        Map(Catalog.encodeValue(name) -> Some(t.schemaFingerprint))))
    t
  }

  /** Throw the P2022 stale-schema error if the catalog has a persisted
    * fingerprint for this table that differs from this handle's — the
    * shared guard for EVERY path that rewrites slices through the
    * handle's declared projection: transactional writes
    * ([[Txn.workingDirs]]), [[compact]] (which rewrites whole slices
    * outside any Txn), and [[evolve]] itself (a stale handle must not
    * supersede a newer schema with a fingerprint derived from its stale
    * lineage). */
  private[store] def assertSchemaCurrent(
      m: Map[String, Map[String, String]]): Unit =
    m.get(Catalog.SchemaTable)
      .flatMap(_.get(Catalog.encodeValue(name)))
      .filter(_ != schemaFingerprint)
      .foreach { _ =>
        throw new StaleSchemaException(
          s"$name: schema evolved since this handle was created — " +
            "use the handle returned by evolve()")
      }

  /** Stable fingerprint of the declared schema (name:type:nullability per
    * field, order-sensitive) — the value [[evolve]] persists and write
    * transactions validate against. */
  private[store] lazy val schemaFingerprint: String = {
    val ddl = schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}").mkString(";")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private[store] def emptyDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Union-read of a set of slice directories, re-aligned to declared
    * column order. Explicit schema → an empty/fileless dir reads as 0 rows. */
  private[store] def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyDf
    else spark.read.schema(schema).parquet(dirs.sorted: _*)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Current committed snapshot (empty DataFrame before first insert). */
  def snapshot(): DataFrame = readDirs(catalog.currentDirs(name).values.toSeq)

  /** A [[graft.query.Model]] reading this table's current snapshot with
    * stats-based data skipping wired in: the model's where-clause scalar
    * conjuncts route through [[snapshotWhere]], so Prisma-surface reads
    * (findMany/count/aggregate/groupBy) prune slices and files before the
    * scan. Resolve-per-call (`df` is a thunk) — each read sees the latest
    * committed snapshot, exactly like `snapshot()`. */
  def model(primaryKey: String,
            relations: Seq[graft.query.Relation] = Nil): graft.query.Model =
    new graft.query.Model(
      () => snapshot(), primaryKey,
      // Only SINGLE-column keys are individually unique: a column of a
      // composite key (Seq("a","b")) admits duplicates on its own, so
      // passing it would let findUnique return an arbitrary limit(1) row.
      uniqueKeys = uniqueKeys.collect { case Seq(c) => c }.distinct,
      relations = relations,
      pruneSource = Some(snapshotWhere _))

  /** Time travel: the table exactly as of catalog commit `commitId`
    * ([[Catalog.currentCommitId]] — record it next to a training run's
    * config and the run's corpus is pinned forever, or until
    * [[Catalog.vacuum]]'s retention reclaims the superseded versions;
    * within retention this is Iceberg/Delta `VERSION AS OF`). */
  def snapshotAt(commitId: Long): DataFrame =
    readDirs(catalog.dirsAt(name, commitId).values.toSeq)

  /** RESTORE to an earlier commit (the Delta `RESTORE TABLE … VERSION AS
    * OF` shape): publish a NEW commit whose slice pointers for this table
    * equal those at `commitId` — a pure manifest operation, no data is
    * rewritten or copied, so restoring a 100 TB table costs one manifest
    * swap. History stays append-only: the bad commits remain time-
    * travelable ([[snapshotAt]] across the restore still sees them), and
    * the restore itself is an ordinary OCC commit (a racing writer turns
    * it into the usual P2034 retry). `commitId` 0 restores to the empty
    * table (before any commit). Restore never resurrects reclaimed data:
    * if [[Catalog.vacuum]] already dropped a restored-to slice version,
    * this throws P2025 instead of publishing dangling pointers. A no-op
    * restore (pointers already equal) publishes nothing. */
  def restoreTo(commitId: Long): Unit = {
    val m0 = catalog.manifest()
    assertSchemaCurrent(m0)
    val schemaBase = m0.get(Catalog.SchemaTable)
    val base = m0.get(name)
    val target: Map[String, String] =
      if (commitId == 0L) Map.empty
      else catalog.manifestAt(commitId).getOrElse(name, Map.empty)
    target.foreach { case (pk, v) =>
      val dir = catalog.versionDir(name, pk, v)
      if (!new java.io.File(dir).isDirectory)
        throw new RecordNotFoundException(
          s"$name: slice $pk version $v of commit $commitId was vacuumed — " +
            "cannot restore past the retention window")
    }
    val cur = base.getOrElse(Map.empty[String, String])
    if (cur != target) {
      val updates: Map[String, Option[String]] =
        (cur.keySet ++ target.keySet).iterator
          .map(pk => pk -> target.get(pk)).toMap
      catalog.commit(Map(name -> base, Catalog.SchemaTable -> schemaBase),
        Map(name -> updates))
    }
  }

  /** Bin-pack small slice files. Every commit writes a slice with the
    * mutation's write parallelism, so a frequently-flipped slice (the
    * status-partitioned poll queue) accumulates file sets commit after
    * commit — and at 100 TB the per-file open/footer cost starts to
    * dominate the scan. Rewrites each current slice holding more than
    * `maxFiles` data files into `ceil(bytes / targetBytes)` files and
    * publishes all rewrites in ONE atomic manifest commit (OCC-checked:
    * a concurrent writer moving the table fails the compaction, never the
    * writer). Readers holding the old snapshot are untouched — old
    * versions stay on disk until [[Catalog.vacuum]]. Returns the number
    * of slices rewritten. File listing goes through java.nio here because
    * the catalog root is a local path; an object-store deployment would
    * swap in the Hadoop FileSystem API.
    *
    * `zorderBy`: when non-empty, EVERY current slice is rewritten (not
    * just fragmented ones) range-partitioned + sorted by the Morton
    * z-value of those columns ([[Zorder]]), so each output file covers a
    * narrow band of every clustered column — [[snapshotWhere]]'s
    * file-level skipping then prunes on any of them. */
  def compact(maxFiles: Int = 4, targetBytes: Long = 128L << 20,
              zorderBy: Seq[String] = Nil): Int = {
    // Stale-schema guard + pin: compact rewrites WHOLE slices through
    // this handle's declared projection outside any Txn — a pre-evolve
    // handle would silently null evolved columns in every compacted
    // slice. Checked here AND pinned into expectedBase below, so an
    // evolve() landing during the (possibly long) rewrite job turns into
    // a P2034 conflict instead of committing the stale projection.
    val m0 = catalog.manifest()
    assertSchemaCurrent(m0)
    val schemaBase = m0.get(Catalog.SchemaTable)
    val base = m0.get(name)
    var staged = Map.empty[String, Option[String]]
    catalog.currentDirs(name).foreach { case (pk, dir) =>
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (files.length > maxFiles || (zorderBy.nonEmpty && files.nonEmpty)) {
        val totalBytes = files.map(_.length()).sum
        val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
        val (v, outDir) = catalog.newVersionDir(name, pk)
        val slice = readDirs(Seq(dir))
        val out =
          if (zorderBy.isEmpty) slice.coalesce(nOut)
          else Zorder.withZValue(slice, zorderBy, "__z")
            .repartitionByRange(nOut, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        out.write.mode("overwrite").options(bloomWriteOptions).parquet(outDir)
        SliceStats.writeSidecar(spark, outDir, bloomCols.toSet)
        staged += (pk -> Some(v))
      }
    }
    if (staged.nonEmpty)
      catalog.commit(Map(name -> base, Catalog.SchemaTable -> schemaBase),
        Map(name -> staged))
    staged.size
  }

  /** Catalog-level partition pruning: read only the slices whose partition
    * values match `values` (null allowed; columns omitted from `values`
    * match any slice). At 100 TB this skips even the file LISTING of
    * non-matching slices — stronger than scan-side row-group skipping. */
  def snapshotSlice(values: Map[String, Any]): DataFrame = {
    val unknown = values.keySet -- partitionCols.toSet
    require(unknown.isEmpty,
      s"$name: snapshotSlice on non-partition column(s) ${unknown.mkString(",")} " +
        s"(partitioned by ${if (partitionCols.isEmpty) "<nothing>" else partitionCols.mkString(",")})" +
        " — would silently read nothing")
    val tokens = values.map { case (c, v) => s"$c=${Catalog.encodeValue(v)}" }.toSet
    val dirs = catalog.currentDirs(name).collect {
      case (pk, dir) if tokens.subsetOf(pk.split(",").toSet) => dir
    }.toSeq
    readDirs(dirs)
  }

  /** Stats-based data skipping: a filtered snapshot that drops every slice
    * whose footer-derived column ranges ([[SliceStats]] sidecar) prove the
    * predicate can't match — the Iceberg/Delta file-skipping idea at the
    * slice granularity, orthogonal to [[snapshotSlice]]'s partition-value
    * pruning (this one prunes on ANY column with usable stats, e.g. an id
    * range or a timestamp window on a status-partitioned table).
    *
    * Works on the predicate's AND-conjuncts of shape `col op literal`,
    * `IN`, `IS [NOT] NULL`. The FULL predicate is always re-applied to the
    * surviving slices — a missing/corrupt sidecar (e.g. a pre-stats slice)
    * or an unrecognized conjunct only disables skipping, never correctness.
    * At 100 TB this prunes before any slice file listing or footer open:
    * the read plans over the kept directories only. */
  def snapshotWhere(pred: Column): DataFrame =
    readDirs(prunedPaths(pred)._1).filter(pred)

  /** The snapshot as a pruning scan RELATION ([[GraftFileIndex]]): a
    * `HadoopFsRelation` whose file listing happens at planning time under
    * whatever filters Catalyst pushes down — so a plain `.filter` (or a
    * SQL WHERE over a registered view, or a join's pushed predicate)
    * skips slices/files with NO explicit [[snapshotWhere]] call, and the
    * scan is Spark's own vectorized parquet reader with `PushedFilters`
    * row-group pruning on top. Pinned to the current commit at call time,
    * exactly like [[snapshot]]. */
  def snapshotRelation(): DataFrame = snapshotRelationWithIndex()._1

  /** Time-travel twin of [[snapshotRelation]] ([[snapshotAt]] semantics). */
  def snapshotRelationAt(commitId: Long): DataFrame =
    relationFor(catalog.dirsAt(name, commitId).values.toSeq.sorted)._1

  /** [[snapshotRelation]] plus its index — the index exposes the last
    * planning decision (kept/total files) for specs and skip-ratio
    * reporting. */
  private[graft] def snapshotRelationWithIndex(): (DataFrame, GraftFileIndex) =
    relationFor(catalog.currentDirs(name).values.toSeq.sorted)

  private def relationFor(dirs: Seq[String]): (DataFrame, GraftFileIndex) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val idx = new GraftFileIndex(spark, name, dirs, schema)
    val rel = HadoopFsRelation(idx, StructType(Nil), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(spark)
    (org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      LogicalRelation(rel)), idx)
  }

  /** The predicate's AND-conjuncts, resolved against the table schema
    * (driver-side analysis only, no job): typed catalyst comparisons with
    * coerced literals — exactly what the stats domain can evaluate. */
  private def resolvedConjuncts(pred: Column) = {
    val analyzed = emptyDf.filter(pred).queryExecution.analyzed
    analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.map(SliceStats.conjuncts).getOrElse(Nil)
  }

  /** (kept dirs, total dirs) under slice-level stats pruning — split out
    * for tests and for callers that want the skip ratio. */
  private[store] def prunedDirs(pred: Column): (Seq[String], Int) = {
    val cs = resolvedConjuncts(pred)
    val all = catalog.currentDirs(name).values.toSeq
    val kept = all.filter { dir =>
      SliceStats.readSidecar(dir) match {
        case Some(st) => cs.forall(c => SliceStats.mayMatch(c, st))
        case None     => true // no sidecar → never skip
      }
    }
    (kept, all.size)
  }

  /** Two-level pruning: slices by merged stats, then FILES inside each
    * surviving slice by their own footer ranges — the read plans over the
    * kept file paths only. File granularity is what a z-order compaction
    * ([[compact]]'s `zorderBy`) feeds: the slice range of a clustered
    * column stays wide while each file covers a narrow band.
    * Returns (kept paths — dirs when a slice has no file stats —, kept
    * file count, total file count known to sidecars). */
  private[store] def prunedPaths(pred: Column): (Seq[String], Int, Int) = {
    val cs = resolvedConjuncts(pred)
    var keptFiles = 0
    var totalFiles = 0
    val paths = catalog.currentDirs(name).values.toSeq.sorted.flatMap { dir =>
      SliceStats.readSidecar(dir) match {
        case Some(st) =>
          totalFiles += st.files.size
          if (!cs.forall(c => SliceStats.mayMatch(c, st))) Nil
          else if (st.files.isEmpty) Seq(dir) // legacy sidecar: whole slice
          else {
            val kept = st.files.toSeq.sortBy(_._1).collect {
              case (f, fs) if fs.rows > 0 && cs.forall(c =>
                SliceStats.mayMatch(c,
                  SliceStats.Stats(fs.rows, fs.cols))) &&
                cs.forall(c => SliceStats.bloomMayMatch(c, fs)) => s"$dir/$f"
            }
            keptFiles += kept.size
            kept
          }
        case None => Seq(dir) // no sidecar → never skip
      }
    }
    (paths, keptFiles, totalFiles)
  }

  /** Scan-prunable predicate equivalent to `partKey == pk` over the RAW
    * partition columns: typed `col = literal` / `col IS NULL` conjuncts
    * push into parquet scans (file/row-group stat pruning), which the
    * derived string `__pk` never can. Only emitted when every partition
    * column's type roundtrips its string encoding exactly (string,
    * boolean, integrals, date) — else None, and staging falls back to the
    * authoritative-but-unpruned `__pk` filter alone. The `__pk` residual is
    * ALWAYS also applied, so this is purely a pruning aid, never a
    * correctness dependency. */
  private[store] def sliceFilter(pk: String): Option[Column] = {
    def safeType(dt: DataType): Boolean = dt match {
      case StringType | BooleanType | ByteType | ShortType |
           IntegerType | LongType | DateType => true
      case _ => false
    }
    if (pk == Catalog.AllKey) Some(lit(true))
    else {
      val preds = pk.split(",", -1).toSeq.map { tok =>
        val i = tok.indexOf('=')
        val c = tok.substring(0, i)
        val venc = tok.substring(i + 1)
        schema.fields.find(_.name == c) match {
          case Some(f) if safeType(f.dataType) =>
            if (venc == Catalog.NullToken)
              // a STRING value literally equal to the null token encodes to
              // the same slice as NULL — the pre-filter must admit both or
              // those rows would be dropped from the rewrite
              Some(if (f.dataType == StringType)
                col(c).isNull || col(c) === lit(Catalog.NullToken)
              else col(c).isNull)
            else Some(col(c) ===
              lit(java.net.URLDecoder.decode(venc, "UTF-8")).cast(f.dataType))
          case _ => None
        }
      }
      if (preds.forall(_.isDefined))
        Some(preds.flatten.reduceOption(_ && _).getOrElse(lit(true)))
      else None
    }
  }

  /** Partition-key expression: `col1=<urlenc(value)>,col2=...`, the literal
    * [[Catalog.AllKey]] for unpartitioned tables. Scala-side counterpart is
    * [[Catalog.encodeValue]] — both must produce identical strings. */
  private[store] def partKeyCol: Column =
    if (partitionCols.isEmpty) lit(Catalog.AllKey)
    else concat_ws(",", partitionCols.map(c =>
      concat(lit(c + "="),
        coalesce(url_encode(col(c).cast("string")), lit(Catalog.NullToken)))): _*)

  private def touch(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(timestampCols.contains).filter(schema.fieldNames.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, current_timestamp()))

  private def align(df: DataFrame): DataFrame =
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*)

  // ---------- single-op auto-commit surface ----------

  def create(rows: DataFrame): Long = autoCommit(_.create(this, rows))
  def createMany(rows: DataFrame, skipDuplicates: Boolean = false): Long =
    autoCommit(_.createMany(this, rows, skipDuplicates))
  /** createManyAndReturn (`effect.ts:487-493`): bulk insert returning the
    * actually-inserted rows (duplicates excluded under skipDuplicates). */
  def createManyAndReturn(rows: DataFrame, skipDuplicates: Boolean = false): DataFrame = {
    val txn = new Txn(catalog)
    val out = txn.createManyAndReturn(this, rows, skipDuplicates)
    txn.commit()
    out
  }
  /** updateManyAndReturn (`effect.ts:527-533`): bulk update returning the
    * post-update state of every matched row. */
  def updateManyAndReturn(where: Where, set: Map[String, Column]): DataFrame = {
    val txn = new Txn(catalog)
    val out = txn.updateManyAndReturn(this, where, set)
    txn.commit()
    out
  }
  def update(where: Where, set: Map[String, Column]): Long =
    autoCommit(_.update(this, where, set))
  def updateMany(where: Where, set: Map[String, Column]): Long =
    autoCommit(_.updateMany(this, where, set))
  def delete(where: Where): Long = autoCommit(_.delete(this, where))
  def deleteMany(where: Where): Long = autoCommit(_.deleteMany(this, where))
  def upsert(keyCols: Seq[String], rows: DataFrame): Long =
    autoCommit(_.upsert(this, keyCols, rows))
  /** Nested create, auto-committed (see [[Txn.createNested]]). */
  def createNested(rows: DataFrame, nested: Seq[NestedWrite],
                   skipDuplicates: Boolean = false): Long =
    autoCommit(_.createNested(this, rows, nested, skipDuplicates))

  private def autoCommit(f: Txn => Long): Long = {
    val txn = new Txn(catalog)
    val n = f(txn)
    txn.commit()
    n
  }

  // ---------- staged (transactional) computation ----------

  /** Distinct partition keys of a slice plus its row count, in one action.
    * An update's census passes its SET: when the SET writes a partition
    * column, rows are keyed by their pre- AND post-SET slice from the same
    * `groupBy`, so a partition-moving update touches both source and
    * destination slices. Only rows satisfying `counted` count (an
    * else-branch rewrites rows the statement does not report). */
  private def pkStats(df: DataFrame, set: Map[String, Column] = Map.empty,
                      counted: Column = lit(true)): (Set[String], Long) = {
    val moves = partitionCols.exists(set.contains)
    val keyed = df.withColumn("__pk", partKeyCol)
    val grouped =
      if (moves) withSet(keyed, lit(true), set).groupBy(col("__pk"), partKeyCol.as("__postpk"))
      else keyed.groupBy(col("__pk"))
    val rows = grouped.agg(count(when(counted, 1)).as("n")).collect()
    val keyCols = if (moves) 2 else 1
    (rows.flatMap(r => (0 until keyCols).map(r.getString)).toSet,
      rows.map(_.getAs[Long]("n")).sum)
  }

  /** Apply a SET clause to rows where `cond` holds (untouched rows pass
    * through); `updatedAt` is touched on matched rows. The caller must have
    * materialized `cond` into a column BEFORE this rewrites anything the
    * predicate references.
    *
    * ONE simultaneous projection, not a per-column fold: every SET
    * expression evaluates against the PRE-update row, so
    * `SET a = b, b = a` swaps (Postgres semantics) instead of reading a
    * half-rewritten row. */
  private def withSet(df: DataFrame, cond: Column, set: Map[String, Column]): DataFrame =
    df.select(df.columns.toIndexedSeq.map { c =>
      set.get(c) match {
        case Some(newVal) => when(cond, newVal).otherwise(col(c)).as(c)
        case None if c == "updatedAt" && schema.fieldNames.contains("updatedAt") &&
          timestampCols.contains("updatedAt") =>
          when(cond, current_timestamp()).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)

  private[store] def stagedCreate(current: DataFrame, rows: DataFrame,
                                  failOnDup: Boolean): Staged =
    stagedCreateReturning(current, rows, skipDuplicates = !failOnDup)._1

  /** SET applied unconditionally to every row of `df` (FK validation views). */
  private[store] def applySet(df: DataFrame, set: Map[String, Column]): DataFrame =
    withSet(df, lit(true), set)

  /** stagedCreate that also returns the inserted slice
    * (createManyAndReturn, `effect.ts:487-493`).
    *
    * ONE materialization of the incoming batch, with the survivor flag
    * computed INSIDE it: the in-batch dedup ranks (sequential per unique
    * key) and the snapshot existence probes all fold into a `__keep`
    * column frozen by a single checkpoint, and the per-slice stats, raw
    * count, and null-constraint check fold into a single collect — three
    * actions per insert (materialize, stats, slice write) where the
    * round-3 path paid five, and at 100 TB the batch materializes once,
    * not twice. The survivor choice among duplicate keys is arbitrary
    * (as `dropDuplicates`' was) but frozen: every consumer — the stats
    * action, FK probes, the slice writes, the returned slice — sees the
    * same winners.
    *
    * `currentEmpty` = the caller (the transaction, which owns the
    * slice-dir map) KNOWS `current` has no committed slices — pre-first
    * insert — so the snapshot probes are skipped entirely.
    *
    * `carry`: non-schema batch columns (a nested write's payload) that
    * ride the checkpoint and come back on the returned slice, so a caller
    * derives more writes from the SAME frozen survivors the slice writes
    * see. `nonNullKey`: columns that must be non-null on every batch row
    * (P2011 otherwise) — one more observed metric, no extra action. */
  private[store] def stagedCreateReturning(current: DataFrame, rows: DataFrame,
                                           skipDuplicates: Boolean,
                                           currentEmpty: Boolean = false,
                                           carry: Seq[String] = Nil,
                                           nonNullKey: Seq[String] = Nil): (Staged, DataFrame) = {
    // a nondeterministic expression can't sit inside a window ORDER BY —
    // project the tie-break id first (its value is arbitrary; the
    // checkpoint below freezes whatever was drawn)
    var marked = touch(rows.select((schema.fieldNames.toSeq ++ carry).map(col): _*),
      timestampCols)
      .withColumn("__mid", monotonically_increasing_id())
    var keep: Column = lit(true)
    var tmpCols: Seq[String] = Seq("__mid")
    uniqueKeys.zipWithIndex.foreach { case (uk, i) =>
      // ordering by the previous keep-flag makes the chain equivalent to
      // SEQUENTIAL dedup passes: a row eliminated by an earlier key never
      // displaces a survivor in a later key's group. A key with any NULL
      // column never conflicts (SQL UNIQUE semantics — Postgres admits
      // multiple NULLs), so such rows bypass the rank entirely; the
      // snapshot probes below agree for free (a NULL key joins nothing).
      val anyNull = uk.map(col(_).isNull).reduce(_ || _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(uk.map(col): _*)
        .orderBy(keep.cast("int").desc, col("__mid"))
      marked = marked.withColumn(s"__k$i",
        keep && (anyNull || row_number().over(w) === 1))
      keep = col(s"__k$i")
      tmpCols :+= s"__k$i"
    }
    if (!currentEmpty) uniqueKeys.zipWithIndex.foreach { case (uk, i) =>
      // left-join probe instead of an anti-join so non-surviving rows stay
      // countable; keys are unique in the snapshot (engine invariant), so
      // the join multiplies nothing, and a NULL key matches nothing — SQL
      // unique-constraint behavior, same as the anti-join it replaces
      val probe = current.select(uk.map(col): _*).withColumn(s"__ex$i", lit(true))
      marked = marked.join(probe, uk, "left")
      keep = keep && col(s"__ex$i").isNull
      tmpCols :+= s"__ex$i"
    }
    // stats + raw count + null-constraint + length checks RIDE THE
    // CHECKPOINT action as observed metrics — the insert path pays TWO
    // driver actions (materialize-with-stats, slice write), not three.
    // NULL into a non-nullable column is the P2011 equivalent; a string
    // over its declared maxLengths cap is P2000 (parquet itself would
    // happily store either; only surviving rows are checked).
    val required = schema.fields.filterNot(_.nullable).map(_.name).toSeq
    val nullViol = required.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val lenViol = maxLengths.toSeq
      .map { case (c, mx) => length(col(c)) > mx }
      .reduceOption(_ || _).getOrElse(lit(false))
    val nullKey = nonNullKey.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val obs = new org.apache.spark.sql.Observation()
    marked = marked.withColumn("__keep", keep).drop(tmpCols: _*)
      .observe(obs,
        count(lit(1)).as("all"),
        count(when(col("__keep"), 1)).as("n"),
        count(when(col("__keep") && nullViol, 1)).as("nv"),
        count(when(col("__keep") && lenViol, 1)).as("lv"),
        count(when(nullKey, 1)).as("nk"),
        collect_set(when(col("__keep"), partKeyCol)).as("pks"))
      .localCheckpoint()
    val m = obs.get
    if (m("nk").asInstanceOf[Long] > 0)
      throw new NullConstraintException(
        s"$name: createNested parent key ${nonNullKey.mkString(",")} must be " +
          "non-null (null-keyed parents cannot be paired with their nested writes)")
    val rawN = m("all").asInstanceOf[Long]
    val n = m("n").asInstanceOf[Long]
    val touched = m("pks").asInstanceOf[scala.collection.Seq[String]].toSet
    if (m("nv").asInstanceOf[Long] > 0)
      throw new NullConstraintException(
        s"$name: NULL in non-nullable column (one of ${required.mkString(",")})")
    if (m("lv").asInstanceOf[Long] > 0)
      throw new ValueTooLongException(
        s"$name: value exceeds declared max length " +
          s"(${maxLengths.map { case (c, mx) => s"$c<=$mx" }.mkString(",")})")
    if (!skipDuplicates && uniqueKeys.nonEmpty && n < rawN)
      throw new UniqueViolationException(
        s"$name: unique constraint would be violated on ${uniqueKeys.mkString(",")}")
    // the probe using-joins moved the key columns to the front — put the
    // returned slice back in declared order (createManyAndReturn hands
    // this frame to the caller; positional consumers must see the schema),
    // followed by the carried payload columns
    val survivors = marked.filter(col("__keep"))
    val clean = survivors.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val returned =
      if (carry.isEmpty) clean
      else survivors.select((schema.fieldNames.toSeq ++ carry).map(col): _*)
    (Staged(current.unionByName(clean), touched, n), returned)
  }

  /** The post-update image of ONLY the matched rows — the slice FK
    * re-validation inspects (scanning the whole post-update table would
    * both cost a full anti-join per FK-touching update and reject updates
    * over pre-existing orphans the update never touched). */
  private[store] def updatedView(current: DataFrame, where: Where,
                                 set: Map[String, Column]): DataFrame = {
    val cond = coalesce(Where.compile(where, current.apply), lit(false))
    withSet(current.filter(cond), lit(true), set)
  }

  /** The PRE-update image of the matched rows (ON UPDATE CASCADE builds
    * its old→new key map from this). */
  private[store] def matchedView(current: DataFrame, where: Where): DataFrame =
    current.filter(coalesce(Where.compile(where, current.apply), lit(false)))

  /** stagedUpdate that also returns the post-update matched slice
    * (updateManyAndReturn, `effect.ts:527-533`).
    *
    * The matched count and touched-slice stats ride the returned slice's
    * checkpoint as observed metrics — ONE driver action where the naive
    * path (stagedUpdate's pkStats + a separate checkpoint) paid three.
    * Pre-image partition keys are carried through the SET as a projected
    * column so a partition-moving update still touches both source and
    * destination slices. */
  /** Write-path constraint checks over the written/updated rows: a
    * capped string column over its maxLengths limit is P2000; NULL
    * written into a non-nullable SET column is P2014 when the column is
    * a declared FK (a required relation severed at the relation level)
    * and P2011 otherwise (the raw column constraint). All probes are
    * limit(1) — the violation set never materializes. Probe cost: zero
    * when no SET column is capped or non-nullable; otherwise one
    * evaluation of the frame's plan on the happy path (cheap where the
    * caller checkpointed — the Returning and upsert paths — one re-scan
    * of the matched slice on the lazy stagedUpdate/WhereIn paths), plus
    * per-class probes only once a violation is known to exist. */
  private[store] def validateUpdated(updated: DataFrame, setCols: Set[String]): Unit = {
    val lenChecks = maxLengths.filter { case (c, _) => setCols.contains(c) }.toSeq
    val nnCols = setCols
      .filter(c => schema.fieldNames.contains(c) && !schema(c).nullable).toSeq
    if (lenChecks.isEmpty && nnCols.isEmpty) return
    // one combined probe on the happy path; per-class probes only run to
    // pick the precise P-code once a violation is known to exist
    val anyViol = (lenChecks.map { case (c, mx) => length(col(c)) > mx } ++
      nnCols.map(col(_).isNull)).reduce(_ || _)
    if (updated.filter(anyViol).limit(1).count() == 0) return
    lenChecks.foreach { case (c, mx) =>
      if (updated.filter(length(col(c)) > mx).limit(1).count() > 0)
        throw new ValueTooLongException(
          s"$name: update writes a value over $c's declared max length $mx")
    }
    val fkCols = parentRefs.map(_._2).toSet
    nnCols.foreach { c =>
      if (updated.filter(col(c).isNull).limit(1).count() > 0) {
        if (fkCols.contains(c))
          throw new RequiredRelationException(
            s"$name: update would sever the required relation on $c " +
              "(NULL into a non-nullable FK column)")
        else throw new NullConstraintException(
          s"$name: update writes NULL into non-nullable $c")
      }
    }
  }

  private[store] def stagedUpdateReturning(current: DataFrame, where: Where,
                                           set: Map[String, Column]): (Staged, DataFrame) = {
    val cond0 = coalesce(Where.compile(where, current.apply), lit(false))
    val movesParts = partitionCols.exists(set.contains)
    val matched = current.filter(cond0).withColumn("__prepk", partKeyCol)
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = Seq(count(lit(1)).as("n"), collect_set(col("__prepk")).as("pre")) ++
      (if (movesParts) Seq(collect_set(partKeyCol).as("post")) else Nil)
    val updated = withSet(matched, lit(true), set)
      .observe(obs, obsCols.head, obsCols.tail: _*)
      .drop("__prepk").localCheckpoint()
    val m = obs.get
    validateUpdated(updated, set.keySet)
    def pks(key: String): Set[String] =
      m(key).asInstanceOf[scala.collection.Seq[String]].toSet
    val touched = pks("pre") ++ (if (movesParts) pks("post") else Set.empty[String])
    // materialize the predicate BEFORE any column is rewritten (see
    // stagedUpdate) — the next-state plan itself stays lazy
    val withCond = current.withColumn("__upd", cond0)
    val next = withSet(withCond, col("__upd"), set).drop("__upd")
    (Staged(next, touched, m("n").asInstanceOf[Long]), updated)
  }

  private[store] def stagedUpdate(current: DataFrame, where: Where,
                                  set: Map[String, Column], single: Boolean): Staged = {
    val cond0 = coalesce(Where.compile(where, current.apply), lit(false))
    val matched = current.filter(cond0)
    val (touched, n) = pkStats(matched, set)
    if (single && n == 0)
      throw new RecordNotFoundException(s"$name: update found no row")
    validateUpdated(withSet(matched, lit(true), set), set.keySet)
    // materialize the predicate BEFORE any column is rewritten — a `when`
    // chain re-resolving the condition against already-updated columns
    // would silently stop matching mid-update
    val withCond = current.withColumn("__upd", cond0)
    val next = withSet(withCond, col("__upd"), set).drop("__upd")
    Staged(next, touched, n)
  }

  /** `current` left-joined to the distinct `keys` with both branch
    * predicates materialized before any column is rewritten (see
    * [[stagedUpdate]]): `__hit` = the key is in `keys`, `__upd` = the
    * statement rewrites the row — a key hit satisfying `extraCond`, or,
    * with an else-branch, ANY row satisfying `extraCond`. The keys side
    * is a small DataFrame, so AQE broadcasts it. */
  private[store] def markWhereIn(current: DataFrame, keyCol: String, keys: DataFrame,
                                 extraCond: Column, withElse: Boolean): DataFrame = {
    val marker = keys.select(col(keyCol)).distinct().withColumn("__hit", lit(true))
    val inScope = coalesce(extraCond, lit(false))
    current.join(marker, Seq(keyCol), "left")
      .withColumn("__hit", coalesce(col("__hit"), lit(false)))
      .withColumn("__upd", if (withElse) inScope else col("__hit") && inScope)
  }

  /** The effective SET of a where-in update with an else-branch, one CASE
    * per written column over [[markWhereIn]]'s `__hit`: key hits take
    * `set`, the other rewritten rows take `elseSet`, and a column only one
    * branch writes keeps its value in the other. An empty else-branch is
    * `set` itself. Valid on any frame carrying `__hit`. */
  private[store] def caseSet(set: Map[String, Column],
                             elseSet: Map[String, Column]): Map[String, Column] =
    if (elseSet.isEmpty) set
    else (set.keySet ++ elseSet.keySet).iterator.map { c =>
      c -> when(col("__hit"), set.getOrElse(c, col(c)))
        .otherwise(elseSet.getOrElse(c, col(c)))
    }.toMap

  /** Join-based bulk update over a [[markWhereIn]] frame: rows flagged
    * `__upd` take `set` (a [[caseSet]] when the statement has an
    * else-branch) — the distributed `UPDATE … SET c = CASE WHEN id IN
    * (SELECT …) THEN … ELSE … END WHERE extraCond`, with no collected id
    * list on the driver. ONE census action plus the slice write; the
    * result count is the key hits only. */
  private[store] def stagedUpdateWhereIn(marked: DataFrame,
                                         set: Map[String, Column]): Staged = {
    val changed = marked.filter(col("__upd"))
    validateUpdated(
      withSet(changed, lit(true), set).drop("__hit", "__upd"), set.keySet)
    val (touched, n) = pkStats(changed, set, counted = col("__hit"))
    val next = withSet(marked, col("__upd"), set).drop("__hit", "__upd")
    Staged(next, touched, n)
  }

  /** Returns the staged next state plus the doomed slice (the caller — the
    * transaction — checks the doomed keys against RESTRICT children, which
    * needs its own staged view of those tables). */
  private[store] def stagedDelete(current: DataFrame, where: Where,
                                  single: Boolean): (Staged, DataFrame) = {
    val cond = Where.compile(where, current.apply)
    val cond0 = coalesce(cond, lit(false))
    val doomed = current.filter(cond0)
    val (touched, n) = pkStats(doomed)
    if (single && n == 0)
      throw new RecordNotFoundException(s"$name: delete found no row")
    (Staged(current.filter(!cond0), touched, n), doomed)
  }

  /** ONE materialization of a MERGE delta with everything the staging
    * needs riding the checkpoint as observed metrics — the same
    * action-diet trick [[stagedCreateReturning]] uses for inserts,
    * applied to the upsert/apply-changes paths. Input: the delta rows
    * in declared column order plus a boolean `__del` tag (delete
    * tombstones; `lit(false)` everywhere for plain upserts). Folded
    * into the single checkpoint action:
    *
    *   - the per-key survivor rank (among several upsert images of one
    *     key an arbitrary-but-frozen one wins — the `dropDuplicates`
    *     semantics this replaces, made deterministic by the checkpoint);
    *   - the landing-slice census of surviving upserts;
    *   - both counts (survivors, delete tombstones);
    *   - the P2000/P2011 violation census over survivors (the precise
    *     P-code classification only runs once a violation is known to
    *     exist — rare path, over the checkpointed frame).
    *
    * Before this, the delta plan — typically a change-feed full-outer
    * join or a tokenize — re-executed under the validation probe, both
    * pkStats actions, and the delete count: five actions each paying
    * the join, where this pays it once. Returns the checkpointed frame
    * (data columns + `__del` + `__keep`), survivor count, tombstone
    * count, and the survivors' landing slices. */
  private[store] def checkpointDelta(tagged: DataFrame, keyCols: Seq[String])
      : (DataFrame, Long, Long, Set[String]) = {
    val dataCols = schema.fieldNames.toSeq
    val viaDriver = localDelta(tagged, keyCols)
    if (viaDriver.isDefined) return viaDriver.get
    val marked = touch(tagged, timestampCols)
      .withColumn("__mid", monotonically_increasing_id())
    // among rows sharing a key, a non-delete image ranks first; __keep
    // marks the one surviving upsert per key (tombstones never survive —
    // they only contribute their key to the affected set)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__del").cast("int"), col("__mid"))
    val required = schema.fields.filterNot(_.nullable).map(_.name).toSeq
    val nullViol = required.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val lenViol = maxLengths.toSeq
      .map { case (c, mx) => length(col(c)) > mx }
      .reduceOption(_ || _).getOrElse(lit(false))
    val obs = new org.apache.spark.sql.Observation()
    val chk = marked
      .withColumn("__keep", !col("__del") && row_number().over(w) === 1)
      .drop("__mid")
      .observe(obs,
        count(when(col("__keep"), 1)).as("n_up"),
        count(when(col("__del"), 1)).as("n_del"),
        count(when(col("__keep") && (nullViol || lenViol), 1)).as("viol"),
        collect_set(when(col("__keep"), partKeyCol)).as("pks"))
      .localCheckpoint()
    val m = obs.get
    if (m("viol").asInstanceOf[Long] > 0)
      validateUpdated(
        chk.filter(col("__keep")).select(dataCols.map(col): _*),
        schema.fieldNames.toSet)
    (chk, m("n_up").asInstanceOf[Long], m("n_del").asInstanceOf[Long],
      m("pks").asInstanceOf[scala.collection.Seq[String]].toSet)
  }

  /** Partition-column types whose driver-side `toString` agrees exactly
    * with Spark's `cast(col as string)` — the [[localDelta]] fast path
    * only fires when the landing-slice key can be derived on the driver
    * byte-identically to [[partKeyCol]]. */
  private val driverSafePartTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, BooleanType, ByteType, ShortType, IntegerType, LongType)
  }

  /** Key-column types whose collected JVM values group exactly as Spark's
    * window partitioning does — the [[localDelta]] survivor dedup hashes
    * collected keys on the driver. Binary keys collect as `Array[Byte]`
    * (reference equality: every duplicate image would survive), float and
    * double keys bypass Spark's normalization (NaN never equals NaN on
    * the JVM, while Spark groups every NaN as one key), and decimal
    * equality on the JVM is scale-sensitive; those take the Spark path. */
  private val driverSafeKeyTypes: Set[org.apache.spark.sql.types.DataType] =
    driverSafePartTypes ++ Set(DateType, TimestampType)

  /** [[checkpointDelta]]'s DRIVER-SIDE fast path: a delta whose optimized
    * plan is a `LocalRelation` (literal batches — index meta rows,
    * cursor rows, small Seq-built upserts) is already driver-resident
    * metadata, so the survivor rank, counts, landing-slice census and
    * constraint census all compute in plain Scala and the window
    * shuffle + Observation + localCheckpoint job of the Spark path never
    * runs — ZERO jobs for the checkpoint (the `collect()` of a
    * LocalTableScan is executeCollect, no job). Semantics are identical
    * by construction: survivor = the first non-delete image of each key
    * in input order (exactly what `row_number` over (__del, __mid)
    * picks on a LocalRelation's order-preserving ids), NULL key columns
    * group as equal (window partitioning semantics), and the slice key
    * replicates [[partKeyCol]] through [[Catalog.encodeValue]] — gated
    * on [[driverSafePartTypes]] so a cast-vs-toString divergence
    * (timestamps, decimals) falls back to the Spark path, and the key
    * columns are gated on [[driverSafeKeyTypes]]. */
  private def localDelta(tagged: DataFrame, keyCols: Seq[String])
      : Option[(DataFrame, Long, Long, Set[String])] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // Cheap pre-check on the ANALYZED plan first: reading optimizedPlan
    // runs a full optimizer pass that the Spark path then throws away
    // (its downstream actions build fresh QueryExecutions), and the
    // change-feed deltas behind applyChanges are manifest-diff join
    // trees expensive enough to optimize that paying it per mutation
    // measurably slowed the CDC gates. Only a plan whose every leaf is
    // already a LocalRelation can fold to one.
    val leavesLocal = tagged.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
    if (!leavesLocal) return None
    val isLocal = tagged.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.lengthCompare(10000) <= 0
      case _ => false
    }
    if (!isLocal) return None
    if (partitionCols.exists(c => !driverSafePartTypes.contains(schema(c).dataType)))
      return None
    if (keyCols.exists(c => !driverSafeKeyTypes.contains(tagged.schema(c).dataType)))
      return None
    val dataCols = schema.fieldNames.toSeq
    val inSchema = tagged.schema // dataCols :+ __del, by both callers
    def idxOf(c: String): Int = inSchema.fieldIndex(c)
    val rows = tagged.collect() // LocalTableScan: executeCollect, no job
    val delIdx = idxOf("__del")
    val keepIdx = inSchema.length // appended last
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val tsIdx = timestampCols.filter(schema.fieldNames.contains)
      .map(idxOf).toSet
    val keyIdx = keyCols.map(idxOf)
    val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
    var nDel = 0L
    val out = rows.map { r =>
      val del = r.getBoolean(delIdx)
      if (del) nDel += 1
      val key = keyIdx.map(r.get)
      // first non-delete image per key survives; tombstones never do
      val keep = !del && seen.add(key)
      val vals = r.toSeq.zipWithIndex.map {
        case (_, i) if tsIdx.contains(i) => now
        case (v, i) if i == delIdx => v
        case (v, _) => v
      }
      Row.fromSeq(vals :+ keep)
    }
    val keepers = out.filter(r => r.getBoolean(keepIdx))
    import org.apache.spark.sql.types._
    // every data field nullable=true, matching what the Spark path's
    // input frames carry: with the DECLARED nullability the optimizer
    // would fold the rare-path `isNull` violation probes to false and a
    // constraint breach would write instead of throwing
    val chkSchema = StructType(
      schema.fields.toSeq.map(f => StructField(f.name, f.dataType, nullable = true)) ++ Seq(
        StructField("__del", BooleanType, nullable = false),
        StructField("__keep", BooleanType, nullable = false)))
    val chk = spark.createDataFrame(
      java.util.Arrays.asList(out: _*), chkSchema)
    val nUp = keepers.length.toLong
    val pks: Set[String] =
      if (keepers.isEmpty) Set.empty
      else if (partitionCols.isEmpty) Set(Catalog.AllKey)
      else keepers.map(r => partitionCols.map(c =>
        s"$c=${Catalog.encodeValue(r.get(idxOf(c)))}").mkString(",")).toSet
    // constraint census over survivors — same rare-path classification
    val requiredIdx = schema.fields.filterNot(_.nullable).map(f => idxOf(f.name)).toSeq
    def chars(s: String): Int = s.codePointCount(0, s.length)
    val anyViol = keepers.exists { r =>
      requiredIdx.exists(r.isNullAt) ||
        maxLengths.exists { case (c, mx) =>
          val i = idxOf(c)
          !r.isNullAt(i) && chars(r.getString(i)) > mx }
    }
    if (anyViol)
      validateUpdated(
        chk.filter(col("__keep")).select(dataCols.map(col): _*),
        schema.fieldNames.toSet)
    Some((chk, nUp, nDel, pks))
  }

  /** MERGE: rows whose key exists replace the existing row (update wins),
    * the rest append — Prisma `upsert` (`effect.ts:535-541`). Touches the
    * slices the incoming rows land in plus the slices their pre-image rows
    * currently live in (a key may move partitions). Also returns the
    * materialized surviving rows (the FK validation input — checked over
    * what is ACTUALLY written, from the checkpoint, never a plan replay). */
  private[store] def stagedUpsertReturning(current: DataFrame, keyCols: Seq[String],
                                           rows: DataFrame): (Staged, DataFrame) = {
    val (chk, n, _, inParts) = checkpointDelta(
      align(rows).withColumn("__del", lit(false)), keyCols)
    val incoming = chk.filter(col("__keep"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val keysOnly = incoming.select(keyCols.map(col): _*)
    val kept = current.join(keysOnly, keyCols, "left_anti")
    // replaced-slice census: on an UNPARTITIONED table there is only one
    // slice, so whenever anything survives the census can only re-state
    // `inParts` — skip the probe action (a partitioned table still needs
    // it: a key's pre-image may live in a different slice than it lands)
    val touched =
      if (partitionCols.isEmpty && inParts.nonEmpty) inParts
      else inParts ++ pkStats(current.join(keysOnly, keyCols, "left_semi"))._1
    (Staged(kept.unionByName(incoming), touched, n), incoming)
  }

  /** MERGE-apply of one [[ChangeFeed]] batch onto this table — the Delta
    * `table_changes() → MERGE` replication idiom, set-based end to end:
    * inserts and update postimages upsert by the primary key, deletes
    * remove theirs, `update_preimage` rows are information-only (their
    * postimage twin carries the new values for the same key — pk pairing
    * guarantees the key itself never changed). One anti-join + union
    * next-state plan; no key list ever reaches the driver, so a 100 TB
    * mirror pays for the delta, not the table. The whole delta — upsert
    * images AND delete tombstones — materializes in ONE checkpoint
    * ([[checkpointDelta]]), so the change-feed join behind `changes`
    * executes exactly once; the only other action is the replaced-slice
    * census against the current state. Also returns the materialized
    * surviving upserts (FK validation input). */
  private[store] def stagedApplyChangesReturning(current: DataFrame,
                                                 changes: DataFrame): (Staged, DataFrame) = {
    val pk: Seq[String] = uniqueKeys.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"$name: applyChanges needs a unique key to pair row versions"))
    val dataCols = schema.fieldNames.toSeq
    val (chk, nUp, nDel, inParts) = checkpointDelta(
      changes.filter(col("_change_type")
          .isin("insert", "update_postimage", "delete"))
        .select((dataCols.map(col) :+
          (col("_change_type") === "delete").as("__del")): _*), pk)
    val ups = chk.filter(col("__keep"))
      .select(dataCols.map(col).toIndexedSeq: _*)
    // every delta row's key is affected: survivors and tombstones
    // directly, a displaced duplicate through its surviving twin
    val affected = chk.select(pk.map(col): _*).distinct()
    val kept = current.join(affected, pk, "left_anti")
    // touched: the slices upserts LAND in plus the slices this table
    // currently holds any affected key in (the source's partition values
    // in the delete images may not be this mirror's layout). On an
    // UNPARTITIONED table with any survivor the census can only re-state
    // `inParts` — skip the probe action (delete-only batches still need
    // it: whether the lone slice is touched depends on a key matching)
    val touched =
      if (partitionCols.isEmpty && inParts.nonEmpty) inParts
      else inParts ++ pkStats(current.join(affected, pk, "left_semi"))._1
    (Staged(kept.unionByName(ups), touched, nUp + nDel), ups)
  }
}

/** Multi-statement transaction: stage any number of table mutations, then
  * publish all new slice versions in one atomic manifest swap — the
  * engine's `\$transaction` (`effect.ts:369-396`). If any statement throws,
  * nothing was published.
  *
  * Staging is partition-scoped: only the slices in `Staged.touched` are
  * written (one pruned execution of the next-state plan per touched slice —
  * when the SET does not modify a partition column, the slice filter pushes
  * down through the plan to the scans, so each write reads only the data it
  * rewrites). Untouched slices keep their version directory untouched on
  * disk. A touched slice that ends up empty stays in the manifest as an
  * empty directory (harmless for readers; vacuumable later).
  */
final class Txn(catalog: Catalog, opts: TxnOptions = TxnOptions(timeoutMs = 0)) {
  private var base: Map[String, Option[Map[String, String]]] = Map.empty
  private var staged: Map[String, Map[String, Option[String]]] = Map.empty
  // table -> partKey -> working slice dir (chains statements within the txn)
  private var working: Map[String, Map[String, String]] = Map.empty

  private def workingDirs(t: GraftTable): Map[String, String] =
    working.getOrElse(t.name, {
      // Stale-writer guard: if the table's schema has evolved since this
      // handle was created (reserved __schema__ manifest entry), rewriting
      // slices through the old projection would null evolved-column values
      // for every bystander row in the touched slices — fail fast instead.
      // The __schema__ entry is ALSO pinned into the commit's expectedBase
      // (same snapshot as the guard): an evolve() landing between this
      // check and the commit — the staging job can run for minutes — then
      // surfaces as a P2034 conflict instead of publishing stale slices
      // (the cross-entry OCC pattern stageWatermark uses for __stream__).
      val m = catalog.manifest()
      t.assertSchemaCurrent(m)
      if (!base.contains(Catalog.SchemaTable))
        base += (Catalog.SchemaTable -> m.get(Catalog.SchemaTable))
      base += (t.name -> m.get(t.name))
      val dirs = catalog.currentDirs(t.name)
      working += (t.name -> dirs)
      dirs
    })

  private def stateOf(t: GraftTable): DataFrame = t.readDirs(workingDirs(t).values.toSeq)

  /** No slices at all (pre-first-insert) — lets the create path skip the
    * snapshot anti-join without an isEmpty action. A table whose rows were
    * all deleted still HAS (empty) slice dirs and takes the normal path. */
  private def isFresh(t: GraftTable): Boolean = workingDirs(t).isEmpty

  private def stage(t: GraftTable, s: Staged): Unit = {
    var dirs = workingDirs(t)
    var parts = staged.getOrElse(t.name, Map.empty[String, Option[String]])
    val raw = s.next.withColumn("__pk", t.partKeyCol)
    if (s.touched.size <= 1) {
      // Single-slice staging keeps the lazy plan: the typed sliceFilter
      // pre-filter prunes the source scans to (roughly) this slice's
      // files; the __pk residual is the exact slice membership test. The
      // staged slice is immutable on disk the moment it is written, so
      // later statements in the txn build on real files, not a recompute.
      s.touched.foreach { pk =>
        val (v, dir) = catalog.newVersionDir(t.name, pk)
        val pre = t.sliceFilter(pk).getOrElse(lit(true))
        raw.filter(pre).filter(col("__pk") === lit(pk)).drop("__pk")
          .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
          .write.mode("overwrite").options(t.bloomWriteOptions).parquet(dir)
        // pin footer-derived column stats beside the slice (O(files) driver
        // IO, no job) — snapshotWhere's data skipping reads these
        SliceStats.writeSidecar(t.spark, dir, t.bloomCols.toSet)
        dirs += (pk -> dir)
        parts += (pk -> Some(v))
      }
    } else {
      // MULTI-slice staging: ONE dynamic-partition write executes the
      // staged plan exactly once and streams every row straight to its
      // slice's directory. The previous shape (persist + one filtered
      // write job per slice) paid a full second copy of the
      // post-mutation data in block-manager memory/disk plus K filtered
      // passes over it — an 8-bucket postings refresh ran 9 jobs where
      // this runs 1, and at 100 TB the persist copy is pure overhead.
      // The hex rendering of __pk is a bijection into filesystem-safe
      // names that sidesteps Spark's partition-path escaping (and the
      // empty-string → __HIVE_DEFAULT_PARTITION__ ambiguity); the data
      // files themselves carry the declared columns in declared order,
      // identical to the single-slice path's output.
      val touched = s.touched.toSeq.sorted
      val stageRoot = java.nio.file.Paths.get(catalog.root)
        .resolve(s".stage-${java.util.UUID.randomUUID().toString.replace("-", "")}")
      // Cleanup is exception-safe: whatever the move loop managed, the
      // stage shell is always swept (finally), so a mid-loop failure
      // (dest dir exists, partial FS fault) cannot leak a .stage-* dir
      // under catalog.root. Unpublished version dirs a failed txn leaves
      // behind are invisible to readers (never entered the manifest) and
      // vacuumable; crashed-process leftovers are swept by the Catalog's
      // open-time stale-stage sweep.
      try {
        raw.filter(col("__pk").isin(touched: _*))
          .withColumn("__pkdir", concat(lit("p"), hex(col("__pk"))))
          .select((t.schema.fieldNames.map(col) :+ col("__pkdir")).toIndexedSeq: _*)
          .write.mode("overwrite").options(t.bloomWriteOptions)
          .partitionBy("__pkdir").parquet(stageRoot.toString)
        touched.foreach { pk =>
          val (v, dir) = catalog.newVersionDir(t.name, pk)
          val hexName = "p" + pk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .map("%02X".format(_)).mkString
          val src = stageRoot.resolve(s"__pkdir=$hexName")
          val dest = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(dest.getParent)
          if (java.nio.file.Files.isDirectory(src))
            java.nio.file.Files.move(src, dest) // same filesystem: under catalog.root
          else
            // a touched slice every row left (e.g. all its keys deleted)
            // stays in the manifest as an empty directory — same contract
            // as the single-slice path's empty write
            java.nio.file.Files.createDirectories(dest)
          SliceStats.writeSidecar(t.spark, dir, t.bloomCols.toSet)
          dirs += (pk -> dir)
          parts += (pk -> Some(v))
        }
      } finally Catalog.rmTree(stageRoot)
    }
    working += (t.name -> dirs)
    staged += (t.name -> parts)
  }

  /** Child-side FK validation (P2003): any written child row whose FK
    * value has no matching parent row fails, as the reference's Postgres FK
    * does on orphan inserts/updates. Parents are read through THIS
    * transaction's staged state, so "create parent, then child" works
    * inside one `\$transaction`; a self-referential FK also sees the rows
    * of the batch being written (Postgres checks non-deferred FKs at end
    * of statement, so an in-batch parent satisfies its in-batch child).
    * Validation runs over the rows ACTUALLY written — under
    * `skipDuplicates` a dropped duplicate row is never FK-checked, like
    * `ON CONFLICT DO NOTHING`. The probe is an anti-join limited to one
    * row — it never materializes the orphan set. */
  private def checkParentRefs(t: GraftTable, written: DataFrame): Unit =
    t.parentRefs.foreach { case (parent, childCol, parentCol) =>
      val parentKeys = {
        val base = stateOf(parent).select(col(parentCol).as(childCol))
        if (parent eq t) base.unionByName(written.select(col(parentCol).as(childCol)))
        else base
      }
      val orphans = written.select(col(childCol))
        .filter(col(childCol).isNotNull)
        .join(parentKeys, Seq(childCol), "left_anti")
        .limit(1).count()
      if (orphans > 0)
        throw new ForeignKeyViolationException(
          s"${t.name}: write rejected — ${t.name}.$childCol references no ${parent.name}.$parentCol row")
    }

  def create(t: GraftTable, rows: DataFrame): Long = {
    val (s, inserted) = t.stagedCreateReturning(stateOf(t), rows,
      skipDuplicates = false, currentEmpty = isFresh(t))
    checkParentRefs(t, inserted)
    stage(t, s); s.n
  }

  def createMany(t: GraftTable, rows: DataFrame, skipDuplicates: Boolean): Long = {
    val (s, inserted) = t.stagedCreateReturning(stateOf(t), rows, skipDuplicates,
      currentEmpty = isFresh(t))
    checkParentRefs(t, inserted)
    stage(t, s); s.n
  }

  def createManyAndReturn(t: GraftTable, rows: DataFrame, skipDuplicates: Boolean): DataFrame = {
    val (s, inserted) = t.stagedCreateReturning(stateOf(t), rows, skipDuplicates,
      currentEmpty = isFresh(t))
    checkParentRefs(t, inserted)
    stage(t, s); inserted
  }

  def updateManyAndReturn(t: GraftTable, where: Where, set: Map[String, Column]): DataFrame = {
    val cur = stateOf(t)
    val (s, updated) = t.stagedUpdateReturning(cur, where, set)
    checkUpdatedRefs(t, set, updated)
    stage(t, s)
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    updated
  }

  /** An update that rewrites a declared FK column must re-validate it —
    * over the UPDATED ROWS ONLY (a full post-state scan would pay a
    * whole-table anti-join and reject updates because of pre-existing
    * orphans the statement never touched). Only fires when `set` touches
    * a declared FK column. */
  private def checkUpdatedRefs(t: GraftTable, set: Map[String, Column],
                               updated: => DataFrame): Unit =
    if (t.parentRefs.exists { case (_, childCol, _) => set.contains(childCol) })
      checkParentRefs(t, updated)

  /** FK `ON UPDATE CASCADE` — every reference FK declares it
    * (`migration.sql:93,96-99`; Prisma's default referential action):
    * rewriting a REFERENCED parent key propagates the new value into every
    * referencing child FK column inside the SAME transaction, transitively
    * — instead of rejecting the update as the old NO ACTION check did.
    * The old→new map is built from the PRE-update matched rows with the
    * SET expression applied: update-sized, never table-sized. */
  private def cascadeParentKeyRewrite(t: GraftTable, set: Map[String, Column],
                                      matchedPre: => DataFrame): Unit = {
    val rels = (t.restricts ++ t.cascades)
      .filter { case (_, _, parentCol) => set.contains(parentCol) }
    if (rels.nonEmpty) {
      val pre = matchedPre
      // the map and its ambiguity probe depend only on (parentCol, set):
      // build each ONCE and fan it out to every child relation on that
      // column instead of paying N identical jobs for N children
      rels.groupBy(_._3).foreach { case (parentCol, relsOnCol) =>
        val keyMap = pre
          .select(col(parentCol).as("__old"), set(parentCol).as("__new"))
          .filter(col("__old").isNotNull && !(col("__new") <=> col("__old")))
          .distinct()
        // An ambiguous remap (one old key → several new values: parentCol
        // was not unique across the matched rows) would FAN OUT the child
        // join and corrupt rows — refuse it. One limit(1) probe on the
        // update-sized map.
        val ambiguous = keyMap.groupBy(col("__old"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).count()
        if (ambiguous > 0)
          throw new ForeignKeyViolationException(
            s"${t.name}: ON UPDATE CASCADE on non-unique $parentCol is " +
              s"ambiguous — several new values for one referenced key")
        if (!keyMap.isEmpty)
          relsOnCol.foreach { case (child, childCol, _) =>
            rewriteChildKeys(child, childCol, keyMap)
          }
      }
    }
  }

  /** Apply an old→new FK value map to `child.childCol`, staged in this
    * transaction. Grandchildren referencing `childCol` as THEIR parent key
    * see the same map first (transitive cascade); a self-referential FK
    * terminates because its parent key differs from its FK column. */
  private def rewriteChildKeys(child: GraftTable, childCol: String,
                               keyMap: DataFrame): Unit = {
    (child.restricts ++ child.cascades).foreach { case (gc, gcCol, pCol) =>
      if (pCol == childCol) rewriteChildKeys(gc, gcCol, keyMap)
    }
    val cur = stateOf(child)
    val affected = cur.join(keyMap.select(col("__old").as(childCol)),
      Seq(childCol), "left_semi")
    val preStats = affected.groupBy(child.partKeyCol.as("__pk")).count().collect()
    if (preStats.nonEmpty) {
      // the JOIN MATCH decides "remapped", not the new value's nullness:
      // coalesce(__new, old) would conflate "not remapped" with
      // "remapped to NULL" and commit a dangling FK — Postgres cascades
      // the NULL into the child (the FK then passes as MATCH SIMPLE),
      // unless the child column is NOT NULL, which is its
      // not_null_violation. The violation is raised only for child rows
      // ACTUALLY cascaded to NULL (a statement nulling key A and moving
      // key B is fine when children only reference B) — probe the
      // NULL-new old keys against the child, not the map alone.
      if (!child.schema(childCol).nullable) {
        val nullOld = keyMap.filter(col("__new").isNull)
          .select(col("__old").as(childCol))
        if (cur.join(nullOld, Seq(childCol), "left_semi").limit(1).count() > 0)
          throw new NullConstraintException(
            s"${child.name}: ON UPDATE CASCADE would null non-nullable $childCol")
      }
      val km = keyMap.withColumn("__hit", lit(true))
      val joined = cur.join(km, cur(childCol) === km("__old"), "left")
      val next = joined
        .withColumn(childCol,
          when(coalesce(col("__hit"), lit(false)), col("__new"))
            .otherwise(col(childCol)))
        .drop("__old", "__new", "__hit")
      // a rewritten FK that is also a partition column moves rows across
      // slices — the destination slices are touched too
      val touched: Set[String] =
        if (child.partitionCols.contains(childCol)) {
          val post = cur.join(keyMap, cur(childCol) === keyMap("__old"), "inner")
            .withColumn(childCol, col("__new")).drop("__old", "__new")
          preStats.map(_.getString(0)).toSet ++
            post.groupBy(child.partKeyCol.as("__pk")).count().collect()
              .map(_.getString(0))
        } else preStats.map(_.getString(0)).toSet
      // A CONSISTENT many-old→one-new remap passes the ambiguity probe
      // but can still collide child UNIQUE keys (Postgres raises
      // unique_violation at the child constraint) — re-validate every
      // unique key containing the FK column over the affected slice of
      // the post-rewrite state. NULL rows never conflict (SQL UNIQUE).
      child.uniqueKeys.filter(_.contains(childCol)).foreach { uk =>
        val affectedKeys = next
          .join(keyMap.select(col("__new").as(childCol)).distinct(),
            Seq(childCol), "left_semi")
          .filter(uk.map(c => col(c).isNotNull).reduce(_ && _))
        val dup = affectedKeys
          .groupBy(uk.map(col): _*).agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1).limit(1).count()
        if (dup > 0)
          throw new UniqueViolationException(
            s"${child.name}: ON UPDATE CASCADE would collide unique key " +
              s"(${uk.mkString(",")})")
      }
      stage(child, Staged(next, touched, preStats.map(_.getLong(1)).sum))
    }
  }

  // Update statements stage their own rewrite BEFORE the key-rewrite
  // cascade (the matched view stays evaluable — pre-stage dirs are
  // immutable), so a self-referential ON UPDATE CASCADE rewrites child
  // FK columns on top of the renamed state instead of clobbering it.

  def update(t: GraftTable, where: Where, set: Map[String, Column]): Long = {
    val cur = stateOf(t)
    val s = t.stagedUpdate(cur, where, set, single = true)
    checkUpdatedRefs(t, set, t.updatedView(cur, where, set))
    stage(t, s)
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    s.n
  }

  def updateMany(t: GraftTable, where: Where, set: Map[String, Column]): Long = {
    val cur = stateOf(t)
    val s = t.stagedUpdate(cur, where, set, single = false)
    checkUpdatedRefs(t, set, t.updatedView(cur, where, set))
    stage(t, s)
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    s.n
  }

  /** Join-based bulk update: rows whose `keyCol` appears in `keys` and
    * that satisfy `extraCond` take `set` — the distributed `UPDATE …
    * WHERE id IN (SELECT …)` the pipeline flips statuses with, no id list
    * on the driver. A non-empty `elseSet` is the statement's else-branch:
    * rows satisfying `extraCond` whose key is NOT in `keys` take it in the
    * SAME statement (`SET c = CASE WHEN id IN (…) THEN … ELSE … END`), so
    * a success/failure flip runs one census and one multi-slice write
    * instead of two statements that each rewrite the shared source slice.
    * Rows outside `extraCond` are untouched. Returns the key-hit count.
    *
    * FK re-validation and `ON UPDATE CASCADE` see the effective CASE SET
    * over every rewritten row, so an else-branch writing an FK or a
    * referenced key is checked and propagated like the key-hit branch. */
  def updateWhereIn(t: GraftTable, keyCol: String, keys: DataFrame,
                    extraCond: Column, set: Map[String, Column],
                    elseSet: Map[String, Column] = Map.empty): Long = {
    val marked = t.markWhereIn(stateOf(t), keyCol, keys, extraCond, elseSet.nonEmpty)
    val eff = t.caseSet(set, elseSet)
    val s = t.stagedUpdateWhereIn(marked, eff)
    // pre-image of every rewritten row (key hits, plus else-branch rows)
    def changed = marked.filter(col("__upd"))
    checkUpdatedRefs(t, eff, t.applySet(changed, eff))
    stage(t, s)
    cascadeParentKeyRewrite(t, eff, changed)
    s.n
  }

  /** FK `ON DELETE RESTRICT` (P2003): a delete whose doomed rows are still
    * referenced by a declared child relation must fail, exactly as the
    * reference's Postgres FK does (`migration.sql:93`). The child is read
    * through THIS transaction's staged state, so the compensation pattern
    * "delete children, then the parent" works inside one `\$transaction`
    * (`runner/syncCrm.ts:108-113`). The existence probe is a semi-join
    * limited to one row — it never materializes the referencing set. */
  private def checkRestricts(t: GraftTable, doomed: DataFrame): Unit =
    t.restricts.foreach { case (child, childCol, parentCol) =>
      val referenced = stateOf(child)
        .join(doomed.select(col(parentCol).as(childCol)), Seq(childCol), "left_semi")
        .limit(1).count()
      if (referenced > 0)
        throw new ForeignKeyViolationException(
          s"${t.name}: delete restricted — ${child.name}.$childCol still references doomed ${t.name}.$parentCol row(s)")
    }

  /** FK `ON DELETE CASCADE` (`migration.sql:96-99`): delete referencing
    * child rows inside THIS transaction, depth-first, BEFORE the parent's
    * RESTRICT checks run — so a child's own relations (its cascades, its
    * restricting grandchildren) apply to the cascaded delete too, and the
    * atomic manifest swap publishes parent + child deletions together. */
  private def cascadeDeletes(t: GraftTable, doomed: DataFrame): Unit =
    t.cascades.foreach { case (child, childCol, parentCol) =>
      val keys = doomed.select(col(parentCol).as(childCol))
        .filter(col(childCol).isNotNull)
      // emptiness probe (one limit(1) job on a delete-sized set) is the
      // recursion base case — a self-referential cascade terminates when
      // a level condemns no rows, the Postgres fixpoint semantics
      if (!keys.isEmpty) deleteWhereIn(child, childCol, keys)
    }

  /** Join-based bulk delete: drop rows whose `keyCol` appears in `keys`.
    *
    * Statement order: RESTRICT checks run FIRST, against statement-start
    * state — Postgres RESTRICT is the immediate, non-deferrable check
    * that rejects the delete even when the same statement also removes
    * the referencing row (that is its documented difference from
    * NO ACTION). Then the statement's own delete stages — `doomed`/`cur`
    * stay evaluable because they are bound to the pre-stage version
    * directories, which copy-on-write never touches — and cascades run
    * LAST, reading the post-delete state and staging ON TOP of it, so a
    * self-referential or cyclic cascade is never clobbered by the
    * statement's own stage. A throw anywhere aborts the transaction;
    * nothing staged ever publishes. */
  def deleteWhereIn(t: GraftTable, keyCol: String, keys: DataFrame): Long =
    deleteWhereKeysIn(t, Seq(keyCol), keys)

  /** Composite-key variant of [[deleteWhereIn]] (the MERGE DELETE route
    * needs it when the ON clause equates several columns). Same statement
    * order contract: RESTRICT first, stage, cascades last. */
  def deleteWhereKeysIn(t: GraftTable, keyCols: Seq[String], keys: DataFrame): Long = {
    val cur = stateOf(t)
    val marker = keys.select(keyCols.map(col): _*).distinct()
    val doomed = cur.join(marker, keyCols, "left_semi")
    checkRestricts(t, doomed)
    val stats = doomed.groupBy(t.partKeyCol.as("__pk")).count().collect()
    val s = Staged(cur.join(marker, keyCols, "left_anti"),
      stats.map(_.getString(0)).toSet, stats.map(_.getLong(1)).sum)
    stage(t, s)
    cascadeDeletes(t, doomed)
    s.n
  }

  def delete(t: GraftTable, where: Where): Long = {
    val (s, doomed) = t.stagedDelete(stateOf(t), where, single = true)
    checkRestricts(t, doomed)
    stage(t, s)
    cascadeDeletes(t, doomed)
    s.n
  }

  def deleteMany(t: GraftTable, where: Where): Long = {
    val (s, doomed) = t.stagedDelete(stateOf(t), where, single = false)
    checkRestricts(t, doomed)
    stage(t, s)
    cascadeDeletes(t, doomed)
    s.n
  }

  def upsert(t: GraftTable, keyCols: Seq[String], rows: DataFrame): Long = {
    val (s, written) = t.stagedUpsertReturning(stateOf(t), keyCols, rows)
    // FK-validated over the rows ACTUALLY written, from the checkpoint —
    // probing the raw incoming frame would re-execute its plan per parent
    checkParentRefs(t, written)
    stage(t, s); s.n
  }

  /** MERGE-apply one [[ChangeFeed]] batch onto `t` (CDC replication):
    * upsert the insert/postimage rows, delete the delete keys, all in
    * THIS transaction — pair with [[CdfTail.drainOnce]]'s cursor advance
    * for exactly-once incremental mirroring. Returns applied changes. */
  def applyChanges(t: GraftTable, changes: DataFrame): Long = {
    val (s, ups) = t.stagedApplyChangesReturning(stateOf(t), changes)
    // FK-validated over the surviving upserts, from the checkpoint — the
    // change-feed join behind `changes` must never re-execute per parent
    checkParentRefs(t, ups)
    stage(t, s); s.n
  }

  /** ConnectOrCreate's "connect the existing row" half IS
    * skipDuplicates dedup against the relation/link tables — without a
    * unique key there, every call would silently re-insert existing
    * rows (connect degrades to unconditional create). Fail fast. */
  private def requireConnectKeys(nested: Seq[NestedWrite]): Unit =
    nested.foreach {
      case ConnectOrCreate(rel, _, link, _) =>
        require(rel.uniqueKeys.nonEmpty,
          s"${rel.name}: connectOrCreate relation table needs a unique key")
        require(link.uniqueKeys.nonEmpty,
          s"${link.name}: connectOrCreate link table needs a unique key")
      case _ => ()
    }

  /** Nested create (`create`/`createMany` with `{create | connectOrCreate}`
    * relation payloads, `effect.ts:471-477`): insert the parent batch, then
    * run each [[NestedWrite]] against the slice that was actually inserted
    * — with the batch's extra payload columns intact — all staged in THIS
    * transaction. Returns the parent insert count.
    *
    * The payload columns ride the parent insert's own checkpoint
    * ([[GraftTable.stagedCreateReturning]]'s `carry`), and every nested
    * write derives from that frozen survivor frame: the parent row and its
    * children come from the same survivor (under skipDuplicates too), and
    * the batch plan never re-executes under a nested write. A NULL parent
    * key has no pairing identity, so its children could never be attached
    * — it is rejected (P2011) by an observed metric on the same
    * checkpoint, before anything is staged. */
  def createNested(t: GraftTable, rows: DataFrame, nested: Seq[NestedWrite],
                   skipDuplicates: Boolean = false): Long = {
    requireConnectKeys(nested)
    val (key, carry) = if (nested.isEmpty) (Nil, Nil) else {
      require(t.uniqueKeys.nonEmpty,
        s"${t.name}: nested writes need a unique key to identify inserted parents")
      val payload = rows.columns.toSeq
        .filterNot(c => t.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      payload.foreach(c => require(!c.startsWith("__"),
        s"${t.name}: payload column $c — the __ prefix is reserved for engine columns"))
      (t.uniqueKeys.head, payload)
    }
    val (s, inserted) = t.stagedCreateReturning(stateOf(t), rows, skipDuplicates,
      currentEmpty = isFresh(t), carry = carry, nonNullKey = key)
    checkParentRefs(t, inserted)
    stage(t, s)
    if (nested.nonEmpty) {
      // the batch's own shape, restricted to the rows that actually landed
      val insertedFull = inserted.select(rows.columns.toSeq.map(col): _*)
      nested.foreach {
        case NestedCreate(child, f, skipDup) =>
          createMany(child, f(insertedFull), skipDup)
        case ConnectOrCreate(rel, ensure, link, links) =>
          // connectOrCreate: missing relation rows created, existing kept
          createMany(rel, ensure(insertedFull), skipDuplicates = true)
          createMany(link, links(insertedFull), skipDuplicates = true)
      }
    }
    s.n
  }

  /** Nested writes under `update` (`update({where, data: {..., relation:
    * {create: ...}}})`, the `syncCrm.ts:156-163` shape): update the
    * matched rows, then run each [[NestedWrite]] against the POST-UPDATE
    * matched slice, staged in this transaction. Returns the matched count. */
  def updateNested(t: GraftTable, where: Where, set: Map[String, Column],
                   nested: Seq[NestedWrite]): Long = {
    requireConnectKeys(nested)
    val cur = stateOf(t)
    val (s, updated) = t.stagedUpdateReturning(cur, where, set)
    checkUpdatedRefs(t, set, updated)
    stage(t, s)
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    nested.foreach {
      case NestedCreate(child, f, skipDup) =>
        createMany(child, f(updated), skipDup)
      case ConnectOrCreate(rel, ensure, link, links) =>
        createMany(rel, ensure(updated), skipDuplicates = true)
        createMany(link, links(updated), skipDuplicates = true)
    }
    s.n
  }

  /** Read within the transaction (sees staged, uncommitted state). */
  def read(t: GraftTable): DataFrame = stateOf(t)

  /** Stage a streaming batch watermark (reserved [[Catalog.StreamTable]]
    * manifest entry) so it publishes in the SAME atomic commit as this
    * transaction's data slices — the exactly-once handshake of
    * [[graft.streaming.StoreSink]].
    *
    * `expectedBase` is the [[Catalog.StreamTable]] map from the manifest
    * read that PERFORMED the replay check — the OCC baseline. Re-reading
    * it here instead would open a check-then-commit window: a zombie
    * instance of the same query committing the batch between our check
    * and our commit would be silently absorbed and the batch applied
    * twice. With the caller's baseline, that interleaving fails the
    * commit with P2034 — the idempotent-sink contract. */
  def recordStreamBatch(t: GraftTable, streamId: String, batchId: Long,
                        expectedBase: Option[Map[String, String]]): Unit = {
    if (!base.contains(Catalog.StreamTable))
      base += (Catalog.StreamTable -> expectedBase)
    val parts = staged.getOrElse(Catalog.StreamTable, Map.empty[String, Option[String]])
    staged += (Catalog.StreamTable ->
      (parts + (Catalog.streamKey(t.name, streamId) -> Some(batchId.toString))))
  }

  def commit(): Unit =
    if (staged.nonEmpty) catalog.commit(base, staged, opts.maxWaitMs)
}

object Txn {
  /** Interactive-transaction closure (`\$transaction(async tx => …)`):
    * stage inside, commit on success, publish nothing on failure.
    * This overload runs unbounded (pipeline stages manage their own
    * [[graft.util.Timeouts]] budget). */
  def run[A](catalog: Catalog)(body: Txn => A): A = {
    val txn = new Txn(catalog)
    val out = body(txn)
    txn.commit()
    out
  }

  /** Interactive transaction with `\$transaction` options: the whole
    * closure (reads, staging writes, commit) is bounded by
    * `opts.timeoutMs` through job-group cancellation — on expiry running
    * Spark jobs are cancelled, nothing was published (copy-on-write), and
    * the caller gets the P2028-equivalent. Commit-lock acquisition is
    * bounded by `opts.maxWaitMs` (P2024). */
  def run[A](catalog: Catalog, opts: TxnOptions)(body: Txn => A): A = {
    val txn = new Txn(catalog, opts)
    // the timeout bounds the BODY (reads + staging writes — the Spark
    // jobs); the commit itself (one manifest rename) runs OUTSIDE the
    // timed region, so a P2028 can never fire after the manifest was
    // already published — "timed out" reliably means "nothing committed"
    val out =
      if (opts.timeoutMs > 0) {
        org.apache.spark.sql.SparkSession.getActiveSession match {
          case Some(s) =>
            try graft.util.Timeouts.withTimeout(s, opts.timeoutMs)(body(txn))
            catch {
              case _: graft.util.Timeouts.StageTimeoutException =>
                throw new TransactionTimeoutException(
                  s"interactive transaction exceeded ${opts.timeoutMs}ms")
            }
          case None => body(txn)
        }
      } else body(txn)
    txn.commit()
    out
  }
}
