package graft.tables

import java.util.UUID
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Parquet-backed managed table with Iceberg-like snapshot semantics,
  * re-providing the reference's table layer (no Iceberg jars in this
  * environment — SURVEY.md §1.2, §7 stage 1).
  *
  * Storage goes through the Hadoop `FileSystem` API, so a table root can
  * live on any configured scheme — `file:`, `hdfs:`, `s3a:`, ... —
  * matching the reference's S3-resident tables (SparkUtils.java:47
  * `S3FileIO`); a local path without a scheme resolves against the
  * default filesystem exactly as before. Snapshot commits rely on
  * ATOMIC RENAME of the `_current` pointer. On `file:` that means
  * java.nio `ATOMIC_MOVE` (Hadoop's FileContext rename-with-overwrite
  * falls back to delete-then-rename on local filesystems — a crash in
  * between would leave no `_current` at all); on HDFS, FileContext's
  * overwriting rename is natively atomic. S3A implements rename as
  * copy+delete — on S3, front the `_current` pointer with a real catalog
  * (the reference does exactly this via the Iceberg catalog) or accept a
  * small non-atomic window.
  *
  * Layout per table under `root/<name>/`:
  *   - `data/<uuid>-<part>.parquet` — immutable data files
  *   - `manifest-<n>.txt`          — newline list of live data file names
  *   - `manifest-<n>.appended`     — files that commit LOGICALLY appended
  *                                   (drives compaction-safe incremental reads)
  *   - `manifest-<n>.stats.json`   — consolidated snapshot metadata:
  *                                   `{"stats": {file: {col: [min,max]}},
  *                                   "len": {file: bytes}}` — one read plans
  *                                   a scan (zone pruning + statuses), no
  *                                   FS listing; unreadable = fail open
  *   - `stats/<file>.json`         — per-file zone sidecar written with the
  *                                   data file (feeds consolidation; legacy
  *                                   read fallback)
  *   - `_fields.json`              — field-id catalog: logical→physical
  *                                   column names (metadata-only rename/drop);
  *                                   absent = identity
  *   - `_schema.json`              — StructType JSON (catalog-owned schema,
  *                                   mirrors reference
  *                                   SparkDestinationStream.java:216); grows
  *                                   only by additive evolution (addColumns),
  *                                   swapped atomically
  *   - `_evolved`                  — names of columns added after create
  *                                   (the only ones a writer may omit)
  *   - `_current`                  — name of the live manifest; updated by
  *                                   atomic rename, so readers always see a
  *                                   complete snapshot (replaces Iceberg's
  *                                   catalog commit, reference SparkUtils.java:45-50)
  *
  * Mutations are copy-on-write at file granularity: a delete/upsert only
  * rewrites data files that actually contain affected rows (file pruning via
  * `input_file_name`), everything else is carried over by manifest reference.
  * That is the property that keeps a 100 TB table's update cost proportional
  * to touched data, not table size.
  *
  * CONCURRENCY — optimistic commit with rebase (the Iceberg
  * catalog-commit model the reference inherits, SparkUtils.java:46-50):
  * every mutation stages its data files, then commits an INTENT (base
  * snapshot, files removed, files added) under the advisory
  * `_commit.lock`. If the head moved past the intent's base, the commit
  * REBASES: a pure append (nothing removed) always rebases onto the new
  * head — append/append and append-vs-mutation commute; a CoW mutation
  * rebases iff every file it rewrote still exists at the head (the
  * concurrent commits touched disjoint files), and otherwise aborts with
  * [[CommitConflictException]] after deleting its staged files — a
  * conflict never half-commits, and the caller re-runs against the new
  * snapshot. Mutations read a SNAPSHOT: rows appended concurrently are
  * not seen by an in-flight delete/merge (snapshot isolation, same as
  * Iceberg serializable-snapshot semantics for disjoint files). A
  * contending writer WAITS for the lock (bounded by
  * [[TableStore.LockWaitMs]]); a crash-stranded lock older than
  * [[TableStore.StaleLockMs]] is reclaimed automatically. The pointer
  * swap itself goes through the pluggable [[CommitCoordinator]] CAS
  * seam, so even where the lock cannot be atomic (S3), the loser of a
  * pointer race cleans up and retries instead of corrupting history.
  */
final class TableStore(private[tables] val spark: SparkSession,
    val root: String,
    hadoopProps: Map[String, String] = Map.empty,
    coordinator: Option[CommitCoordinator] = None) {

  private val hconf = {
    val c = spark.sessionState.newHadoopConf()
    // per-store overrides (endpoint, credentials, ...) — the Destination's
    // `hadoop.*` passthrough namespace lands here
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val fs: FileSystem = new HPath(root).getFileSystem(hconf)
  // qualified (scheme + absolute) so path arithmetic like relativize works
  // for RELATIVE local roots too — listFiles always returns qualified paths
  private val rootPath = fs.makeQualified(new HPath(root))
  // FileContext provides rename-with-overwrite (FileSystem.rename refuses
  // an existing destination on HDFS); atomic on rename-capable stores
  private lazy val fctx: FileContext =
    FileContext.getFileContext(fs.getUri, hconf)

  private def tdir(name: String): HPath = new HPath(rootPath, name)
  private def dataDir(name: String): HPath = new HPath(tdir(name), "data")

  /** Pointer authority: a supplied catalog-style coordinator, or the
    * default `_current`-file-by-atomic-rename implementation. The
    * file impl's swap is CAS-correct under the commit lock (the lock
    * serializes read-compare-rename); a true external CAS store makes
    * it correct even where the lock cannot be (S3). */
  private val coord: CommitCoordinator =
    coordinator.getOrElse(new CommitCoordinator {
      // a branch ref keys as "table@branch": its pointer is a sibling
      // `_current.<branch>` file in the same table dir
      private def ptrPath(table: String): HPath = {
        val i = table.indexOf('@')
        if (i < 0) new HPath(tdir(table), "_current")
        else new HPath(tdir(table.substring(0, i)),
          "_current." + table.substring(i + 1))
      }
      override def current(table: String): Option[String] = {
        val p = ptrPath(table)
        if (fs.exists(p)) Some(readString(p).trim) else None
      }
      override def swap(table: String, expected: Option[String],
          next: String): Boolean =
        if (current(table) != expected) false
        else { atomicWrite(ptrPath(table), next); true }
      override def clear(table: String): Unit = {
        // branch pointers must not survive a drop/re-create (the main
        // pointer file dies with the table dir, but clear() may be
        // called before the dir is re-populated)
        fs.delete(ptrPath(table), false)
        ()
      }
    })

  // ---- small FS helpers ----------------------------------------------------

  private def writeString(p: HPath, s: String): Unit =
    writeBytesTo(p, s.getBytes("UTF-8"))

  /** Small metadata writes (manifests, stats sidecars, markers, commit
    * meta) happen MANY times per commit. On `file:` Hadoop's
    * create-path pays a fork/exec `chmod` per file (no native lib) plus
    * a second one for the `.crc` sidecar — measured ~8.5 ms per write
    * vs ~0.1 ms via java.nio — so local writes go through nio (and
    * drop any stale `.crc` a pre-nio write may have left, or later
    * Hadoop reads of the same path would fail checksum). Tradeoff,
    * stated: the nio path writes no `.crc`, and [[readString]]'s nio
    * fast path bypasses the checksum layer — local metadata reads
    * trade CRC corruption detection for not forking; object-store
    * schemes keep the plain FS path and its integrity machinery. */
  private def writeBytesTo(p: HPath, bytes: Array[Byte]): Unit =
    if (fs.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      val dir = target.getParent
      if (dir != null && !java.nio.file.Files.isDirectory(dir))
        java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(target, bytes)
      if (dir != null) // a parentless (root) target has no crc sibling
        java.nio.file.Files.deleteIfExists(
          dir.resolve(s".${p.getName}.crc"))
      ()
    } else {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }

  private def readString(p: HPath): String =
    if (fs.getScheme == "file")
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8")
      catch { // callers expect Hadoop's FileNotFoundException contract
        case _: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(p.toString)
      }
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }

  /** Create `p` with `s` iff it does not exist; false when another
    * writer claimed the name first. On `file:` the O_EXCL java.nio
    * create is used (RawLocalFileSystem's create(overwrite=false) is
    * check-then-create); elsewhere fs.create(false) is atomic (HDFS). */
  private def writeStringNoOverwrite(p: HPath, s: String): Boolean =
    try {
      if (fs.getScheme == "file") {
        java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
          s.getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE_NEW)
        ()
      } else {
        val out = fs.create(p, false)
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }

  private def readLines(p: HPath): Seq[String] =
    readString(p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Replace `p`'s content atomically: write a tmp sibling, rename over.
    * Readers concurrently opening `p` see either the old or the new
    * content, never a truncated file. Same local-fs caveat as the
    * `_current` swap: FileContext's overwrite rename is delete-then-
    * rename on local filesystems, so `file:` goes through java.nio
    * ATOMIC_MOVE. */
  private def atomicWrite(p: HPath, content: String): Unit = {
    val tmp = new HPath(p.getParent,
      s".${p.getName}.tmp-${UUID.randomUUID().toString.take(8)}")
    writeString(tmp, content)
    if (fs.getScheme == "file") {
      // the java.nio move happens behind Hadoop's ChecksumFileSystem, so
      // a stale `.<name>.crc` sidecar (from a direct fs.create of p, e.g.
      // _schema.json at create time) would fail any checksum-layer read
      // with a ChecksumException — drop the sidecars. (readString itself
      // now bypasses the checksum layer on `file:` — see writeBytesTo's
      // tradeoff note — but non-nio readers of the same path still go
      // through it.)
      def crcOf(f: HPath) = new HPath(f.getParent, s".${f.getName}.crc")
      fs.delete(crcOf(p), false)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      fs.delete(crcOf(tmp), false)
    } else {
      fctx.rename(tmp, p, Options.Rename.OVERWRITE)
    }
    ()
  }

  /** All regular files under `dir`, recursively. */
  private def listFilesRec(dir: HPath): Seq[HPath] =
    listStatusRec(dir).map(_.getPath)

  private def listNames(dir: HPath): Seq[String] =
    fs.listStatus(dir).toSeq.map(_.getPath.getName)

  /** Path of `p` relative to ancestor `base`, with '/' separators. */
  private def relativize(base: HPath, p: HPath): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    require(s.startsWith(b + "/"), s"$p not under $base")
    s.substring(b.length + 1)
  }

  def exists(name: String): Boolean = coord.current(name).isDefined

  /** `partitionBy` columns give hive-style `col=value` data layout, so
    * reads with partition-key predicates prune whole directories at plan
    * time (the managed-table analogue of Iceberg partition pruning,
    * SURVEY.md §4). */
  def create(name: String, schema: StructType, overwrite: Boolean = false,
      partitionBy: Seq[String] = Nil, zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomItems: Long = TableStore.DefaultBloomItems): Unit = {
    require(!viewExists(name), s"a view named $name already exists")
    require(!schema.fieldNames.contains(TableStore.RowIdCol),
      s"${TableStore.RowIdCol} is the reserved row-lineage column")
    // a root with NO table directories yet is marker-capable (the
    // guards may fast-path — nothing can predate the markers); a root
    // already holding tables but no stamp is a LEGACY catalog whose
    // adoptions may predate markers — it stays on the full sweep
    // forever (nothing backfills)
    if (!fs.exists(rootPath)) { fs.mkdirs(rootPath); stampRefByCapable() }
    else if (!fs.exists(refByCapableMarker) && referenceHolders("").isEmpty)
      stampRefByCapable()
    val d = tdir(name)
    if (fs.exists(d)) {
      require(overwrite, s"table $name already exists")
      requireNotInTx(s"overwrite-create($name)")
      // overwrite deletes the whole dir — same clone-reachability guard
      // as drop/rename/replace (only when the old dir is a LIVE table;
      // crash debris has no manifests to reference)
      if (exists(name)) {
        val refd = foreignReferenced(name)
        require(refd.isEmpty,
          s"cannot overwrite-create $name: ${refd.size} of its data " +
            "files are still referenced by another table's manifests " +
            "(a snapshot clone or cross-table add_files adoption) — " +
            "drop or compact the referencing tables first")
      }
      // see drop(): external branch pointers outlive the dir otherwise
      scala.util.Try(refs(name)).getOrElse(Map.empty).foreach {
        case (r, ("branch", _)) => coord.clear(refKey(name, Some(r)))
        case _ => ()
      }
      fs.delete(d, true)
    }
    catalogCache -= name // a re-created table starts with identity mapping
    nestedCache -= name
    // partitionBy entries may be hidden-partitioning transforms
    // (`days(ts)`, `bucket(8,key)`, ... — see [[PartitionField]]); bare
    // names are classic identity layout
    val pFields = partitionBy.map(PartitionField.parse)
    validatePartitionFields(schema, pFields)
    bloomCols.foreach(c =>
      require(schema.fieldNames.contains(c), s"column $c not in schema"))
    zoneCols.foreach { c =>
      // zone columns may be DOTTED nested paths (`a.b`): stats aggregate
      // via getField and pruning matches GetStructField chains
      val f = NestedSchema.resolve(schema, c.split('.').toSeq).getOrElse(
        sys.error(s"column $c not in schema"))
      val dt = f.dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.StringType,
        s"zone column $c must be numeric or string, got ${dt.simpleString}")
    }
    bloomCols.foreach { c =>
      val dt = schema(schema.fieldIndex(c)).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.StringType).contains(dt),
        s"bloom column $c must be integral or string, got ${dt.simpleString}")
      // an IDENTITY partition column's values live in directory names,
      // not data files — its bloom would be built over nulls, i.e.
      // CONFIDENTLY empty, and prune every file (unlike zone stats,
      // which just have no entry and fail open). Directory pruning
      // already serves partition-key equality. Hidden transforms keep
      // the source values in the files, so their blooms stay valid.
      require(!pFields.exists(f => f.isIdentity && f.source == c),
        s"bloom column $c is a partition column — directory pruning " +
          "already covers it")
    }
    require(bloomItems > 0, "bloomItems must be positive")
    coord.clear(name) // a re-created table starts a fresh pointer history
    coord match {
      case tx: TxOverlayCoordinator =>
        // the directory metadata below is written eagerly; on abort
        // exists() is false but the dir would remain, so a later
        // create(name) would fail "already exists" on a table nobody
        // can see. Inside a transaction only FRESH creates reach here
        // (overwrite-create is requireNotInTx'd above), so the dir is
        // unconditionally this transaction's to remove. Registered
        // FIRST: abort runs actions in reverse, deleting the buffered
        // commit's manifest family before the directory that holds it.
        tx.onAbort(() => fs.delete(d, true))
      case _ => ()
    }
    fs.mkdirs(dataDir(name))
    fs.mkdirs(new HPath(d, "stats"))
    if (bloomCols.nonEmpty) fs.mkdirs(new HPath(d, "bloom"))
    writeString(new HPath(d, "_schema.json"), schema.json)
    // normalized render (comma-free) — the list itself is comma-joined
    writeString(new HPath(d, "_partitions"), pFields.map(_.render).mkString(","))
    writeString(new HPath(d, "_zonecols"), zoneCols.mkString(","))
    if (bloomCols.nonEmpty) {
      writeString(new HPath(d, "_bloomcols"), bloomCols.mkString(","))
      writeString(new HPath(d, "_bloomitems"), bloomItems.toString)
    }
    writeString(new HPath(d, "_uuid"), UUID.randomUUID().toString)
    commitManifest(name, 0, Set.empty, Nil, Nil)
  }

  /** Stable identity token of THIS incarnation of the table: assigned at
    * create, destroyed with the directory — so a drop + re-create under
    * the same name yields a NEW uuid even if the new head's version
    * number happens to match an old one. Derived state that stores a
    * bare version pointer (e.g. the ANN indexes' `ann.indexed-version`)
    * stores this alongside and forces a rebuild on mismatch, instead of
    * silently serving rows of a table that no longer exists. Tables
    * created before the token existed get one lazily (first call wins;
    * a concurrent double-write converges on the read-back). */
  def tableUuid(name: String): String = {
    val p = new HPath(tdir(name), "_uuid")
    if (fs.exists(p)) readString(p).trim
    else {
      require(exists(name), s"table $name does not exist")
      val u = UUID.randomUUID().toString
      writeStringNoOverwrite(p, u)
      readString(p).trim
    }
  }

  /** Shared create/repartitionSpec validation of a partition spec's
    * fields: sources exist, transform/type compatibility, and no derived
    * directory name may collide with a schema column or another field. */
  private def validatePartitionFields(schema: StructType,
      fields: Seq[PartitionField]): Unit = {
    fields.foreach { f =>
      require(schema.fieldNames.contains(f.source),
        s"partition source column ${f.source} not in schema")
      PartitionField.validate(f, schema(schema.fieldIndex(f.source)).dataType)
      require(f.isIdentity || !schema.fieldNames.contains(f.dirName),
        s"derived partition directory name ${f.dirName} collides with a " +
          "schema column")
    }
    val dirs = fields.map(_.dirName)
    require(dirs.distinct.size == dirs.size,
      s"duplicate partition directory names: ${dirs.mkString(", ")}")
  }

  /** Parsed fields of the CURRENT partition spec. */
  private def partitionFields(name: String): Seq[PartitionField] =
    partitionCols(name).map(PartitionField.parse)

  /** Parsed fields of one spec generation. */
  private def partitionFieldsOfSpec(name: String, specId: Int): Seq[PartitionField] =
    partitionSpecs(name).toMap.getOrElse(specId, Nil).map(PartitionField.parse)

  /** Source columns (physical) of EVERY spec generation — the columns a
    * physical layout anywhere in the table depends on. */
  private def allPartitionSources(name: String): Set[String] =
    partitionSpecs(name).flatMap(_._2).map(PartitionField.parse(_).source).toSet

  /** Columns with per-file min/max zone maps (file skipping for CDC). */
  def zoneCols(name: String): Seq[String] = {
    val p = new HPath(tdir(name), "_zonecols")
    if (!fs.exists(p)) Nil
    else readString(p).trim.split(",").toSeq.filter(_.nonEmpty)
  }

  def partitionCols(name: String): Seq[String] = {
    val p = new HPath(tdir(name), "_partitions")
    if (!fs.exists(p)) Nil
    else readString(p).trim.split(",").toSeq.filter(_.nonEmpty)
  }

  // ---- partition-spec evolution --------------------------------------------

  /** Spec history as (id, physical partition cols), oldest first. Absent
    * `_partspecs.json` = the table never evolved: one spec (id 0) with
    * the create-time layout. */
  def partitionSpecs(name: String): Seq[(Int, Seq[String])] = {
    val p = new HPath(tdir(name), "_partspecs.json")
    if (!fs.exists(p)) Seq((0, partitionCols(name)))
    else {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      root.get("specs").elements().asScala.map { s =>
        (s.get("id").intValue(),
          s.get("cols").elements().asScala.map(_.textValue()).toSeq)
      }.toSeq
    }
  }

  /** Current spec id (the one [[append]] writes under). */
  private def currentSpecId(name: String): Int = partitionSpecs(name).last._1

  /** Spec generation a manifest-relative path belongs to: files of
    * evolved specs live under a `spec-<id>/` prefix; unprefixed = the
    * create-time spec 0. */
  private def specOfRel(rel: String): Int =
    if (!rel.startsWith("spec-")) 0
    else {
      val cut = rel.indexOf('/')
      if (cut < 0) 0
      else scala.util.Try(rel.substring(5, cut).toInt).getOrElse(0)
    }

  /** Base directory of one spec generation (hive kv dirs start below it). */
  private def specBaseDir(name: String, id: Int): HPath =
    if (id == 0) dataDir(name) else new HPath(dataDir(name), s"spec-$id")

  /** Partition-spec evolution (the Iceberg partition-evolution shape,
    * which the reference inherits through its Iceberg tables): FUTURE
    * writes lay out under `newCols` (hive dirs below a fresh
    * `spec-<id>/` generation prefix); existing files keep their layout
    * untouched — METADATA-ONLY, no rewrite, which at 100 TB is the only
    * sane way to change a partition scheme. Reads compose the
    * generations: each one gets its own partition schema and directory
    * pruning, zone maps skip files within every generation, and the
    * union serves the logical schema. A later [[compact]] rewrites
    * everything into the CURRENT spec, retiring old generations (their
    * files age out via [[expireSnapshots]]).
    *
    * `newCols` are logical names (empty = unpartition future writes).
    * Like create-time `partitionBy`, a column with a bloom sidecar
    * cannot become a partition column: its values would move into
    * directory names and the blooms of FUTURE files would be built over
    * nulls — confidently empty, pruning files that hold live rows. */
  def repartitionSpec(name: String, newCols: Seq[String]): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val sch = schema(name)
      val m = physMap(name)
      // entries are LOGICAL (bare names or transforms); re-render over
      // physical source names — the form the layout is stored in
      val fields = newCols.map(PartitionField.parse).map {
        case PartitionField.PIdentity(c) => PartitionField.PIdentity(physOf(m, c))
        case PartitionField.PDays(c)     => PartitionField.PDays(physOf(m, c))
        case PartitionField.PHours(c)    => PartitionField.PHours(physOf(m, c))
        case PartitionField.PMonths(c)   => PartitionField.PMonths(physOf(m, c))
        case PartitionField.PYears(c)    => PartitionField.PYears(physOf(m, c))
        case PartitionField.PBucket(n, c) => PartitionField.PBucket(n, physOf(m, c))
        case PartitionField.PTruncate(w, c) => PartitionField.PTruncate(w, physOf(m, c))
      }
      val physSch = StructType(sch.fields.map(f =>
        f.copy(name = physOf(m, f.name))))
      validatePartitionFields(physSch, fields)
      fields.filter(_.isIdentity).map(_.source).foreach(c =>
        require(!bloomCols(name).contains(c),
          s"column $c has bloom sidecars — an identity partition column's " +
            "values live in directory names and future blooms would prune " +
            "wrongly"))
      val phys = fields.map(_.render)
      val specs = partitionSpecs(name)
      require(phys != specs.last._2,
        s"new partition spec ${phys.mkString(",")} equals the current spec")
      val next = specs.map(_._1).max + 1
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      val arr = root.putArray("specs")
      (specs :+ ((next, phys))).foreach { case (id, cols) =>
        val o = arr.addObject()
        o.put("id", id)
        val ca = o.putArray("cols")
        cols.foreach(ca.add)
        ()
      }
      atomicWrite(new HPath(tdir(name), "_partspecs.json"),
        mapper.writeValueAsString(root))
      atomicWrite(new HPath(tdir(name), "_partitions"), phys.mkString(","))
    } finally { fs.delete(lock, false); () }
  }

  /** Columns with a per-file Bloom filter (point-lookup file skipping).
    * Zone maps only prune when the table is CLUSTERED on the column; a
    * bloom prunes equality probes on any layout — the complement Iceberg
    * ships as puffin blobs / parquet bloom pages. Physical names. */
  def bloomCols(name: String): Seq[String] = {
    val p = new HPath(tdir(name), "_bloomcols")
    if (!fs.exists(p)) Nil
    else readString(p).trim.split(",").toSeq.filter(_.nonEmpty)
  }

  private def bloomItems(name: String): Long = {
    val p = new HPath(tdir(name), "_bloomitems")
    if (!fs.exists(p)) TableStore.DefaultBloomItems
    else scala.util.Try(readString(p).trim.toLong).toOption
      .filter(_ > 0).getOrElse(TableStore.DefaultBloomItems)
  }

  def drop(name: String, force: Boolean = false): Unit = {
    requireNotInTx(s"drop($name)")
    // dropping a SOURCE whose files a clone still references by
    // absolute path would break the clone — same reachability check as
    // expiry/orphan cleanup; `force` drops anyway (the caller accepts
    // breaking the clones)
    if (!force && exists(name)) {
      val refd = foreignReferenced(name)
      require(refd.isEmpty,
        s"cannot drop $name: ${refd.size} of its data files are still " +
          "referenced by another table's manifests (a CALL " +
          "system.snapshot clone or cross-table add_files adoption) — " +
          "drop or compact the referencing tables first, or force")
    }
    // this holder's sources, computed BEFORE its manifests vanish —
    // but the markers retract only AFTER the directory delete: the
    // reverse order would open a crash/race window where a still-live
    // holder's source reads as unmarked (fast path → "unreferenced" →
    // deletable), the exact hazard the guard closes. A crash between
    // the delete and the retraction leaves only a STALE marker — a
    // slow guard, never a wrong one.
    val refSources = sourceTablesOf(
      manifestEntries(tdir(name)).filter(_.startsWith("/")))
      .filterNot(_ == name)
    // branch pointers may live in an external coordinator — clear them
    // BEFORE the refs dir (their registry) goes away with the table
    scala.util.Try(refs(name)).getOrElse(Map.empty).foreach {
      case (r, ("branch", _)) => coord.clear(refKey(name, Some(r)))
      case _ => ()
    }
    fs.delete(tdir(name), true)
    refSources.foreach(src => fs.delete(refByMarker(src, name), false))
    coord.clear(name)
    catalogCache -= name
    nestedCache -= name
    ()
  }

  /** Rename a table: ONE directory move carries every manifest, snapshot,
    * ref, sidecar and stats file — history, tags, branches, and time
    * travel all survive because nothing inside the table dir is
    * path-keyed on the table name. Pointers ARE name-keyed in the
    * coordinator, so they are re-registered under the new key (the
    * default file coordinator's pointer files travel with the dir and
    * re-registration is a no-op check). Single-writer maintenance op,
    * like drop: concurrent writers must quiesce first. */
  def renameTable(name: String, to: String): Unit = {
    requireNotInTx(s"renameTable($name, $to)")
    require(exists(name), s"table $name does not exist")
    // moving the directory would dangle a clone's ABSOLUTE references
    // just as surely as deleting it — same reachability guard as drop
    locally {
      val refd = foreignReferenced(name)
      require(refd.isEmpty,
        s"cannot rename $name: ${refd.size} of its data files are still " +
          "referenced by another table's manifests (a snapshot clone or " +
          "cross-table add_files adoption) — drop or compact the " +
          "referencing tables first")
    }
    require(to.nonEmpty && !to.contains('/') && !to.contains('@'),
      s"invalid table name: $to")
    require(!fs.exists(tdir(to)) && coord.current(to).isEmpty,
      s"table $to already exists")
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    val moved = new HPath(tdir(to), "_commit.lock")
    try {
      // capture pointers BEFORE the move (an external coordinator's keys
      // do not follow the directory)
      val mainPtr = coord.current(name)
      val branchPtrs = refs(name).toSeq.collect {
        case (r, ("branch", _)) => r -> coord.current(refKey(name, Some(r)))
      }
      require(fs.rename(tdir(name), tdir(to)),
        s"filesystem rename of table dir $name -> $to failed")
      def repoint(oldKey: String, newKey: String, ptr: Option[String]): Unit =
        ptr.foreach { p =>
          if (coord.current(newKey) != Some(p))
            require(coord.swap(newKey, coord.current(newKey), p),
              s"could not re-register pointer $newKey after rename")
          coord.clear(oldKey)
        }
      repoint(name, to, mainPtr)
      branchPtrs.foreach { case (r, ptr) =>
        repoint(refKey(name, Some(r)), refKey(to, Some(r)), ptr)
      }
      catalogCache -= name
      catalogCache -= to
      nestedCache -= name
      nestedCache -= to
    } finally { fs.delete(moved, false); fs.delete(lock, false); () }
  }

  /** Publish a STAGED table over an existing target (the RTAS commit):
    * the staged table's data is fully durable BEFORE the swap begins, so
    * the replacement payload is never at risk — unlike Spark's
    * non-atomic fallback for a plain `TableCatalog`, which DROPS the
    * target before the first replacement byte is written. The swap
    * itself is two directory renames under the target's commit lock
    * (old dir aside, staged dir in); a crash between them leaves both
    * the old table (under its aside name) and the staged data on disk —
    * recoverable, nothing lost. The old directory is deleted only after
    * the new one is fully in place. */
  def replaceTable(staged: String, target: String): Unit = {
    require(exists(staged), s"staged table $staged does not exist")
    require(exists(target), s"replace target $target does not exist")
    // the target's old directory moves aside and is then deleted —
    // either step dangles a clone's absolute references; same guard as
    // drop/rename
    locally {
      val refd = foreignReferenced(target)
      require(refd.isEmpty,
        s"cannot replace $target: ${refd.size} of its data files are " +
          "still referenced by another table's manifests (a snapshot " +
          "clone or cross-table add_files adoption) — drop or compact " +
          "the referencing tables first")
    }
    val lock = new HPath(tdir(target), "_commit.lock")
    acquireLock(target, lock)
    val aside = s".$target${TableStore.StageMarker}replaced-" +
      UUID.randomUUID().toString.take(8)
    try {
      // external-coordinator pointers do not follow directories: capture
      // the staged head and the target's branch keys before any move
      val stagedPtr = coord.current(staged)
      val stagedBranches = refs(staged).toSeq.collect {
        case (r, ("branch", _)) => r -> coord.current(refKey(staged, Some(r)))
      }
      scala.util.Try(refs(target)).getOrElse(Map.empty).foreach {
        case (r, ("branch", _)) => coord.clear(refKey(target, Some(r)))
        case _ => ()
      }
      require(fs.rename(tdir(target), tdir(aside)),
        s"filesystem rename of replace target $target aside failed")
      require(fs.rename(tdir(staged), tdir(target)),
        s"filesystem rename of staged table $staged -> $target failed")
      def repoint(oldKey: String, newKey: String, ptr: Option[String]): Unit =
        ptr.foreach { p =>
          if (coord.current(newKey) != Some(p))
            require(coord.swap(newKey, coord.current(newKey), p),
              s"could not re-register pointer $newKey after replace")
          coord.clear(oldKey)
        }
      repoint(staged, target, stagedPtr)
      stagedBranches.foreach { case (r, ptr) =>
        repoint(refKey(staged, Some(r)), refKey(target, Some(r)), ptr)
      }
      catalogCache -= target; catalogCache -= staged
      nestedCache -= target; nestedCache -= staged
    } finally {
      fs.delete(new HPath(tdir(target), "_commit.lock"), false)
      ()
    }
    fs.delete(tdir(aside), true)
    ()
  }

  /** Names of every live table under this store's root (a directory whose
    * commit pointer resolves — crash debris without a committed manifest
    * is not a table). One listing + one pointer read per entry: catalog
    * enumeration cost, not data cost. */
  def tables(): Seq[String] =
    if (!fs.exists(rootPath)) Nil
    else listNames(rootPath)
      .filter(n => !n.contains(TableStore.StageMarker))
      .filter(n => coord.current(n).isDefined).sorted

  // ---- namespaces ---------------------------------------------------------
  //
  // The store itself stays FLAT (one directory per table under root); a
  // namespaced table `a.b.t` is simply the store table named "a.b.t" —
  // namespace levels may not contain '.', so the mangling is unambiguous.
  // An EXPLICITLY created namespace is a `_ns_<a.b>.json` marker file at
  // the root holding its properties (so empty namespaces exist and
  // survive restarts); a namespace is also implied by any live table
  // under its prefix. This mirrors the reference's own addressing —
  // `catalog.namespace.table` (DestinationConfig.java:130-132) — without
  // giving the commit path a directory hierarchy to walk.

  private def nsKey(ns: Seq[String]): String = ns.mkString(".")

  private def nsMarker(ns: Seq[String]): HPath =
    new HPath(rootPath, s"_ns_${nsKey(ns)}.json")

  def validateNamespace(ns: Seq[String]): Unit =
    require(ns.nonEmpty && ns.forall(l =>
      l.nonEmpty && !l.contains('.') && !l.contains('/') &&
        !l.contains(TableStore.StageMarker) && !l.startsWith("_")),
      s"invalid namespace: ${ns.mkString(".")} (levels must be non-empty, " +
        "contain no '.' or '/', and not start with '_')")

  def namespaceExists(ns: Seq[String]): Boolean =
    fs.exists(nsMarker(ns)) ||
      tables().exists(_.startsWith(nsKey(ns) + ".")) ||
      views().exists(_.startsWith(nsKey(ns) + "."))

  /** Every namespace: explicit markers plus those implied by live
    * dotted table names (all prefixes, so `a.b.t` implies [a] and
    * [a,b]). */
  def namespaces(): Seq[Seq[String]] = {
    val explicit =
      if (!fs.exists(rootPath)) Nil
      else listNames(rootPath)
        .filter(n => n.startsWith("_ns_") && n.endsWith(".json"))
        .map(n => n.stripPrefix("_ns_").stripSuffix(".json")
          .split('.').toSeq)
    val implied =
      (tables() ++ views()).filter(_.contains('.')).flatMap { t =>
        val levels = t.split('.').dropRight(1)
        (1 to levels.length).map(k => levels.take(k).toSeq)
      }
    (explicit ++ implied).distinct.sortBy(nsKey)
  }

  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit = {
    validateNamespace(ns)
    require(!namespaceExists(ns), s"namespace ${nsKey(ns)} already exists")
    if (!fs.exists(rootPath)) { fs.mkdirs(rootPath); stampRefByCapable() }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v); () }
    atomicWrite(nsMarker(ns), mapper.writeValueAsString(root))
  }

  def namespaceProps(ns: Seq[String]): Map[String, String] = {
    require(namespaceExists(ns), s"no such namespace: ${nsKey(ns)}")
    if (!fs.exists(nsMarker(ns))) Map.empty // implied-only namespace
    else {
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(nsMarker(ns)))
      node.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  def setNamespaceProps(ns: Seq[String],
      updates: Map[String, Option[String]]): Unit = {
    val next = updates.foldLeft(namespaceProps(ns)) {
      case (acc, (k, Some(v))) => acc + (k -> v)
      case (acc, (k, None))    => acc - k
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    next.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v); () }
    atomicWrite(nsMarker(ns), mapper.writeValueAsString(root))
  }

  /** Drop a namespace. Refuses a non-empty one unless `cascade`, which
    * drops every table AND view under the prefix (including nested
    * namespaces' members — their implied namespaces vanish with them). */
  def dropNamespace(ns: Seq[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    val prefix = nsKey(ns) + "."
    val inNs = tables().filter(_.startsWith(prefix))
    val viewsInNs = views().filter(_.startsWith(prefix))
    require((inNs.isEmpty && viewsInNs.isEmpty) || cascade,
      s"namespace ${nsKey(ns)} is not empty " +
        s"(${inNs.size} tables, ${viewsInNs.size} views) — use CASCADE")
    // ONE pass over every root dir's manifests builds the reference
    // graph (holder → members it references); the outside-holder
    // pre-check, the cycle dry-run, AND the drop ordering all read this
    // in-memory graph — O(all manifests) once, not
    // O(passes × tables × all-manifests) of re-sweeping per member per
    // fixpoint pass. Holders include STAGED/aside dirs (a mid-publish
    // adoption counts as an outside holder).
    val nsMembers = inNs.toSet
    val graph: Map[String, Set[String]] =
      referenceHolders("").flatMap { case (h, td) =>
        val refs = sourceTablesOf(
          manifestEntries(td).filter(_.startsWith("/"))) & nsMembers
        if (refs.isEmpty) None else Some(h -> refs)
      }.toMap
    // pre-check BEFORE anything drops: a refusal must leave the
    // namespace fully intact, never half-dropped. References from
    // INSIDE the namespace are orderable (below); any reference from
    // outside refuses the whole cascade up front.
    graph.foreach { case (h, refs) =>
      require(nsMembers.contains(h),
        s"cannot cascade-drop namespace ${nsKey(ns)}: " +
          s"${refs.toSeq.sorted.mkString(", ")}'s files are referenced " +
          s"by $h outside the namespace — nothing was dropped")
    }
    // DRY-RUN the clones-before-sources ordering before any view or
    // table drops: a reference cycle INSIDE the namespace (mutual
    // snapshot/add_files adoption) passes the outside-holder check yet
    // can never be ordered — detected here, while everything is intact,
    // instead of stalling mid-drop with the views already gone.
    val dropOrder = Vector.newBuilder[String]
    var remaining = inNs.toVector
    var progressed = true
    while (remaining.nonEmpty && progressed) {
      val rem = remaining.toSet
      val (held, free) = remaining.partition(t =>
        graph.exists { case (h, refs) => h != t && rem(h) && refs(t) })
      progressed = free.nonEmpty
      dropOrder ++= free
      remaining = held
    }
    require(remaining.isEmpty,
      s"cannot cascade-drop namespace ${nsKey(ns)}: " +
        s"${remaining.sorted.mkString(", ")} reference each other's " +
        "files in a cycle (mutual snapshot/add_files adoption) — " +
        "compact or drop one of them first; nothing was dropped")
    viewsInNs.foreach(dropView)
    // clones drop before their sources, per the dry-run order; each
    // drop() re-checks its own reachability guard (marker-gated, so
    // never-adopted members stay O(1))
    dropOrder.result().foreach(t => drop(t))
    // cascade also removes explicit markers of nested namespaces
    namespaces().filter(n => nsKey(n).startsWith(prefix))
      .foreach(n => fs.delete(nsMarker(n), false))
    fs.delete(nsMarker(ns), false)
    true
  }

  // ---- views ----------------------------------------------------------------
  //
  // Persistent SQL views, Iceberg-view-style: the view IS its SQL text,
  // stored in a `_view_<name>.json` marker at the root and re-resolved
  // against the catalog on every read — so a view always reflects the
  // current state (and current schema) of the tables under it. Views
  // share the table namespace: a dotted name places the view in that
  // namespace, and a view may not shadow a live table (or vice versa).

  private def viewMarker(name: String): HPath =
    new HPath(rootPath, s"_view_$name.json")

  def viewExists(name: String): Boolean = fs.exists(viewMarker(name))

  def createView(name: String, sql: String,
      props: Map[String, String] = Map.empty,
      orReplace: Boolean = false): Unit = {
    require(name.nonEmpty && !name.contains('/') &&
      !name.contains(TableStore.StageMarker) && !name.startsWith("_"),
      s"invalid view name: $name")
    require(sql != null && sql.trim.nonEmpty, "view SQL must be non-empty")
    require(!exists(name), s"a table named $name already exists")
    require(orReplace || !viewExists(name), s"view $name already exists")
    if (!fs.exists(rootPath)) { fs.mkdirs(rootPath); stampRefByCapable() }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("sql", sql)
    val p = root.putObject("props")
    props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v); () }
    atomicWrite(viewMarker(name), mapper.writeValueAsString(root))
  }

  def viewSql(name: String): String = {
    require(viewExists(name), s"no such view: $name")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readString(viewMarker(name))).get("sql").asText()
  }

  def dropView(name: String): Boolean =
    viewExists(name) && fs.delete(viewMarker(name), false)

  def views(): Seq[String] =
    if (!fs.exists(rootPath)) Nil
    else listNames(rootPath)
      .filter(n => n.startsWith("_view_") && n.endsWith(".json"))
      .map(_.stripPrefix("_view_").stripSuffix(".json")).sorted

  /** Metadata-only TRUNCATE: one commit in which no prior file is live.
    * Data files stay on disk for time travel until [[expireSnapshots]];
    * cost is one manifest write regardless of table size. */
  def truncate(name: String): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    if (rels.nonEmpty || pendingDeletes(name) > 0)
      commitManifest(name, base, rels.toSet, Nil, Nil, dropDeletes = true)
  }

  /** Atomic whole-table replacement (INSERT OVERWRITE): stage the new
    * files, then ONE commit removes every previously-live file and adds
    * them — readers see the old table or the new one, never a mix or an
    * empty window (unlike truncate-then-append's two commits). */
  def overwrite(name: String, df: DataFrame): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val newFiles = writeDataFiles(name, alignTo(name, schema(name), df))
    commitManifest(name, base, rels.toSet, newFiles, newFiles,
      dropDeletes = true)
  }

  /** Additive schema evolution (the Iceberg add-column shape): register
    * new NULLABLE columns on the catalog-owned schema. No data file is
    * touched — existing files simply lack the column and every read path
    * backfills null through the explicit-schema parquet scan, exactly how
    * Iceberg reads pre-evolution files. At 100 TB this is the only sane
    * evolution primitive: a backfilling rewrite would be a full-table
    * copy. New columns must be nullable for that reason; appends written
    * without the EVOLVED columns keep working (alignTo backfills null for
    * exactly the recorded evolved set — a frame missing any ORIGINAL
    * column still fails loudly), so producers can upgrade after the
    * schema does. The schema swap is tmp-write + atomic rename, like the
    * `_current` pointer: readers call schema() on every access and must
    * never observe a truncated file. Snapshots are read under the LIVE
    * schema — time travel to a pre-evolution version shows the new
    * columns as null (Iceberg pins schema per snapshot; this store keeps
    * one live schema, documented divergence). */
  def addColumns(name: String, cols: StructType): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      // case-insensitive duplicate check: Spark resolves column names
      // case-insensitively by default, and a schema with both "score"
      // and "Score" fails every subsequent read
      val existing = cur.fieldNames.map(_.toLowerCase).toSet
      cols.fields.foreach { f =>
        require(!existing.contains(f.name.toLowerCase),
          s"column ${f.name} already exists in table $name")
        require(f.nullable,
          s"new column ${f.name} must be nullable — existing files backfill null")
      }
      // register fresh field ids when a catalog exists; a physical name
      // ever used (live OR dropped) is reserved, so re-adding a dropped
      // column's name maps to a new physical name and old bytes stay dead.
      // Catalog FIRST, schema second: a crash in between leaves a catalog
      // entry for a column the schema doesn't have yet (harmless — reads
      // project the schema), whereas schema-first would let a re-added
      // dropped name read the dead bytes until the catalog caught up.
      readCatalog(name).foreach { cat =>
        // a crashed earlier addColumns may have registered a field the
        // schema never gained — retire such debris records (their physical
        // names stay reserved) before re-registering the name
        val (debris, live) = cat.fields.partition(r =>
          cols.fieldNames.contains(r.name) && !cur.fieldNames.contains(r.name))
        var used = (live.map(_.physical) ++ cat.droppedPhysical ++
          debris.map(_.physical)).map(_.toLowerCase).toSet
        var next = cat.next
        val recs = cols.fields.toSeq.map { f =>
          var pn = f.name
          var i = next
          while (used.contains(pn.toLowerCase)) { pn = s"${f.name}__$i"; i += 1 }
          used += pn.toLowerCase
          val r = FieldRec(next, f.name, pn)
          next += 1
          r
        }
        writeCatalog(name, cat.copy(next = next, fields = live ++ recs,
          droppedPhysical = cat.droppedPhysical ++ debris.map(_.physical)))
      }
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        StructType(cur.fields ++ cols.fields).json)
      val ev = new HPath(tdir(name), "_evolved")
      val prior = if (fs.exists(ev)) readString(ev).trim else ""
      atomicWrite(ev, (prior.split(",").toSeq.filter(_.nonEmpty) ++
        cols.fields.map(_.name)).mkString(","))
    } finally { fs.delete(lock, false); () }
  }

  /** Declare a SHREDDED sub-column of a semi-structured (JSON "variant")
    * column: `asName` becomes a real typed column of the table, DERIVED
    * at every write as `get_json_object(srcCol, path)` cast to `dt` —
    * the Iceberg-v3/Parquet variant-shredding design re-expressed on the
    * engine's own machinery. Because the shred is a physical column, it
    * gets everything real columns get for free: parquet column pruning
    * and predicate pushdown, per-file zone stats (registered here, so
    * filters on the extracted path SKIP FILES at plan time), and exact
    * values with no per-row JSON parse at read. Non-shredded paths stay
    * available via runtime `get_json_object` over the variant column.
    *
    * Rows never carry an inconsistent shred: the derivation RECOMPUTES
    * on every write path (append, upsert, CDC apply, MoR update), so a
    * writer supplying its own value for `asName` is overridden — the
    * JSON is the source of truth. Declare shreds BEFORE the first data
    * commit: earlier files would null-backfill instead of deriving
    * (the addColumns contract), silently diverging from the JSON.
    *
    * CDC payloads are schemaless JSON in the reference
    * (opencdc.proto:96) — this is the typed/prunable read surface for
    * them at scale. */
  def addVariantShred(name: String, srcCol: String, path: String,
      asName: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    val sch = schema(name)
    require(sch.fieldNames.contains(srcCol),
      s"variant column $srcCol not in table $name")
    require(sch(sch.fieldIndex(srcCol)).dataType == StringType,
      s"variant column $srcCol must be a JSON string column, got " +
        sch(sch.fieldIndex(srcCol)).dataType.simpleString)
    require(path.startsWith("$."),
      s"shred path must be a JSON path like $$.a.b, got $path")
    require(currentRelPaths(name).isEmpty,
      s"declare variant shreds before the first data commit to $name — " +
        "existing files would null-backfill instead of deriving")
    val zonable = dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
      dt == StringType
    require(zonable || dt == BooleanType ||
        dt == TimestampType,
      s"shred type must be numeric/string/boolean/timestamp, " +
        s"got ${dt.simpleString}")
    addColumns(name, StructType(Seq(StructField(asName, dt,
      nullable = true))))
    setProperties(name, Map(
      s"variant.shred.$asName" -> Some(s"$srcCol\t$path\t${dt.json}")))
    // per-file zone stats make the shred prunable (numeric/string only —
    // the zone machinery's domain); physical == logical for a fresh column
    if (zonable)
      writeString(new HPath(tdir(name), "_zonecols"),
        (zoneCols(name) :+ asName).mkString(","))
  }

  /** Declared shreds of `name`: (source variant column, JSON path,
    * shred column name, declared type). */
  private[tables] def variantShreds(name: String)
      : Seq[(String, String, String, org.apache.spark.sql.types.DataType)] =
    properties(name).toSeq.collect {
      case (k, v) if k.startsWith("variant.shred.") =>
        v.split('\t') match {
          case Array(src, path, dtJson) =>
            (src, path, k.stripPrefix("variant.shred."),
              org.apache.spark.sql.types.DataType.fromJson(dtJson))
          case _ => sys.error(s"corrupt variant shred spec $k=$v on $name")
        }
    }.sortBy(_._3)

  /** Set or drop a column's WRITE default (`ALTER COLUMN ... SET/DROP
    * DEFAULT`): rewrites the field's CURRENT_DEFAULT metadata in the
    * catalog schema. The EXISTS_DEFAULT (what pre-evolution files read
    * back) is deliberately untouched — it is the add-time contract of
    * already-written files (Iceberg's initial-default), and moving it
    * would silently rewrite history. */
  def updateColumnDefault(name: String, colName: String,
      sql: Option[String]): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      require(cur.fieldNames.contains(colName),
        s"no column $colName in table $name")
      val next = StructType(cur.fields.map { f =>
        if (f.name != colName) f
        else {
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          sql match {
            case Some(s) => b.putString("CURRENT_DEFAULT", s)
            case None => b.remove("CURRENT_DEFAULT")
          }
          f.copy(metadata = b.build())
        }
      })
      atomicWrite(new HPath(tdir(name), "_schema.json"), next.json)
    } finally { fs.delete(lock, false); () }
  }

  /** Columns added after create() — the only ones writes may omit. */
  private def evolvedCols(name: String): Set[String] = {
    val p = new HPath(tdir(name), "_evolved")
    if (!fs.exists(p)) Set.empty
    else readString(p).trim.split(",").toSeq.filter(_.nonEmpty).toSet
  }

  // ---- field-id catalog: rename/drop without touching data -----------------

  /** `_fields.json`: per-column stable id + PHYSICAL name (the name data
    * files are written with, fixed when the field is created — the field-id
    * idea Iceberg uses for metadata-only rename/drop). A rename changes
    * only the LOGICAL name in this catalog and `_schema.json`; every data
    * file, old or new, keeps writing/reading the physical name. Dropped
    * fields leave the catalog but their physical names stay reserved, so a
    * later re-add of the same logical name gets a FRESH physical name and
    * never resurrects dropped data. Absent for tables that never
    * renamed/dropped — the mapping is identity then. */
  private case class FieldRec(id: Int, name: String, physical: String)
  private case class FieldCatalog(next: Int, fields: Seq[FieldRec],
      droppedPhysical: Seq[String])

  private def fieldsPath(name: String): HPath =
    new HPath(tdir(name), "_fields.json")

  /** Per-instance catalog cache (write-through): physMap sits on every
    * read/write path and most tables never rename — paying a metadata
    * round-trip per operation (an RTT on object stores) for an absent
    * file would tax the 99% case. Catalog mutations in THIS instance
    * update the cache; a rename/drop issued from a different process is
    * outside the single-writer contract, and readers observe it by
    * constructing a fresh TableStore (the same visibility rule Iceberg
    * gives a pinned table metadata object). */
  @volatile private var catalogCache: Map[String, Option[FieldCatalog]] = Map.empty

  private def readCatalog(name: String): Option[FieldCatalog] =
    catalogCache.getOrElse(name, {
      val loaded = loadCatalog(name)
      catalogCache += (name -> loaded)
      loaded
    })

  private def loadCatalog(name: String): Option[FieldCatalog] = {
    val p = fieldsPath(name)
    if (!fs.exists(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      Some(FieldCatalog(
        n.get("next").intValue(),
        n.get("fields").elements().asScala.map(f => FieldRec(
          f.get("id").intValue(), f.get("name").textValue(),
          f.get("physical").textValue())).toSeq,
        n.get("droppedPhysical").elements().asScala.map(_.textValue()).toSeq))
    }
  }

  private def writeCatalog(name: String, c: FieldCatalog): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("next", c.next)
    val arr = root.putArray("fields")
    c.fields.foreach { r =>
      val o = arr.addObject()
      o.put("id", r.id); o.put("name", r.name); o.put("physical", r.physical)
      ()
    }
    val dp = root.putArray("droppedPhysical")
    c.droppedPhysical.foreach(dp.add)
    atomicWrite(fieldsPath(name), mapper.writeValueAsString(root))
    catalogCache += (name -> Some(c)) // write-through
  }

  // ---- nested field catalog: rename/drop/add INSIDE structs ----------------

  /** `_nested.json`: per PHYSICAL parent path (dotted), the logical→
    * physical leaf-name map plus retired physical names — the nested
    * extension of the top-level field-id catalog, same rules: a rename
    * changes only the logical name, data files keep writing/reading the
    * physical name; a dropped leaf's physical name stays reserved so a
    * re-added field never resurrects dead bytes. `added` records the
    * PHYSICAL dotted paths of fields added after create — the only
    * nested fields a writer may omit (align backfills null). */
  private case class NestedParent(next: Int, fields: Seq[(String, String)],
      dropped: Seq[String])
  private case class NestedCatalog(parents: Map[String, NestedParent],
      added: Seq[String]) {
    def isEmpty: Boolean = parents.isEmpty && added.isEmpty
  }

  private def nestedPath(name: String): HPath =
    new HPath(tdir(name), "_nested.json")

  @volatile private var nestedCache: Map[String, NestedCatalog] = Map.empty

  private def readNested(name: String): NestedCatalog =
    nestedCache.getOrElse(name, {
      val loaded = loadNested(name)
      nestedCache += (name -> loaded)
      loaded
    })

  private def loadNested(name: String): NestedCatalog = {
    val p = nestedPath(name)
    if (!fs.exists(p)) NestedCatalog(Map.empty, Nil)
    else {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      val parents = Option(root.get("parents")).map { node =>
        node.properties().asScala.map { e =>
          val v = e.getValue
          e.getKey -> NestedParent(
            v.get("next").intValue(),
            v.get("fields").elements().asScala.map(f =>
              (f.get(0).textValue(), f.get(1).textValue())).toSeq,
            v.get("dropped").elements().asScala.map(_.textValue()).toSeq)
        }.toMap
      }.getOrElse(Map.empty[String, NestedParent])
      val added = Option(root.get("added")).map(
        _.elements().asScala.map(_.textValue()).toSeq).getOrElse(Nil)
      NestedCatalog(parents, added)
    }
  }

  private def writeNested(name: String, c: NestedCatalog): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val ps = root.putObject("parents")
    c.parents.toSeq.sortBy(_._1).foreach { case (k, rec) =>
      val o = ps.putObject(k)
      o.put("next", rec.next)
      val fa = o.putArray("fields")
      rec.fields.foreach { case (l, p) =>
        val pair = fa.addArray(); pair.add(l); pair.add(p); ()
      }
      val da = o.putArray("dropped")
      rec.dropped.foreach(da.add)
      ()
    }
    val aa = root.putArray("added")
    c.added.foreach(aa.add)
    atomicWrite(nestedPath(name), mapper.writeValueAsString(root))
    nestedCache += (name -> c)
  }

  /** Full PHYSICAL schema: top-level field-id renames composed with the
    * nested catalog's leaf renames — same shape as the logical schema,
    * physical names at every level. This is the schema data files are
    * written and read under. */
  private def physSchema(name: String): StructType = {
    val m = physMap(name)
    val nc = readNested(name)
    def walk(fields: Array[StructField], parentPhys: String,
        top: Boolean): Array[StructField] =
      fields.map { f =>
        val phys =
          if (top) physOf(m, f.name)
          else nc.parents.get(parentPhys)
            .flatMap(_.fields.find(_._1 == f.name).map(_._2))
            .getOrElse(f.name)
        val dt = f.dataType match {
          case st: StructType =>
            val pp = if (parentPhys.isEmpty) phys else s"$parentPhys.$phys"
            StructType(walk(st.fields, pp, top = false))
          case other => other
        }
        f.copy(name = phys, dataType = dt)
      }
    StructType(walk(schema(name).fields, "", top = true))
  }

  /** physical → logical projection columns (read side). */
  private def logicalProjection(name: String, sch: StructType,
      ph: StructType): Seq[Column] =
    sch.fields.zip(ph.fields).map { case (lf, pf) =>
      NestedSchema.relabel(col(s"`${pf.name}`"), pf, lf)
    }.toSeq

  /** logical → physical projection (write side); identity frames pass
    * through untouched. */
  private def physicalProjection(name: String, df: DataFrame): DataFrame = {
    val sch = schema(name)
    val ph = physSchema(name)
    val identical = sch.fields.zip(ph.fields).forall { case (lf, pf) =>
      lf.name == pf.name && NestedSchema.congruentNames(lf.dataType, pf.dataType)
    }
    if (identical) df
    else df.select(sch.fields.zip(ph.fields).map { case (lf, pf) =>
      NestedSchema.relabel(col(s"`${lf.name}`"), lf, pf)
    }.toSeq ++
      // the lineage id rides along a relabeling rewrite untouched
      (if (df.columns.contains(TableStore.RowIdCol))
        Seq(col(s"`${TableStore.RowIdCol}`")) else Nil): _*)
  }

  /** LOGICAL dotted paths of nested fields added after create (the only
    * ones align may backfill). */
  private def addedNestedLogical(name: String): Set[String] = {
    val nc = readNested(name)
    if (nc.added.isEmpty) Set.empty
    else {
      val addedPhys = nc.added.toSet
      NestedSchema.pathPairs(schema(name), physSchema(name))
        .collect { case (lp, pp) if addedPhys.contains(pp) => lp }.toSet
    }
  }

  /** Physical parent path of a LOGICAL parent path (resolving each
    * segment through the catalogs). */
  private def physParentPath(name: String, parent: Seq[String]): String = {
    val lp = parent.mkString(".")
    NestedSchema.pathPairs(schema(name), physSchema(name))
      .find(_._1 == lp).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"no such struct path $lp in table $name"))
  }

  /** Add a NULLABLE field inside a struct — metadata-only, like
    * [[addColumns]]: old files lack the subfield and every read
    * backfills null through the explicit-schema parquet scan (nested
    * schema evolution); writers may omit it until they upgrade. `path`
    * = parent struct segments + new leaf name, logical. */
  def addNestedField(name: String, path: Seq[String],
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    require(path.length >= 2, "addNestedField needs parent.leaf — use " +
      "addColumns for top-level columns")
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      val parent = path.init
      val leaf = path.last
      val parentField = NestedSchema.resolve(cur, parent).getOrElse(
        sys.error(s"no such struct path ${parent.mkString(".")} in $name"))
      val parentType = parentField.dataType match {
        case st: StructType => st
        case other => sys.error(s"${parent.mkString(".")} is " +
          s"${other.simpleString}, not a struct")
      }
      require(!parentType.fieldNames.exists(_.equalsIgnoreCase(leaf)),
        s"field ${path.mkString(".")} already exists")
      val pp = physParentPath(name, parent)
      val nc = readNested(name)
      val rec = nc.parents.getOrElse(pp, {
        // materialize identity for this parent so freshness checks see
        // every live physical name
        NestedParent(parentType.fields.length + 1,
          parentType.fields.map(f => f.name -> f.name).toSeq, Nil)
      })
      val used = (rec.fields.map(_._2) ++ rec.dropped ++
        parentType.fieldNames).map(_.toLowerCase).toSet
      var physLeaf = leaf
      var i = rec.next
      while (used.contains(physLeaf.toLowerCase)) {
        physLeaf = s"${leaf}__$i"; i += 1
      }
      val nextRec = rec.copy(next = i + 1,
        fields = rec.fields :+ (leaf -> physLeaf))
      writeNested(name, nc.copy(
        parents = nc.parents + (pp -> nextRec),
        added = nc.added :+ s"$pp.$physLeaf"))
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        NestedSchema.updateAt(cur, parent, st =>
          StructType(st.fields :+ StructField(leaf, dataType,
            nullable = true))).json)
    } finally { fs.delete(lock, false); () }
  }

  /** Metadata-only rename of a nested field: only the LOGICAL name
    * changes; every data file keeps the physical name. */
  def renameNestedField(name: String, path: Seq[String], to: String): Unit = {
    require(path.length >= 2, "renameNestedField needs parent.leaf — " +
      "use renameColumn for top-level columns")
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      val parent = path.init
      val leaf = path.last
      require(to.nonEmpty && !to.contains('.'), s"invalid field name: $to")
      val parentType = NestedSchema.resolve(cur, parent)
        .map(_.dataType).collect { case st: StructType => st }.getOrElse(
          sys.error(s"no such struct path ${parent.mkString(".")} in $name"))
      require(parentType.fieldNames.contains(leaf),
        s"no such field ${path.mkString(".")} in $name")
      require(!parentType.fieldNames.exists(f =>
        f != leaf && f.equalsIgnoreCase(to)),
        s"field ${(parent :+ to).mkString(".")} already exists")
      val pp = physParentPath(name, parent)
      val nc = readNested(name)
      val rec = nc.parents.getOrElse(pp,
        NestedParent(parentType.fields.length + 1,
          parentType.fields.map(f => f.name -> f.name).toSeq, Nil))
      writeNested(name, nc.copy(parents = nc.parents + (pp -> rec.copy(
        fields = rec.fields.map { case (l, p) =>
          if (l == leaf) (to, p) else (l, p) }))))
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        NestedSchema.updateAt(cur, parent, st =>
          StructType(st.fields.map(f =>
            if (f.name == leaf) f.copy(name = to) else f))).json)
    } finally { fs.delete(lock, false); () }
  }

  /** Metadata-only drop of a nested field: the leaf leaves the schema
    * (its physical name stays reserved), data files keep the bytes but
    * no read ever requests them again — parquet reads only the
    * requested subset of a struct's fields. */
  def dropNestedField(name: String, path: Seq[String]): Unit = {
    require(path.length >= 2, "dropNestedField needs parent.leaf — " +
      "use dropColumn for top-level columns")
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      val parent = path.init
      val leaf = path.last
      val parentType = NestedSchema.resolve(cur, parent)
        .map(_.dataType).collect { case st: StructType => st }.getOrElse(
          sys.error(s"no such struct path ${parent.mkString(".")} in $name"))
      require(parentType.fieldNames.contains(leaf),
        s"no such field ${path.mkString(".")} in $name")
      require(parentType.fields.length > 1,
        s"cannot drop the last field of struct ${parent.mkString(".")}")
      val pp = physParentPath(name, parent)
      val physLeafPath = NestedSchema.pathPairs(cur, physSchema(name))
        .find(_._1 == path.mkString(".")).map(_._2).get
      require(!zoneCols(name).contains(physLeafPath),
        s"cannot drop zone column ${path.mkString(".")}")
      val nc = readNested(name)
      val rec = nc.parents.getOrElse(pp,
        NestedParent(parentType.fields.length + 1,
          parentType.fields.map(f => f.name -> f.name).toSeq, Nil))
      val physLeaf = rec.fields.find(_._1 == leaf).map(_._2).getOrElse(leaf)
      writeNested(name, nc.copy(
        parents = nc.parents + (pp -> rec.copy(
          fields = rec.fields.filterNot(_._1 == leaf),
          dropped = rec.dropped :+ physLeaf)),
        added = nc.added.filterNot(_ == s"$pp.$physLeaf")))
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        NestedSchema.updateAt(cur, parent, st =>
          StructType(st.fields.filterNot(_.name == leaf))).json)
    } finally { fs.delete(lock, false); () }
  }

  /** Catalog with identity ids, created from the live schema on the first
    * rename/drop (legacy tables evolve in place). */
  private def materializeCatalog(name: String): FieldCatalog =
    readCatalog(name).getOrElse {
      val fields = schema(name).fields.zipWithIndex.map { case (f, i) =>
        FieldRec(i + 1, f.name, f.name)
      }.toSeq
      FieldCatalog(fields.length + 1, fields, Nil)
    }

  /** logical → physical column names; empty map = identity. */
  private def physMap(name: String): Map[String, String] =
    readCatalog(name) match {
      case None => Map.empty
      case Some(c) => c.fields.map(r => r.name -> r.physical).toMap
    }

  private def physOf(m: Map[String, String], c: String): String =
    m.getOrElse(c, c)

  /** physical -> live logical name, TOTAL over the current schema
    * (physMap is sparse: identity mappings are not materialized). */
  private def invPhysMap(name: String): Map[String, String] = {
    val m = physMap(name)
    schema(name).fieldNames.map(f => physOf(m, f) -> f).toMap
  }

  /** Update the `_evolved` logical-name list (omittable columns). */
  private def rewriteEvolved(name: String, f: Set[String] => Set[String]): Unit = {
    val ev = evolvedCols(name)
    val out = f(ev)
    if (out != ev)
      atomicWrite(new HPath(tdir(name), "_evolved"), out.mkString(","))
  }

  /** Metadata-only column rename: no data file is touched (the manifest is
    * not even rewritten) — old and new snapshots read back under the new
    * name through the physical mapping. At 100 TB this is the only sane
    * rename primitive; a rewriting rename would be a full-table copy. */
  def renameColumn(name: String, from: String, to: String): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      require(cur.fieldNames.contains(from),
        s"column $from not in table $name")
      require(to.nonEmpty, "new column name must be non-empty")
      require(!cur.fieldNames.exists(f => f != from && f.equalsIgnoreCase(to)),
        s"column $to already exists in table $name")
      // a variant shred's spec stores the source and shred column by
      // LOGICAL name (the derivation re-resolves them in every writer);
      // renaming either would silently sever the derivation
      require(!variantShreds(name).exists { case (src, _, as, _) =>
          src.equalsIgnoreCase(from) || as.equalsIgnoreCase(from) },
        s"column $from participates in a variant shred of $name — " +
          "renaming would sever the derivation")
      val cat = materializeCatalog(name)
      writeCatalog(name, cat.copy(fields = cat.fields.map(r =>
        if (r.name == from) r.copy(name = to) else r)))
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        StructType(cur.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)).json)
      rewriteEvolved(name, ev => if (ev.contains(from)) ev - from + to else ev)
    } finally { fs.delete(lock, false); () }
  }

  /** Metadata-only column drop: the field leaves the catalog (its physical
    * name stays reserved), data files keep the bytes — old snapshots via
    * [[readVersion]] simply no longer project it. Partition and zone
    * columns cannot be dropped (the physical layout depends on them). */
  def dropColumn(name: String, colName: String): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      require(cur.fieldNames.contains(colName),
        s"column $colName not in table $name")
      // a pending equality delete keyed on this column could no longer
      // be applied (or materialized) once the column is gone
      require(!readDeleteEntries(name, currentVersion(name))
          .exists(_.cols.contains(physOf(physMap(name), colName))),
        s"column $colName is a key of a pending merge-on-read delete — " +
          s"materializeDeletes($name) first")
      require(!variantShreds(name).exists { case (src, _, as, _) =>
          src.equalsIgnoreCase(colName) || as.equalsIgnoreCase(colName) },
        s"column $colName participates in a variant shred of $name — " +
          "dropping would sever the derivation")
      require(cur.fields.length > 1, "cannot drop the last column")
      val m = physMap(name)
      require(!allPartitionSources(name).contains(physOf(m, colName)),
        s"cannot drop partition column $colName")
      // dotted zone paths pin their whole ancestor chain
      require(!zoneCols(name).exists(z => z == physOf(m, colName) ||
        z.startsWith(physOf(m, colName) + ".")),
        s"cannot drop zone column $colName")
      require(!bloomCols(name).contains(physOf(m, colName)),
        s"cannot drop bloom column $colName")
      val cat = materializeCatalog(name)
      val (gone, kept) = cat.fields.partition(_.name == colName)
      writeCatalog(name, cat.copy(fields = kept,
        droppedPhysical = cat.droppedPhysical ++ gone.map(_.physical)))
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        StructType(cur.fields.filterNot(_.name == colName)).json)
      rewriteEvolved(name, _ - colName)
    } finally { fs.delete(lock, false); () }
  }

  /** Metadata-only TYPE WIDENING (Iceberg's promotion rules: int→long,
    * float→double): only `_schema.json` changes; every data file — old
    * snapshots included — reads back under the widened type through
    * Spark's parquet upcast (vectorized reader reads INT32 pages as
    * longs natively; verified, no rewrite). Zone stats already store
    * integral bounds as Long and float bounds as the exact widened
    * double, so metadata min/max and pruning keep working unchanged.
    * Bloom columns refuse: sidecar hashes are type-dependent, and a
    * widened probe would false-NEGATIVE (prune a file that has the
    * key). Pending MoR deletes keyed on the column must materialize
    * first (their key sidecars carry the old type). */
  def widenColumn(name: String, colName: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types.{DoubleType => DT, FloatType => FT, IntegerType => IT, LongType => LT}
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val cur = schema(name)
      val field = cur.fields.find(_.name == colName).getOrElse(
        sys.error(s"column $colName not in table $name"))
      val ok = (field.dataType, to) match {
        case (IT, LT) | (FT, DT) => true
        case (f, t) if f == t    => false // no-op change refused loudly
        case _                   => false
      }
      require(ok, s"unsupported type change $colName: " +
        s"${field.dataType.simpleString} -> ${to.simpleString} " +
        "(widening supports int->bigint and float->double)")
      val pc = physOf(physMap(name), colName)
      require(!bloomCols(name).contains(pc),
        s"cannot widen bloom column $colName (sidecar hashes are " +
          "type-dependent; recreate the blooms first)")
      // a bucket transform's hash (and a truncate width's domain) is
      // type-dependent, and identity dir values parse under the declared
      // type — widening any partition source would corrupt the layout
      require(!allPartitionSources(name).contains(pc),
        s"cannot widen partition source column $colName")
      require(!readDeleteEntries(name, currentVersion(name))
          .exists(_.cols.contains(pc)),
        s"column $colName is a key of a pending merge-on-read delete — " +
          s"materializeDeletes($name) first")
      atomicWrite(new HPath(tdir(name), "_schema.json"),
        StructType(cur.fields.map(f =>
          if (f.name == colName) f.copy(dataType = to) else f)).json)
    } finally { fs.delete(lock, false); () }
  }

  // ---- free-form table properties -------------------------------------------

  /** User table properties (`_props.json`): the Iceberg-style property
    * bag (`write.delete.mode`, ...). Layout-defining settings (zone,
    * bloom, partitioning) have their own dedicated metadata and do NOT
    * live here. */
  def properties(name: String): Map[String, String] = {
    val p = new HPath(tdir(name), "_props.json")
    if (!fs.exists(p)) Map.empty
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      val it = node.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isTextual) b += e.getKey -> e.getValue.textValue()
      }
      b.result()
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Merge (`v = Some`) / remove (`v = None`) properties atomically. */
  def setProperties(name: String,
      updates: Map[String, Option[String]]): Unit = {
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val next = updates.foldLeft(properties(name)) {
        case (acc, (k, Some(v))) => acc + (k -> v)
        case (acc, (k, None))    => acc - k
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      next.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v); () }
      atomicWrite(new HPath(tdir(name), "_props.json"),
        mapper.writeValueAsString(root))
    } finally { fs.delete(lock, false); () }
  }

  /** Parsed `write.sort-order` table property — Iceberg's write sort
    * order, e.g. `"l_shipdate, l_orderkey DESC"`: every data-file write
    * (append, CoW rewrite, MoR materialization, compaction) locally
    * sorts rows by these columns before writing, so file zone maps and
    * parquet row-group stats span tight ranges and range/point scans
    * prune. Combine with `write.distribution-mode=range` to make file
    * ranges near-disjoint ACROSS tasks — sorting alone only tightens
    * within-task files. Returns (LOGICAL column, ascending) pairs —
    * [[writeDataFiles]] maps to physical names itself; validation is
    * loud at write time, not at setProperties. */
  private[tables] def writeSortOrder(name: String): Seq[(String, Boolean)] =
    properties(name).get("write.sort-order").map { spec =>
      val sch = schema(name)
      spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
        val toks = part.split("\\s+").toSeq
        val asc = toks.drop(1).map(_.toLowerCase) match {
          case Seq() | Seq("asc") => true
          case Seq("desc")        => false
          case other => throw new IllegalArgumentException(
            s"write.sort-order on $name: unknown direction " +
              s"'${other.mkString(" ")}' in '$part' (use ASC | DESC)")
        }
        require(sch.fieldNames.contains(toks.head),
          s"write.sort-order on $name references unknown column " +
            s"'${toks.head}'")
        (toks.head, asc)
      }
    }.getOrElse(Nil)

  def schema(name: String): StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(readString(new HPath(tdir(name), "_schema.json")))
      .asInstanceOf[StructType]

  private def currentManifest(name: String): String =
    coord.current(name).getOrElse(
      throw new IllegalStateException(s"table $name does not exist"))

  private def versionOf(manifest: String): Int =
    manifest.stripPrefix("manifest-").stripSuffix(".txt").toInt

  /** Manifest-relative data file paths of the current snapshot. */
  def currentRelPaths(name: String): Seq[String] =
    readLines(new HPath(tdir(name), currentManifest(name)))

  /** Live data files (absolute paths) of the current snapshot. */
  def currentFiles(name: String): Seq[String] =
    currentRelPaths(name).map(f => new HPath(dataDir(name), f).toString)

  /** Current-snapshot read, always through a zone-map-indexed relation
    * ([[ZoneMapFileIndex]]): any filter Catalyst pushes into the scan
    * prunes data files against the manifest stats at PLAN time, so
    * `read(t).filter($"k" <= x)` touches the same few files an explicit
    * [[readRange]] would — declaratively, and composed with the rest of
    * the query. Hive-partitioned tables surface their partition schema
    * through the index, so partition-key predicates drop whole
    * directories AND zone maps skip files within the survivors — the
    * Iceberg/Delta two-level layering. */
  def read(name: String): DataFrame =
    morMasked(name, currentRelPaths(name), currentVersion(name))

  /** Masked read carrying row coordinates — logical columns plus
    * `PosFileCol` (rel path) and `PosIdxCol` (ordinal in file): the
    * row-identity read under delta-based SQL row-level operations. */
  private[tables] def readWithPos(name: String,
      rowIds: Boolean = false): DataFrame =
    morMasked(name, currentRelPaths(name), currentVersion(name),
      rowPos = true, rowIds = rowIds)

  /** Dispatcher over partition-spec generations: a never-evolved table
    * (or a snapshot whose files all share one generation) takes the
    * single-relation path unchanged; a mixed-layout snapshot builds one
    * indexed relation PER generation — each with its own partition
    * schema, directory pruning, and zone-map index — and unions them
    * under the logical schema. Metadata-only aggregate rewrites
    * (count/min/max with zero scan) apply to single-generation reads;
    * a mixed read falls back to scanning, and [[compact]] restores the
    * single-generation fast path. */
  private def indexedRead(name: String, rels: Seq[String],
      version: Int, rowPos: Boolean = false,
      rowIds: Boolean = false): DataFrame = {
    val bySpec = rels.groupBy(specOfRel)
    if (bySpec.size <= 1)
      indexedReadSpec(name, bySpec.headOption.map(_._1).getOrElse(0),
        rels, version, rowPos, rowIds)
    else
      bySpec.toSeq.sortBy(_._1)
        .map { case (id, rs) =>
          indexedReadSpec(name, id, rs, version, rowPos, rowIds) }
        .reduce(_ unionByName _)
  }

  private def indexedReadSpec(name: String, specId: Int, rels: Seq[String],
      version: Int, rowPos: Boolean = false,
      rowIds: Boolean = false): DataFrame = {
    if (rels.isEmpty) {
      var base = readFiles(name, Nil)
      if (rowIds)
        base = base.withColumn(TableStore.RowIdCol, lit(null).cast(LongType))
      return if (!rowPos) base
        else base.withColumn(TableStore.PosFileCol,
          lit(null).cast(StringType))
          .withColumn(TableStore.PosIdxCol, lit(null).cast(LongType))
    }
    val sch = schema(name)
    val bundle = zoneIndexFor(name, specId, rels, version)
    val idx = bundle.idx
    val pSchema = bundle.pSchema
    // row lineage: widen the read with the MATERIALIZED id column —
    // files that never went through a lineage-preserving rewrite lack
    // it and read back null, coalesced below with the virtual id
    val dataSch =
      if (!rowIds) bundle.dataSch
      else StructType(bundle.dataSch.fields :+
        StructField(TableStore.RowIdCol, LongType, nullable = true))
    MetadataAggregateRule.register(spark)
    MvRewriteRule.register(spark)
    val rel = HadoopFsRelation(idx, pSchema, dataSch, None,
      new ParquetFileFormat(), Map.empty[String, String])(spark)
    val raw = Bridge.ofRows(spark, LogicalRelation(rel, isStreaming = false))
    // position-delete support: surface (file rel path, row ordinal) from
    // the scan's hidden _metadata — resolvable only HERE, directly above
    // the file relation, before any projection cuts it. The rel path is
    // recovered as the segment after the LAST "/data/" (partition values
    // escape '/', so no later segment can contain it).
    val posCols =
      if (!rowPos) Nil
      else Seq(
        element_at(split(col("_metadata.file_path"), "/data/"), -1)
          .as(TableStore.PosFileCol),
        col("_metadata.row_index").as(TableStore.PosIdxCol))
    val idCols =
      if (!rowIds) Nil
      else Seq(coalesce(col(s"`${TableStore.RowIdCol}`"),
        virtualRowId(readRowIds(name, version)._2))
        .as(TableStore.RowIdCol))
    raw.select(
      logicalProjection(name, sch, bundle.physSch) ++ posCols ++ idCols: _*)
  }

  private[tables] def zoneIndexFor(name: String, specId: Int,
      rels: Seq[String], version: Int): TableStore.ZoneIndexBundle = {
    val physSch = physSchema(name) // incl. nested leaf renames
    // physical names, layout order, THIS generation's spec — possibly
    // hidden-partitioning transforms (derived directory values)
    val pFields = partitionFieldsOfSpec(name, specId)
    val pCols = pFields.map(_.dirName)
    val dirTypes = pFields.map(f => PartitionField.dirType(f,
      physSch(physSch.fieldIndex(f.source)).dataType))
    // file statuses WITHOUT touching the filesystem: lengths were recorded
    // in the snapshot's consolidated file at commit time (validated there
    // — non-positive/malformed entries are dropped at parse), so planning
    // is O(manifest) — no recursive listing of a possibly-huge data dir.
    // ONE consolidated read serves both the statuses and the zone stats.
    val cons = readConsolidated(name, version)
    val lens = cons.map(_.lens).getOrElse(Map.empty[String, Long])
    // legacy snapshots (no usable lengths) pay ONE recursive listing, not
    // a getFileStatus round-trip per file; a manifest entry the listing
    // misses is real corruption — getFileStatus then throws loudly
    val listed: Map[String, org.apache.hadoop.fs.FileStatus] =
      if (rels.forall(lens.contains)) Map.empty
      else listStatusRec(dataDir(name))
        .map(s => relativize(dataDir(name), s.getPath) -> s).toMap
    val blockSize = fs.getDefaultBlockSize(dataDir(name))
    def statusOf(r: String): org.apache.hadoop.fs.FileStatus = {
      val p = new HPath(dataDir(name), r)
      lens.get(r) match {
        case Some(len) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 1, blockSize, 0L, p)
        case None => listed.getOrElse(r, fs.getFileStatus(p))
      }
    }
    val dirGroups: Seq[(org.apache.spark.sql.catalyst.InternalRow, Seq[String])] =
      if (pCols.isEmpty) Seq((org.apache.spark.sql.catalyst.InternalRow.empty, rels))
      else rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).toSeq
        .map { case (dir, rs) =>
          // the hive kv segments are the LAST |fields| dir segments:
          // native rels have exactly those (evolved generations carry a
          // `spec-<id>/` prefix above them), files adopted BY REFERENCE
          // (partitioned add_files) carry their absolute source path
          // above them — parsePartitionValues validates each segment's
          // `<dirName>=` prefix, so a mis-shaped path fails loudly
          val hiveDir = dir.split('/').takeRight(pFields.length).mkString("/")
          (parsePartitionValues(name, hiveDir, pFields, dirTypes), rs)
        }
    val groups: Seq[(org.apache.spark.sql.catalyst.InternalRow, Seq[org.apache.hadoop.fs.FileStatus])] =
      dirGroups.map { case (row, rs) => (row, rs.map(statusOf)) }
    // identity values live in directory names only; hidden-transform
    // sources stay data columns in the files
    val pSchema =
      if (pCols.isEmpty) new StructType()
      else StructType(pFields.zip(dirTypes).map { case (f, dt) =>
        StructField(f.dirName, dt, nullable = true) })
    val identitySources = pFields.filter(_.isIdentity).map(_.source).toSet
    val dataSch = StructType(physSch.filterNot(f => identitySources.contains(f.name)))
    // the index looks stats up by FULL path — rel-unique by construction
    // (bare file names can collide across write batches in different
    // partition directories)
    // the bloom loader keys by FULL path like the stats map; rel path is
    // recovered by stripping the data dir prefix
    val dataDirStr = fs.makeQualified(dataDir(name)).toString
    val zstats = zoneStatsFrom(name, rels, cons)
    // hidden-partitioning pruning hooks: a time/truncate directory value
    // implies SOURCE-column bounds for every file under it — merged into
    // the per-file stats map UNDER real zone stats (which are tighter),
    // so a `ts` range predicate prunes `ts_day=` directories through the
    // ordinary zone machinery; bucket directories carry (n, bucket) for
    // equality-probe pruning in the index
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    def srcTypeOf(f: PartitionField) =
      physSch(physSch.fieldIndex(f.source)).dataType
    val hiddenIdx = pFields.zipWithIndex.filterNot { case (f, _) =>
      f.isIdentity || f.isInstanceOf[PartitionField.PBucket] }
    val synth: Map[String, Map[String, (Any, Any)]] =
      if (hiddenIdx.isEmpty) Map.empty
      else dirGroups.flatMap { case (row, rs) =>
        val bounds = hiddenIdx.flatMap { case (f, i) =>
          if (row.isNullAt(i)) None
          else PartitionField.sourceBounds(f, row.get(i, dirTypes(i)),
            srcTypeOf(f), sessionZone).map(b => f.source -> b)
        }.toMap
        if (bounds.isEmpty) Nil else rs.map(_ -> bounds)
      }.toMap
    val mergedStats: Map[String, Map[String, (Any, Any)]] =
      if (synth.isEmpty) zstats
      else rels.flatMap { r =>
        val m2 = synth.getOrElse(r, Map.empty) ++ zstats.getOrElse(r, Map.empty)
        if (m2.isEmpty) None else Some(r -> m2)
      }.toMap
    val bucketIdx = pFields.zipWithIndex.collect {
      case (f: PartitionField.PBucket, i) => (f, i) }
    val buckets: Map[String, Map[String, (Int, Int, org.apache.spark.sql.types.DataType)]] =
      if (bucketIdx.isEmpty) Map.empty
      else dirGroups.flatMap { case (row, rs) =>
        val bs = bucketIdx.flatMap { case (f, i) =>
          if (row.isNullAt(i)) None
          else Some(f.source -> ((f.n, row.getInt(i), srcTypeOf(f))))
        }.toMap
        if (bs.isEmpty) Nil
        else rs.map(r => new HPath(dataDir(name), r).toString -> bs)
      }.toMap
    // global per-column bounds for the metadata min/max rewrite: a column
    // qualifies only when EVERY file has a recorded bound (an all-null or
    // legacy file disqualifies it) and all bounds fold comparably
    val colBounds: Map[String, (Any, Any)] = {
      val per = rels.map(zstats.get)
      if (per.isEmpty || per.exists(_.isEmpty)) Map.empty
      else {
        val maps = per.flatten
        def extreme(vs: Seq[Any], wantMin: Boolean): Option[Any] =
          vs.map(Option(_)).reduceLeft { (ao, bo) =>
            for (a <- ao; b <- bo; c <- ZoneStats.cmp(a, b))
              yield if ((c <= 0) == wantMin) a else b
          }
        maps.map(_.keySet).reduceLeft(_ intersect _).flatMap { c =>
          val bs = maps.map(_(c))
          for { // a non-comparable pair just drops the COLUMN (fail open)
            lo <- extreme(bs.map(_._1), wantMin = true)
            hi <- extreme(bs.map(_._2), wantMin = false)
          } yield c -> ((lo, hi))
        }.toMap
      }
    }
    val idx = new ZoneMapFileIndex(groups,
      mergedStats.map { case (k, v) =>
        new HPath(dataDir(name), k).toString -> v },
      Seq(specBaseDir(name, specId)), pSchema,
      bloomCols(name).toSet,
      (path, c) => {
        val qualified = fs.makeQualified(new HPath(path)).toString
        if (!qualified.startsWith(dataDirStr + "/")) None
        else loadBloom(name, qualified.stripPrefix(dataDirStr + "/"), c)
      },
      // exact only when every file of THIS snapshot has a recorded count
      cons.map(_.rows).filter(rows => rels.forall(rows.contains))
        .map(rows => rels.map(rows).sum),
      colBounds,
      buckets,
      owner = Some((this, name, version)))
    TableStore.ZoneIndexBundle(idx, pFields, dirTypes, pSchema, dataSch, physSch)
  }

  /** Plan bundle for the storage-partitioned-join batch scan
    * ([[GraftBatchScan]]): Some iff the CURRENT snapshot is safely
    * servable by a raw parquet V2 reader reporting
    * KeyGroupedPartitioning over its bucket layout. The conditions are
    * exactly the invariants that reader depends on — every fallback is a
    * table state the V1-bridged scan already handles:
    *
    *  - partition spec is all `bucket(n, col)` fields (the SPJ layout;
    *    identity fields keep values in DIRECTORY names only, which a raw
    *    reader would lose, and time/truncate groupings are not join
    *    clusterings);
    *  - one spec generation (mixed layouts union two relations — no
    *    single partitioning to report);
    *  - pending merge-on-read deletes are SERVED, not declined: the
    *    sidecars ship to the readers as an [[TableStore.SpjDeleteMask]]
    *    and every task masks its own files in memory (Iceberg's MoR read
    *    shape), so a CDC-busy merge-on-read table KEEPS its
    *    zero-exchange joins — masking is row-dropping within a bucket,
    *    which preserves KeyGroupedPartitioning. The only declines are a
    *    sidecar set too large to hold per task
    *    ([[TableStore.SpjMaskMaxBytes]]) or an equality-delete key no
    *    longer in the schema;
    *  - no logical/physical name drift anywhere in the schema (renames
    *    need the relabel projection; type WIDENING is fine — the parquet
    *    reader upcasts INT32/FLOAT pages natively under the widened
    *    required schema, same as the V1 relation).
    */
  private[tables] def spjPlan(name: String): Option[TableStore.SpjPlan] = {
    val rels = currentRelPaths(name)
    if (rels.isEmpty) return None
    val bySpec = rels.groupBy(specOfRel)
    if (bySpec.size != 1) return None
    val specId = bySpec.head._1
    val fields = partitionFieldsOfSpec(name, specId)
    // every layout qualifies: hidden transforms keep the source column
    // IN the data files; IDENTITY layouts (classic hive) strip it, and
    // the V2 reader re-attaches each directory's value as the parquet
    // partition-values row — so identity-partitioned tables get
    // zero-exchange joins too (closing what earlier rounds documented
    // as a missed optimization).
    if (fields.isEmpty) return None
    if (!TableStore.sameNameTree(schema(name), physSchema(name))) return None
    val version = currentVersion(name)
    val entries = readDeleteEntries(name, version)
    val mask: Option[TableStore.SpjDeleteMask] =
      if (entries.isEmpty) None
      else {
        val (posAll, eqE) =
          entries.partition(e => TableStore.isPosEntry(e.cols))
        val (dvE, posE) = posAll.partition(_.cols == Seq(TableStore.DvMarker))
        // no renames here (sameNameTree gate), so sidecar physical key
        // names ARE current logical names — but a dropped key column
        // cannot be masked by a raw reader
        val live = schema(name).fieldNames.toSet
        if (!eqE.forall(_.cols.forall(live.contains))) return None
        def sidecarFiles(rel: String): Seq[(String, Long)] =
          listStatusRec(new HPath(deletesDir(name), rel))
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(st => (st.getPath.toString, st.getLen))
        val eqSpecs = eqE.map(e =>
          TableStore.SpjEqDelete(e.cols, e.seq, sidecarFiles(e.rel),
            readEqRanges(name, e.rel)))
        val posFiles = posE.flatMap(e => sidecarFiles(e.rel))
        val dvFiles = dvE.flatMap(e => sidecarFiles(e.rel))
        // the mask budget is PER TASK, so an entry whose layout-
        // clustered sidecar carries per-file derived ranges on a
        // layout field over a key column is charged only its worst
        // single-point bytes (the most any one key-group task can
        // retain after file skipping), not its total bytes — the
        // ceiling raise that keeps CDC-heavy tables on SPJ with
        // tombstone piles far above SpjMaskMaxBytes. A task's
        // partition value is a POINT in each derived dimension, so the
        // stabbing bound is exact per dimension (bucket included — the
        // sidecar recorded derived values, not key order). Entries
        // without usable ranges charge full bytes, as before; zone-
        // dependent derivations are excluded to mirror the reader.
        val sch0 = schema(name)
        val budgetDims = fields.filter { f =>
          sch0.fieldNames.contains(f.source) &&
            !PartitionField.zoneDependent(f,
              sch0(sch0.fieldIndex(f.source)).dataType)
        }
        // ranges key by f.render (parameter-qualified; identity render =
        // the raw column name) so a respec'd transform cannot feed a
        // wrong-domain range into the budget — it just misses
        def perTaskBytes(e: TableStore.SpjEqDelete): Long = {
          val full = e.files.map(_._2).sum
          val refined = budgetDims.filter(f => e.cols.contains(f.source))
            .flatMap(f =>
              TableStore.maxPointBytes(e.files, e.ranges, f.render))
          if (refined.isEmpty) full else math.min(full, refined.min)
        }
        val totalBytes = eqSpecs.map(perTaskBytes).sum +
          (posFiles ++ dvFiles).map(_._2).sum
        if (totalBytes > TableStore.SpjMaskMaxBytes) return None
        Some(TableStore.SpjDeleteMask(eqSpecs, posFiles, dvFiles,
          readSeqs(name, version)))
      }
    Some(TableStore.SpjPlan(version, fields,
      zoneIndexFor(name, specId, rels, version), mask))
  }

  /** Parsed partition values of one hive-style directory (`a=1/b=x`), in
    * layout order, as Catalyst internal values of each field's DIRECTORY
    * type (= the source type for identity, the derived type for hidden
    * transforms). Our own writer produced the layout (Spark
    * `partitionBy`), so segment order is the layout order and escaping
    * is Spark's. */
  private def parsePartitionValues(name: String, dir: String,
      fields: Seq[PartitionField], dirTypes: Seq[org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val segs = dir.split('/')
    require(segs.length == fields.length,
      s"partition dir $dir does not match partition fields " +
        s"${fields.map(_.render)} of $name")
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val vals = fields.zip(dirTypes).zip(segs).map { case ((f, dt), seg) =>
      require(seg.startsWith(f.dirName + "="),
        s"partition dir segment $seg does not belong to ${f.dirName}")
      val raw = ExternalCatalogUtils.unescapePathName(
        seg.substring(f.dirName.length + 1))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        dt, Some(zone)).eval(null)
    }
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
  }

  /** Recursive file statuses under `dir` — the legacy-snapshot fallback
    * when a consolidated file has no usable lengths. */
  /** Every regular file under `dir`, recursively — via a plain
    * `listStatus` walk, NOT `fs.listFiles(dir, true)`: the located-status
    * iterator additionally resolves per-file BLOCK LOCATIONS (and, on
    * Hadoop's local filesystem, per-file permission lookups that shell
    * out) — measured ~4.5 ms/file vs ~0.05 ms/file for the walk, which
    * made every staged-commit promotion O(files × fork/exec). Callers
    * use path, length, and modification time — never block locations.
    * Non-`file` schemes keep `fs.listFiles(dir, true)`: on object
    * stores that is ONE flat listing, where a per-directory BFS would
    * pay one RPC per directory of a deep tree. */
  private def listStatusRec(dir: HPath): Seq[org.apache.hadoop.fs.FileStatus] = {
    if (!fs.exists(dir)) return Nil
    val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (fs.getScheme == "file") {
      val q = new java.util.ArrayDeque[HPath]()
      q.add(dir)
      while (!q.isEmpty) {
        fs.listStatus(q.poll()).foreach { st =>
          if (st.isDirectory) q.add(st.getPath) else buf += st
        }
      }
    } else {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) buf += it.next()
    }
    buf.result()
  }

  /** Zone-pruned range scan: files whose zone-map range cannot intersect
    * [lo, hi] on `zoneCol` are discarded from the MANIFEST SIDECARS ALONE —
    * before the scan is planned, no parquet footer opened. This is the read
    * analogue of applyNet's stage-1 pruning (Iceberg scan planning over
    * manifest column stats): at 100 TB a selective key-range query touches
    * the few overlapping files instead of listing-scanning the table. The
    * exact predicate still applies on the surviving files. */
  def readRange(name: String, zoneCol: String, lo: Any, hi: Any): DataFrame = {
    val pz = physOf(physMap(name), zoneCol) // stats/zone files key physically
    require(zoneCols(name).contains(pz),
      s"$zoneCol is not a zone column of table $name (zone columns: " +
        s"${zoneCols(name).mkString(", ")})")
    val version = currentVersion(name)
    val candidates = pruneByZones(name, currentRelPaths(name),
      Map(pz -> ((lo, hi))), version)
    val range = col(zoneCol) >= lit(lo) && col(zoneCol) <= lit(hi)
    if (readDeleteEntries(name, version).nonEmpty)
      morMasked(name, candidates, version).filter(range)
    else {
      val files = candidates.map(r => new HPath(dataDir(name), r).toString)
      readFiles(name, files).filter(range)
    }
  }

  /** Time travel: read the table as of an earlier snapshot (manifests are
    * immutable and retained — the analogue of Iceberg snapshot reads).
    * Served through the same zone-map index as [[read]] (each snapshot
    * carries its own consolidated stats), so historical scans skip files
    * exactly like current ones. */
  def readVersion(name: String, version: Int): DataFrame = {
    val manifest = new HPath(tdir(name), f"manifest-$version%06d.txt")
    require(fs.exists(manifest), s"no snapshot $version for table $name")
    // masked under the deletes pending AT that version — a snapshot
    // before a MoR delete shows the rows, one after hides them
    morMasked(name, readLines(manifest), version)
  }

  def currentVersion(name: String): Int = versionOf(currentManifest(name))

  /** CONSISTENT multi-table read: pinned frames over a version set that
    * was simultaneously current at one instant — what a reader joining
    * N tables needs against concurrent multi-table [[transaction]]s,
    * whose pointer publishes land one CAS at a time (a plain
    * `read(a).join(read(b))` racing the window between those CASes can
    * observe table A after a transaction and B before it: version
    * skew, a half-visible transaction).
    *
    * Optimistic double-read validation, no locks, no writer stalls:
    * read every pointer, pin, read every pointer AGAIN — if nothing
    * moved, each table's version was current for the whole interval
    * between its two reads, and those intervals all overlap (every
    * first read precedes every second read), so the vector was current
    * at any instant in the intersection. A mover retries; a transaction
    * publishing mid-pass moves ALL its tables, so the next pass sees
    * the transaction whole. The returned frames are PINNED
    * ([[readVersion]] — manifests immutable, files retained until
    * expiry), so downstream jobs can run long after later commits land.
    * Cost: 2 pointer reads per table per attempt — catalog metadata,
    * never data. */
  def readConsistent(names: Seq[String],
      maxAttempts: Int = 8): Map[String, DataFrame] = {
    require(names.nonEmpty, "readConsistent needs at least one table")
    val distinctNames = names.distinct
    // validation compares (incarnation uuid, version) pairs, not bare
    // version numbers: a drop + re-create replaying to the same version
    // count between the two reads would otherwise ABA-validate a
    // mixed-incarnation set
    def vector(): Seq[(String, String, Int)] =
      distinctNames.map(t => (t, tableUuid(t), currentVersion(t)))
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val v1 = vector()
      val frames = v1.map { case (t, _, v) => t -> readVersion(t, v) }.toMap
      if (v1 == vector()) return frames
    }
    throw new IllegalStateException(
      s"readConsistent(${distinctNames.mkString(", ")}) could not " +
        s"validate a stable version set in $maxAttempts attempts — " +
        "commit pressure across these tables is continuous; raise " +
        "maxAttempts or quiesce the writers")
  }

  /** Latest committed snapshot at or before `tsMillis` — `TIMESTAMP AS
    * OF` resolution. Commit times come from manifest file mtimes (the
    * store's only clock; Iceberg records them in snapshot metadata —
    * same semantics, same caveat that wall-clock ordering of commits is
    * what's being queried). Walks the COMMITTED chain only, so a
    * lost-CAS phantom can never satisfy a timestamp. */
  def versionAsOf(name: String, tsMillis: Long): Int = {
    var v = currentVersion(name)
    while (v > 0) {
      val m = new HPath(tdir(name), f"manifest-$v%06d.txt")
      if (fs.exists(m) && fs.getFileStatus(m).getModificationTime <= tsMillis)
        return v
      v = commitParent(name, v).filter(p => p >= 0 && p < v).getOrElse(0)
    }
    throw new IllegalArgumentException(
      s"table $name has no snapshot at or before timestamp $tsMillis")
  }

  // ---- SQL metadata tables ------------------------------------------------

  /** Snapshot history as a DataFrame — the `db.t.snapshots` inspection
    * surface (Iceberg's metadata-table idea). One row per snapshot on
    * the COMMITTED chain (parent-pointer walk from the head, so lost-CAS
    * phantoms never surface; legacy history without commit meta falls
    * back to the numbered manifests). Everything here is served from
    * manifests + consolidated stats — zero data files touched. The
    * operation column is derived from the manifest diff against the
    * parent; `total_rows` is null when any file of that snapshot
    * predates count recording (same honesty rule as [[rowCount]]). */
  /** Ancestor versions of the MAIN head via parent pointers, ascending.
    * Legacy chains (meta predating parent pointers) fall back to every
    * retained manifest at or below the head. */
  private def headChainVersions(name: String): Seq[Int] = {
    val head = currentVersion(name)
    val b = Seq.newBuilder[Int]
    var v = head
    var legacy = false
    while (v > 0 && !legacy) {
      b += v
      commitParent(name, v) match {
        // a parent whose manifest expireSnapshots removed (history
        // recorded before parent-clamping) ends the chain cleanly —
        // the retained window is the whole visible history
        case Some(p) if p > 0 && p < v &&
            !fs.exists(new HPath(tdir(name), f"manifest-$p%06d.txt")) =>
          v = 0
        case Some(p) if p >= 0 && p < v => v = p
        case _                          => legacy = true
      }
    }
    if (legacy)
      listNames(tdir(name))
        .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
        .map(versionOf).filter(_ <= head).sorted
    else b.result().sorted
  }

  /** `t.history` (Iceberg's history metadata table): every RETAINED
    * snapshot with its commit wall-clock (the manifest's filesystem
    * timestamp — the same source `versionAsOf` time travel trusts), its
    * parent, and whether it is an ancestor of the current MAIN head.
    * Branch-only commits and snapshots stranded by an expired-parent gap
    * are visible with is_current_ancestor = false. */
  def historyFrame(name: String): DataFrame = {
    val ancestors = headChainVersions(name).toSet
    val rows = listNames(tdir(name))
      .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
      .map(versionOf).sorted
      .map { v =>
        val ts = fs.getFileStatus(
          new HPath(tdir(name), f"manifest-$v%06d.txt")).getModificationTime
        org.apache.spark.sql.Row(
          new java.sql.Timestamp(ts), v,
          commitParent(name, v).map(Integer.valueOf).orNull,
          ancestors.contains(v))
      }
    val sch = StructType(Seq(
      StructField("made_current_at", TimestampType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("parent", IntegerType, nullable = true),
      StructField("is_current_ancestor", BooleanType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  def snapshotsFrame(name: String): DataFrame = {
    val versions: Seq[Int] = headChainVersions(name)
    val rows = versions.map { v =>
      val files = readLines(new HPath(tdir(name), f"manifest-$v%06d.txt"))
      val parent = commitParent(name, v)
      // the parent's manifest may have been removed by expireSnapshots
      // while this commit's meta still records it (the head of the
      // retained window) — classify the op best-effort from an empty
      // parent set instead of failing the whole inspection table
      val parentFiles: Set[String] = parent.filter(_ > 0)
        .map(p => new HPath(tdir(name), f"manifest-$p%06d.txt"))
        .filter(fs.exists)
        .map(p => readLines(p).toSet)
        .getOrElse(Set.empty)
      val fileSet = files.toSet
      val added = files.count(!parentFiles.contains(_))
      val removed = parentFiles.count(!fileSet.contains(_))
      val op =
        if (removed == 0 && added == 0)
          (if (v == versions.head) "create" else "noop")
        else if (removed == 0) "append"
        else if (added == 0) "delete"
        else "rewrite"
      val cons = readConsolidated(name, v)
      val totalRows: Option[Long] = cons.map(_.rows)
        .filter(rs => files.forall(rs.contains))
        .map(rs => files.map(rs).sum)
      val totalBytes: Option[Long] = cons.map(_.lens)
        .filter(ls => files.forall(ls.contains))
        .map(ls => files.map(ls).sum)
      org.apache.spark.sql.Row(v, parent.map(Integer.valueOf).orNull, op,
        files.size, added, removed,
        totalRows.map(java.lang.Long.valueOf).orNull,
        totalBytes.map(java.lang.Long.valueOf).orNull)
    }
    val sch = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("parent", IntegerType, nullable = true),
      StructField("operation", StringType, nullable = false),
      StructField("total_files", IntegerType, nullable = false),
      StructField("added_files", IntegerType, nullable = false),
      StructField("removed_files", IntegerType, nullable = false),
      StructField("total_rows", LongType, nullable = true),
      StructField("total_bytes", LongType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  /** Current data files as a DataFrame — the `db.t.files` inspection
    * surface: manifest-relative path, recorded length, recorded row
    * count (null for legacy files), and the hive partition directory
    * (empty for unpartitioned tables). Metadata-only. */
  def filesFrame(name: String): DataFrame = {
    val rels = currentRelPaths(name)
    val cons = readConsolidated(name, currentVersion(name))
    val lens = cons.map(_.lens).getOrElse(Map.empty[String, Long])
    val rowsM = cons.map(_.rows).getOrElse(Map.empty[String, Long])
    val rows = rels.sorted.map { r =>
      val cut = r.lastIndexOf('/')
      val part = if (cut < 0) "" else r.substring(0, cut)
      org.apache.spark.sql.Row(r, part,
        lens.get(r).map(java.lang.Long.valueOf).orNull,
        rowsM.get(r).map(java.lang.Long.valueOf).orNull)
    }
    val sch = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("length", LongType, nullable = true),
      StructField("rows", LongType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  /** Per-partition summary — the `db.t.partitions` inspection surface
    * (Iceberg's partitions metadata table): one row per live partition
    * directory with file/row/byte totals, answered ENTIRELY from the
    * consolidated manifest (zero file listings, zero footer reads — at
    * 100 TB this is the difference between a metadata lookup and a
    * storage sweep). Row/byte totals go null if ANY member file lacks
    * the recorded figure (legacy snapshots) — a partial sum would read
    * as an exact answer. Unpartitioned tables report one '' row. */
  def partitionsFrame(name: String): DataFrame = {
    val rels = currentRelPaths(name)
    val cons = readConsolidated(name, currentVersion(name))
    val lens = cons.map(_.lens).getOrElse(Map.empty[String, Long])
    val rowsM = cons.map(_.rows).getOrElse(Map.empty[String, Long])
    def dirOf(r: String): String = {
      val cut = r.lastIndexOf('/')
      if (cut < 0) "" else r.substring(0, cut)
    }
    val rows = rels.groupBy(dirOf).toSeq.sortBy(_._1).map { case (part, fs) =>
      def total(m: Map[String, Long]): Any =
        if (fs.forall(m.contains)) java.lang.Long.valueOf(fs.map(m).sum)
        else null
      org.apache.spark.sql.Row(part, fs.size.toLong, total(rowsM), total(lens))
    }
    val sch = StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("file_count", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("total_bytes", LongType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  /** Pending merge-on-read delete sidecars — the `db.t.deletes`
    * inspection surface (Iceberg's delete-files metadata table): one
    * row per pending entry with its kind (`equality` / `position` /
    * `deletion-vector`), key columns, commit sequence, sidecar file
    * count and bytes. Answered from the delete manifest plus one
    * sidecar-directory listing per entry — no data file touched. The
    * maintenance signal at scale: entry count drives `rewrite_deletes`,
    * byte totals against [[TableStore.SpjMaskMaxBytes]] predict the SPJ
    * fallback, and an empty frame proves a table clean. */
  def deletesFrame(name: String): DataFrame = {
    val entries = readDeleteEntries(name, currentVersion(name))
    val rows = entries.sortBy(e => (e.seq, e.rel)).map { e =>
      val kind =
        if (e.cols == Seq(TableStore.DvMarker)) "deletion-vector"
        else if (e.cols == Seq(TableStore.PosMarker)) "position"
        else "equality"
      val keyCols = if (TableStore.isPosEntry(e.cols)) "" else
        e.cols.mkString(",")
      val parts = listStatusRec(new HPath(deletesDir(name), e.rel))
        .filter(_.getPath.getName.endsWith(".parquet"))
      org.apache.spark.sql.Row(e.rel, kind, keyCols, e.seq.toLong,
        parts.size.toLong, parts.map(_.getLen).sum)
    }
    val sch = StructType(Seq(
      StructField("sidecar", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("key_columns", StringType, nullable = false),
      StructField("sequence", LongType, nullable = false),
      StructField("file_count", LongType, nullable = false),
      StructField("total_bytes", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  /** Named refs as a DataFrame — the `db.t.refs` inspection surface:
    * every branch/tag plus the implicit `main` head. */
  def refsFrame(name: String): DataFrame = {
    val rows = (Seq(org.apache.spark.sql.Row("main", "branch",
        currentVersion(name))) ++
      refs(name).toSeq.sortBy(_._1).map { case (ref, (kind, v)) =>
        org.apache.spark.sql.Row(ref, kind, v)
      })
    val sch = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
  }

  /** Snapshot size in bytes WITHOUT touching data files — summed from the
    * lengths recorded in the snapshot's consolidated stats (one metadata
    * read). Legacy snapshots missing a length pay ONE directory listing.
    * Under pending MoR deletes this is a conservative upper bound (masked
    * rows still occupy file bytes) — exactly what a join planner wants.
    * This is the Iceberg manifest trick that lets `SupportsReportStatistics`
    * hand Spark a real `sizeInBytes`, so a small managed dimension joins
    * broadcast instead of defaulting to `Long.MaxValue` → shuffle. */
  def scanSizeBytes(name: String, version: Option[Int] = None): Long = {
    val v = version.getOrElse(currentVersion(name))
    val manifest = new HPath(tdir(name), f"manifest-$v%06d.txt")
    require(fs.exists(manifest), s"no snapshot $v for table $name")
    val rels = readLines(manifest)
    if (rels.isEmpty) return 0L
    val lens = readConsolidated(name, v).map(_.lens)
      .getOrElse(Map.empty[String, Long])
    lazy val listed: Map[String, Long] =
      listStatusRec(dataDir(name))
        .map(s => relativize(dataDir(name), s.getPath) -> s.getLen).toMap
    rels.map(r => lens.getOrElse(r, listed.getOrElse(r, 0L))).sum
  }

  // ---- named refs: branches, tags, write-audit-publish --------------------

  private def refsDir(name: String): HPath = new HPath(tdir(name), "refs")

  /** Coordinator key of a ref: the table name for main, `table@branch`
    * for a branch head (its own pointer, same CAS discipline). */
  private def refKey(name: String, branch: Option[String]): String =
    branch.map(b => s"$name@$b").getOrElse(name)

  private def requireRefName(ref: String): Unit =
    require(ref.nonEmpty && ref.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-'), s"invalid ref name: $ref")

  /** Branch: an independently-advancing head over the SAME manifest
    * store — commits to it claim manifest ids from the shared sequence
    * and link parents through the same per-commit metadata, so no file
    * or stats machinery is branch-aware. The write-audit-publish flow:
    * stage commits on a branch, validate by reading it, then
    * [[fastForward]] main (Iceberg's WAP pattern via branch refs). */
  def createBranch(name: String, branch: String,
      atVersion: Int = -1): Unit = {
    requireRefName(branch)
    require(!refs(name).contains(branch), s"ref $branch already exists")
    val v = if (atVersion < 0) currentVersion(name) else atVersion
    val manifest = f"manifest-$v%06d.txt"
    require(fs.exists(new HPath(tdir(name), manifest)),
      s"no snapshot $v for table $name")
    require(coord.swap(refKey(name, Some(branch)), None, manifest),
      s"branch $branch already has a head pointer")
    writeString(new HPath(refsDir(name), branch), "branch")
  }

  /** Tag: an immutable named snapshot; its manifest (and files) survive
    * [[expireSnapshots]] until the tag is dropped. */
  def createTag(name: String, tag: String, atVersion: Int = -1): Unit = {
    requireRefName(tag)
    require(!refs(name).contains(tag), s"ref $tag already exists")
    val v = if (atVersion < 0) currentVersion(name) else atVersion
    require(fs.exists(new HPath(tdir(name), f"manifest-$v%06d.txt")),
      s"no snapshot $v for table $name")
    writeString(new HPath(refsDir(name), tag), s"tag\t$v")
  }

  /** All named refs: ref -> (kind, version). A branch's version is its
    * live head (read through the coordinator). */
  def refs(name: String): Map[String, (String, Int)] = {
    val d = refsDir(name)
    if (!fs.exists(d)) Map.empty
    else listNames(d).flatMap { r =>
      readString(new HPath(d, r)).trim.split('\t') match {
        case Array("branch") =>
          coord.current(refKey(name, Some(r)))
            .map(mf => r -> (("branch", versionOf(mf))))
        case Array("tag", v) => v.toIntOption.map(i => r -> (("tag", i)))
        case _ => None
      }
    }.toMap
  }

  def refVersion(name: String, ref: String): Int =
    refs(name).getOrElse(ref,
      sys.error(s"no ref $ref on table $name"))._2

  /** Snapshot read of a ref (branch head or tag), with that snapshot's
    * own pending merge-on-read deletes applied. */
  def readRef(name: String, ref: String): DataFrame =
    readVersion(name, refVersion(name, ref))

  def dropRef(name: String, ref: String): Unit = {
    val known = refs(name)
    require(known.contains(ref), s"no ref $ref on table $name")
    if (known(ref)._1 == "branch") coord.clear(refKey(name, Some(ref)))
    fs.delete(new HPath(refsDir(name), ref), false)
    ()
  }

  /** Publish a branch to main: advance the main pointer to the branch
    * head iff main's current head is an ancestor of it (nothing
    * committed to main since the fork — otherwise publishing would
    * silently drop those commits; that conflict needs an explicit
    * rebase, i.e. re-applying the branch's changes on current main). */
  def fastForward(name: String, branch: String): Unit = {
    require(refs(name).get(branch).exists(_._1 == "branch"),
      s"no branch $branch on table $name")
    val lock = new HPath(tdir(name), "_commit.lock")
    acquireLock(name, lock)
    try {
      val mainManifest = coord.current(name)
      val mainV = mainManifest.map(versionOf).getOrElse(0)
      val bManifest = coord.current(refKey(name, Some(branch))).getOrElse(
        sys.error(s"branch $branch has no head"))
      val bV = versionOf(bManifest)
      // ancestry walk along recorded commit parents
      var v: Option[Int] = Some(bV)
      while (v.exists(_ > mainV)) v = v.flatMap(commitParent(name, _))
      require(mainV == 0 || v.contains(mainV),
        s"main advanced since branch $branch forked — cannot fast-forward")
      require(coord.swap(name, mainManifest, bManifest),
        s"main pointer moved during fast-forward of $branch")
    } finally { fs.delete(lock, false); () }
  }

  /** Roll the table back to ancestor snapshot `toVersion` — as a NEW
    * forward commit restoring that snapshot's exact file set and
    * pending-delete state (Iceberg `rollback_to_snapshot`). A forward
    * commit, not a pointer rewind: versions stay monotonic, so the
    * phantom-manifest reclaim and manifest-id allocation keep their
    * invariants, and the rolled-away commits stay readable via time
    * travel until [[expireSnapshots]]. Restored files are pre-existing
    * history — a failed commit must never reclaim them as staged
    * debris (`reclaimAddedOnAbort = false`). */
  def rollback(name: String, toVersion: Int): Unit = {
    val base = currentVersion(name)
    require(toVersion >= 1 && toVersion <= base,
      s"cannot roll table $name back to $toVersion (head is $base)")
    if (toVersion == base) return
    // ancestry walk: restoring a non-ancestor (a branch head, a phantom)
    // would resurrect files outside the head's linear history
    var v: Option[Int] = Some(base)
    while (v.exists(_ > toVersion)) v = v.flatMap(commitParent(name, _))
    require(v.contains(toVersion),
      s"snapshot $toVersion is not an ancestor of head $base on table $name")
    val d = tdir(name)
    val target = new HPath(d, f"manifest-$toVersion%06d.txt")
    require(fs.exists(target),
      s"snapshot $toVersion of table $name has been expired")
    val targetFiles = readLines(target)
    val headFiles = readLines(new HPath(d, currentManifest(name)))
    val hs = headFiles.toSet
    commitManifest(name, base,
      removed = hs.diff(targetFiles.toSet),
      added = targetFiles.filterNot(hs),
      appended = Nil,
      meta = Map("graft.rollback.to" -> toVersion.toString),
      copyDeletesFrom = Some(toVersion),
      reclaimAddedOnAbort = false)
  }

  /** Rebuild the table-level NDV sketches from the CURRENT snapshot's
    * per-file sketches (Iceberg `compute_table_stats`): the commit-path
    * union only ever grows — a CoW delete cannot subtract its files'
    * contribution — so NDV drifts to an upper bound under deletes;
    * data files are immutable, so re-unioning the LIVE files' sketches
    * restores exactness (to HLL precision) without reading any data.
    * Files missing a sketch (pre-NDV legacy snapshots) are backfilled
    * first by ONE grouped stats job over just those files — running
    * analyze once upgrades a legacy table into the NDV world. Pending
    * MoR deletes are the one residual upper bound (a sketch cannot be
    * masked); materialize first for exact numbers. Returns the
    * estimate per zone column. */
  def analyzeTable(name: String): Map[String, Long] = {
    val zc = zoneCols(name)
    if (zc.isEmpty) return Map.empty
    val v = currentVersion(name)
    val rels = currentRelPaths(name)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cache = scala.collection.mutable.Map.empty[String, Map[String, String]]
    def fileHll(rel: String): Map[String, String] =
      cache.getOrElseUpdate(rel, try {
        val sp = statsPath(name, rel)
        if (!fs.exists(sp)) Map.empty
        else Option(mapper.readTree(readString(sp)).get("__hll")).map { nn =>
          val it = nn.properties().iterator()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isTextual) b += e.getKey -> e.getValue.textValue()
          }
          b.result()
        }.getOrElse(Map.empty)
      } catch { case scala.util.control.NonFatal(_) => Map.empty })
    val missing = rels.filter(r => !zc.forall(c => fileHll(r).contains(c)))
    if (missing.nonEmpty) {
      scanFileStats(name, missing)
      missing.foreach(cache.remove)
    }
    val unions = zc.flatMap { c =>
      val sketches = rels.map(r => fileHll(r).get(c))
      if (sketches.exists(_.isEmpty)) None // backfill failed: stay honest
      else {
        val u = new org.apache.datasketches.hll.Union(TableStore.HllLgK)
        sketches.flatten.foreach { b64 =>
          u.update(org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(b64)))
        }
        Some(c -> u)
      }
    }
    rewriteNdv(name, v, unions.map { case (c, u) =>
      c -> java.util.Base64.getEncoder.encodeToString(
        u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_4)
          .toCompactByteArray)
    }.toMap)
    unions.map { case (c, u) => c -> math.round(u.getEstimate) }.toMap
  }

  /** Replace the `ndv` section of snapshot `v`'s consolidated manifest
    * in place — safe to rewrite: same snapshot, fresher statistics. */
  private def rewriteNdv(name: String, v: Int,
      ndv: Map[String, String]): Unit = {
    val p = statsManifestPath(name, v)
    if (!fs.exists(p)) return
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(readString(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val node = root.putObject("ndv")
      ndv.foreach { case (c, b64) => node.put(c, b64); () }
      writeString(p, mapper.writeValueAsString(root))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Incremental read: rows APPENDED since snapshot `version` (the
    * incremental-consumer primitive — a downstream job processes only
    * what appended, never rescanning the table).
    *
    * Each commit records the data files it LOGICALLY appended in a
    * `manifest-N.appended` sidecar; this read is the union of those
    * sidecars over (version, current] — so a compaction (which rewrites
    * every file but appends no rows) contributes NOTHING, and compacted
    * rows are never re-delivered. The original appended files stay on
    * disk (referenced by their manifest) until [[expireSnapshots]]
    * removes them — expiry bounds the incremental lookback window, and
    * an expired appended file fails loudly here rather than silently
    * skipping rows. Upserted rows (applyNet) surface as appended; rows a
    * later mutation deleted are still delivered as-of their commit —
    * callers that need net row-level changes should diff by key
    * ([[diffVersions]]). Tables whose history predates the sidecar fall
    * back to the file-set diff (exact for append-only history). */
  def readAppendedSince(name: String, version: Int): DataFrame =
    readAppendedBetween(name, version, currentVersion(name))

  /** Ranged incremental read: rows appended in `(version, toVersion]` —
    * the micro-batch primitive ([[graft.streaming.GraftTableSource]]
    * serves each batch from one bounded range so a restart re-reads
    * exactly the offsets the checkpoint recorded). */
  def readAppendedBetween(name: String, version: Int,
      toVersion: Int): DataFrame = {
    val d = tdir(name)
    val manifest = new HPath(d, f"manifest-$version%06d.txt")
    require(fs.exists(manifest), s"no snapshot $version for table $name")
    require(fs.exists(new HPath(d, f"manifest-$toVersion%06d.txt")),
      s"no snapshot $toVersion for table $name")
    require(toVersion >= version,
      s"empty or inverted range ($version, $toVersion]")
    val head = toVersion
    val range = committedVersionsBetween(name, version, head)
    val sidecars = range.map(v => new HPath(d, f"manifest-$v%06d.appended"))
    if (sidecars.forall(fs.exists)) {
      val appended = sidecars.flatMap(readLines)
      val missing = appended.filterNot(r => fs.exists(new HPath(dataDir(name), r)))
      require(missing.isEmpty,
        s"appended files of table $name expired before being consumed " +
          s"(missing: ${missing.take(3).mkString(", ")}${if (missing.length > 3) ", ..." else ""}) — " +
          "expire snapshots only after incremental consumers caught up, " +
          "or diff by key via diffVersions")
      readFiles(name, appended.map(f => new HPath(dataDir(name), f).toString))
    } else {
      // legacy table (history predates appended-sidecars): file-set diff —
      // exact for append-only history, re-delivers on rewrites
      val baseline = readLines(manifest).toSet
      val added = readLines(new HPath(d, f"manifest-$head%06d.txt"))
        .filterNot(baseline)
      readFiles(name, added.map(f => new HPath(dataDir(name), f).toString))
    }
  }

  /** Committed versions in `(version, toVersion]`, ASCENDING — the
    * parent-pointer chain walk of [[readAppendedBetween]]: ONLY
    * snapshots reachable from `toVersion` count (a manifest numbered
    * inside the range but never committed — lost CAS, crash — must
    * never surface rows no read() ever exposed). Legacy history without
    * commit meta falls back to the numeric range, exact there because
    * the pre-chain commit path reclaimed phantoms eagerly. */
  private[graft] def committedVersionsBetween(name: String, version: Int,
      toVersion: Int): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    var v = toVersion
    var legacy = false
    while (v > version && !legacy) {
      b += v
      commitParent(name, v) match {
        case Some(p) if p >= 0 && p < v => v = p
        case _                          => legacy = true
      }
    }
    if (legacy) (version + 1) to toVersion
    else {
      require(v == version,
        s"snapshot $version of table $name is not an ancestor of " +
          s"snapshot $toVersion — it was never committed, or history " +
          "was rewritten; diff by key via diffVersions instead")
      b.result().sorted
    }
  }

  /** Manifest-relative file list of one snapshot. */
  private[graft] def relPathsOf(name: String, version: Int): Seq[String] = {
    val m = new HPath(tdir(name), f"manifest-$version%06d.txt")
    require(fs.exists(m), s"no snapshot $version for table $name")
    readLines(m)
  }

  /** Files commit `version` LOGICALLY appended (its sidecar); None for
    * legacy commits that predate appended-sidecars. */
  private[graft] def appendedRelPathsOf(name: String,
      version: Int): Option[Seq[String]] = {
    val p = new HPath(tdir(name), f"manifest-$version%06d.appended")
    if (fs.exists(p)) Some(readLines(p)) else None
  }

  /** Recorded per-file row counts of one snapshot (may be partial). */
  private[graft] def fileRowCounts(name: String,
      version: Int): Map[String, Long] =
    readConsolidated(name, version).map(_.rows).getOrElse(Map.empty)

  private[graft] def fileByteLengths(name: String,
      version: Int): Map[String, Long] =
    readConsolidated(name, version).map(_.lens).getOrElse(Map.empty)

  /** Masked read of specific rel paths under snapshot `version`'s
    * pending deletes — the streaming source's batch primitive. */
  private[graft] def readRelsMasked(name: String, rels: Seq[String],
      version: Int, rowIds: Boolean = false): DataFrame =
    morMasked(name, rels, version, rowIds = rowIds)

  /** Read appended-sidecar rel paths, failing LOUDLY if any expired
    * before being consumed (same contract as [[readAppendedBetween]]). */
  private[graft] def readAppendedRels(name: String,
      rels: Seq[String], rowIdsAt: Option[Int] = None): DataFrame = {
    val missing = rels.filterNot(r => fs.exists(new HPath(dataDir(name), r)))
    require(missing.isEmpty,
      s"appended files of table $name expired before being consumed " +
        s"(missing: ${missing.take(3).mkString(", ")}" +
        s"${if (missing.length > 3) ", ..." else ""}) — " +
        "expire snapshots only after incremental consumers caught up")
    readFiles(name, rels.map(r => new HPath(dataDir(name), r).toString),
      rowIdsAt = rowIdsAt)
  }

  /** Row-level CHANGE FEED between two snapshots — the Delta-CDF/Iceberg-
    * changelog surface: one frame of the table's rows labeled
    * `_change_type` ('insert' | 'delete') and `_commit_version`, one
    * batch of labels per committed version in `(fromVersion, toVersion]`.
    * An UPDATE surfaces as delete(old row) + insert(new row) in the same
    * commit version (net-change semantics; no pre/post-image pairing).
    *
    * Cost follows each commit's CHANGED scope:
    *  - a pure append reads exactly its appended files and labels them
    *    'insert' — zero joins, zero unchanged data touched;
    *  - a copy-on-write mutation reads only the files the commit removed
    *    plus the files it added, and nets them in one signed multiset
    *    difference (duplicate-safe, each side read once) — a compaction
    *    therefore contributes NOTHING (its rewrite is row-preserving,
    *    the differences cancel);
    *  - a merge-on-read commit whose new deletes are equality deletes
    *    over one key column, at most [[TableStore.BloomProbeMaxKeys]]
    *    keys (a single-key `deleteMoR`, every `applyNet` batch) is
    *    KEY-SCOPED: the parent side reads the removed files and each
    *    shared file ONCE, keeping only the rows whose key the new
    *    deletes name, and the new side reads only the added files. A
    *    shared file is skipped only when the keys' envelope, bloom or
    *    bucket rules it out; keys spread over the key range (the CDC
    *    case) still read every shared file once (see [[keyScope]]);
    *  - any other delete commit (positional/DV entries, several or
    *    mixed key columns, more keys, a sidecar rewrite or a rollback)
    *    reads the files both snapshots share twice, under each
    *    snapshot's masks — exact, but proportional to the shared files.
    *
    * Rows removed purely by `expireSnapshots` retention never appear
    * (expiry rewrites no manifest). Legacy history without commit-parent
    * metadata walks version-by-version like
    * [[committedVersionsBetween]]. */
  def changeFeed(name: String, fromVersion: Int, toVersion: Int,
      rowIds: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"changeFeed range is reversed: ($fromVersion, $toVersion]")
    val frames = committedVersionsBetween(name, fromVersion, toVersion)
      .map(v => changesOfVersion(name, v, rowIds))
    if (frames.isEmpty) emptyChanges(name, rowIds)
    else frames.reduce(_ unionByName _)
  }

  /** Update pairing WITHOUT a user key: the identifier is the lineage id
    * ([[TableStore.RowIdCol]]) — downstream incremental consumers track
    * an entity through CoW rewrites and MoR updates with no user-level
    * key at all (the Iceberg v3 row-lineage promise). The feed reads
    * surface each row's id (materialized or virtual per file) BEFORE the
    * net-change difference, so an update's delete+insert of one entity
    * share the id and pair; ids also make the netting sharper — a
    * rewrite preserving row ids always cancels exactly. */
  def changeFeedLineage(name: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(rowLineage(name),
      s"table $name does not have row-lineage enabled")
    val ch = changeFeed(name, fromVersion, toVersion, rowIds = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      col(TableStore.CommitVersionCol), col(s"`${TableStore.RowIdCol}`"))
    ch.withColumn("__n_types",
        when(col(s"`${TableStore.RowIdCol}`").isNotNull,
          size(collect_set(col(TableStore.ChangeTypeCol)).over(w)))
          .otherwise(lit(1)))
      .withColumn(TableStore.ChangeTypeCol,
        when(col("__n_types") === 2,
          when(col(TableStore.ChangeTypeCol) === "delete",
            lit("update_preimage")).otherwise(lit("update_postimage")))
          .otherwise(col(TableStore.ChangeTypeCol)))
      .drop("__n_types")
  }

  /** Change feed with UPDATE PAIRING — Iceberg's `create_changelog_view`
    * with identifier columns / Delta CDF's pre/post-image labels: within
    * one commit, a delete and an insert sharing the identifier tuple ARE
    * an update — the delete row relabels 'update_preimage', the insert
    * 'update_postimage'; unpaired rows keep 'insert'/'delete'.
    *
    * PRECONDITION (Iceberg's as well): `keyCols` uniquely identify a row
    * within each snapshot. Cost: the plain feed plus ONE hash shuffle on
    * (commit, key) over the CHANGED rows only — never the table. Rows
    * with a NULL identifier component never pair (SQL equality), so a
    * nullable key degrades to plain labels, not to wrong pairs. */
  def changeFeedWithUpdates(name: String, fromVersion: Int, toVersion: Int,
      keyCols: Seq[String], rowIds: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "update pairing needs identifier columns")
    val sch = schema(name)
    keyCols.foreach(c => require(sch.fieldNames.contains(c),
      s"identifier column $c not in table $name"))
    val ch = changeFeed(name, fromVersion, toVersion, rowIds)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      (TableStore.CommitVersionCol +: keyCols).map(c => col(s"`$c`")): _*)
    val keysNonNull = keyCols.map(c => col(s"`$c`").isNotNull)
      .reduce(_ && _)
    ch.withColumn("__n_types",
        when(keysNonNull,
          size(collect_set(col(TableStore.ChangeTypeCol)).over(w)))
          .otherwise(lit(1)))
      .withColumn(TableStore.ChangeTypeCol,
        when(col("__n_types") === 2,
          when(col(TableStore.ChangeTypeCol) === "delete",
            lit("update_preimage")).otherwise(lit("update_postimage")))
          .otherwise(col(TableStore.ChangeTypeCol)))
      .drop("__n_types")
  }

  /** Metadata-only estimate of [[changeFeed]]'s READ SCOPE over
    * `(from, to]`: (bytes the feed would open, the live table's total
    * bytes at `to`, whether any commit mutates). Per commit: added +
    * removed file bytes (the net-change inputs), plus the shared files
    * TWICE when the commit introduces delete entries (the full-scope
    * masked pre/post reads; a key-scoped commit reads them once —
    * quoted at the full-scope price all the same).
    * Costs one consolidated-stats read per
    * version — no file opened. A consumer folding deltas (e.g.
    * materialized-view refresh) compares scope against total to decide
    * whether recompute is the cheaper plan; (0, 0, _) = stats
    * unavailable, no estimate. The estimate is deliberately
    * CONSERVATIVE: zone/bloom pruning may read less than the quoted
    * scope, so a fallback triggered by it never picks a plan worse
    * than one table scan. */
  private[graft] def changeScopeBytes(name: String, from: Int,
      to: Int): (Long, Long, Boolean) = {
    // memoized: consecutive commits share a (parent, child) version, so
    // without the cache every consolidated-stats file and manifest in
    // the interval would parse twice — double the driver FS round-trips
    // on a path that runs per refresh
    val lensMemo = scala.collection.mutable.Map.empty[Int, Map[String, Long]]
    val relsMemo = scala.collection.mutable.Map.empty[Int, Seq[String]]
    def lens(v: Int): Map[String, Long] = lensMemo.getOrElseUpdate(v,
      if (v <= 0) Map.empty
      else readConsolidated(name, v).map(_.lens).getOrElse(Map.empty))
    def rels(v: Int): Seq[String] = relsMemo.getOrElseUpdate(v,
      if (v <= 0) Nil else relPathsOf(name, v))
    val delMemo = scala.collection.mutable.Map.empty[Int, Set[DeleteEntry]]
    def dels(v: Int): Set[DeleteEntry] = delMemo.getOrElseUpdate(v,
      if (v <= 0) Set.empty else readDeleteEntries(name, v).toSet)
    val now = lens(to)
    if (now.isEmpty && to > 0) return (0L, 0L, false)
    var scope = 0L
    var mutated = false
    committedVersionsBetween(name, from, to).foreach { v =>
      val parent = commitParent(name, v).getOrElse(v - 1)
      val cur = rels(v)
      val prev = rels(parent)
      val curS = cur.toSet
      val prevS = prev.toSet
      val l = lens(v)
      val lp = lens(parent)
      val added = cur.filterNot(prevS)
      val removed = prev.filterNot(curS)
      val newDel = dels(v) -- dels(parent)
      scope += added.map(l.getOrElse(_, 0L)).sum +
        removed.map(lp.getOrElse(_, 0L)).sum
      if (newDel.nonEmpty)
        scope += 2L * cur.filter(prevS).map(l.getOrElse(_, 0L)).sum
      if (removed.nonEmpty || newDel.nonEmpty) mutated = true
    }
    (scope, now.values.sum, mutated)
  }

  /** Some(addedFiles) iff commit `v` is a PURE append — removed no file
    * and introduced no delete entry — so its changes are exactly its
    * added files as inserts (file-splittable for streaming admission
    * control). None = a mutation commit whose net change needs
    * [[changesOfVersion]]'s masked-read difference. */
  private[graft] def commitAppendedOnly(name: String,
      v: Int): Option[Seq[String]] = {
    val parent = commitParent(name, v).getOrElse(v - 1)
    val cur = relPathsOf(name, v)
    val prev = if (parent <= 0) Nil else relPathsOf(name, parent)
    val prevS = prev.toSet
    val removed = prev.filterNot(cur.toSet)
    val newDeletes =
      readDeleteEntries(name, v).toSet -- readDeleteEntries(name, parent).toSet
    if (removed.isEmpty && newDeletes.isEmpty) Some(cur.filterNot(prevS))
    else None
  }

  /** One commit's labeled net changes — see [[changeFeed]]. */
  private[graft] def changesOfVersion(name: String, v: Int,
      rowIds: Boolean = false): DataFrame = {
    val parent = commitParent(name, v).getOrElse(v - 1)
    val cur = relPathsOf(name, v)
    val prev = if (parent <= 0) Nil else relPathsOf(name, parent)
    val curS = cur.toSet
    val prevS = prev.toSet
    val added = cur.filterNot(prevS)
    val removed = prev.filterNot(curS)
    val curDel = readDeleteEntries(name, v)
    val prevDel = readDeleteEntries(name, parent).toSet
    val newDeletes = curDel.filterNot(prevDel)
    if (removed.isEmpty && newDeletes.isEmpty) {
      // pure append (or a metadata-only commit): the appended files ARE
      // the inserts — sequence rules say no earlier tombstone masks them
      if (added.isEmpty) emptyChanges(name, rowIds)
      else readAppendedRels(name, added,
          rowIdsAt = if (rowIds) Some(v) else None)
        .withColumn(TableStore.ChangeTypeCol, lit("insert"))
        .withColumn(TableStore.CommitVersionCol, lit(v))
    } else {
      val common = if (newDeletes.nonEmpty) cur.filter(prevS) else Nil
      // pin the column ORDER on both sides: the masked read surfaces its
      // anti-join key columns first, and the output keeps the table's
      // order (the streaming source maps batch columns by position)
      val cols = (schema(name).fieldNames.toSeq ++
        (if (rowIds) Seq(TableStore.RowIdCol) else Nil))
        .map(n => col(s"`$n`"))
      def masked(rels: Seq[String], at: Int,
          narrow: DataFrame => DataFrame = identity): DataFrame =
        narrow(readRelsMasked(name, rels, at, rowIds)).select(cols: _*)
      val scope =
        if (newDeletes.isEmpty) None
        else keyScope(name, v, common, prevDel, curDel, newDeletes)
      val (before, after) = scope match {
        case Some(inK) =>
          (masked(removed, parent).unionByName(masked(common, parent, inK)),
            masked(added, v))
        case None =>
          (masked(removed ++ common, parent), masked(added ++ common, v))
      }
      // net both ways in ONE signed pass, each side read once: a row's
      // count at v minus its count at the parent, emitted |n| times as
      // 'insert' (n > 0) or 'delete' (n < 0) — what after.exceptAll(
      // before) and before.exceptAll(after) give, at half the scans and
      // one shuffle instead of two
      val n = "__graft_net"
      after.withColumn(n, lit(1L))
        .unionByName(before.withColumn(n, lit(-1L)))
        .groupBy(cols: _*).agg(sum(col(n)).as(n))
        .filter(col(n) =!= 0L)
        .withColumn(n, explode(array_repeat(col(n), abs(col(n)).cast(IntegerType))))
        .withColumn(TableStore.ChangeTypeCol,
          when(col(n) > 0L, lit("insert")).otherwise(lit("delete")))
        .withColumn(TableStore.CommitVersionCol, lit(v))
        .drop(n)
    }
  }

  /** Key scope of commit `v`'s net change over the files it shares with
    * its parent (`common`). It applies when every delete entry new in
    * `v` is an equality delete stamped with `v` over ONE key column of an
    * integral, string, date or timestamp type (IN-list membership is
    * exactly SQL equality there), no parent entry was dropped, every
    * shared file predates `v`, and the new entries hold at most
    * [[TableStore.BloomProbeMaxKeys]] keys. Let K be those keys. A shared
    * row whose key is in K is then masked at `v` (its file's sequence is
    * below `v`'s), and every other shared row reads the same at the
    * parent and at `v`, so it cancels in the net change anyway. The
    * parent-side read of the shared files can therefore keep only rows
    * keyed in K, and the `v`-side read needs the added files alone.
    *
    * Returns that narrowing: K held on the driver as an IN list. A null
    * key matches nothing, as under the anti-join mask. Each shared file
    * is still read once unless the scan's zone index drops it: by the
    * envelope [min, max] of K against the file's zone range, or by its
    * bloom or bucket when the table has them. Keys spread over the key
    * range — the CDC case — drop no file; the rows are filtered after
    * the read. None = the full-scope fallback: positional or DV entries,
    * several or mixed key columns, other key types, more keys, a sidecar
    * rewrite or a rollback (whose entries carry older sequences). */
  private def keyScope(name: String, v: Int, common: Seq[String],
      prevDel: Set[DeleteEntry], curDel: Seq[DeleteEntry],
      newDel: Seq[DeleteEntry]): Option[DataFrame => DataFrame] = {
    val pcols = newDel.head.cols
    val inv = invPhysMap(name)
    val key = pcols match {
      case Seq(p) if !TableStore.isPosEntry(pcols) => inv.get(p)
      case _ => None
    }
    val eligible = key.exists(k => schema(name)(k).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
            TimestampType | TimestampNTZType => true
        case t => t == StringType
      }) && newDel.forall(e => e.cols == pcols && e.seq == v) &&
      prevDel.subsetOf(curDel.toSet) && {
        val seqs = readSeqs(name, v)
        common.forall(r => seqs.getOrElse(r, 0) < v)
      }
    if (!eligible) None
    else if (common.isEmpty) Some(identity)
    else {
      val probe = readEqSidecars(name, newDel, pcols, inv)
        .limit(TableStore.BloomProbeMaxKeys + 1).collect()
      if (probe.length > TableStore.BloomProbeMaxKeys) None
      else {
        val ks = probe.flatMap(r => Option(r.get(0))).distinct.toSeq
        Some(_.filter(col(s"`${key.get}`").isInCollection(ks)))
      }
    }
  }

  private def emptyChanges(name: String, rowIds: Boolean = false): DataFrame = {
    val sch = StructType(schema(name).fields ++
      (if (rowIds)
        Seq(StructField(TableStore.RowIdCol, LongType, nullable = true))
      else Nil) ++ Seq(
      StructField(TableStore.ChangeTypeCol, StringType, nullable = false),
      StructField(TableStore.CommitVersionCol, IntegerType, nullable = false)))
    spark.createDataFrame(new java.util.ArrayList[Row](), sch)
  }

  /** Key-level diff between two snapshots: one row per key whose presence
    * changed — change = 'added' | 'removed' (keys present in both with
    * different non-key values are 'changed' when `compareCols` is
    * non-empty). One full-outer join on the key columns; both sides scan
    * only their snapshot's files, so cost is bounded by the two
    * snapshots, not the table's history.
    *
    * PRECONDITION: `keyCols` must uniquely identify a row within each
    * snapshot. A snapshot holding k duplicate rows for a key fans out
    * k×k' through the full-outer join and the "one row per key" contract
    * no longer holds — deduplicate or aggregate to one row per key first
    * (the CDC apply path upholds this by construction: applyNet keeps one
    * net winner per key). */
  def diffVersions(name: String, fromVersion: Int, toVersion: Int,
      keyCols: Seq[String], compareCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "diffVersions needs at least one key column")
    val before = readVersion(name, fromVersion)
      .select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__b", lit(1))
    val after = readVersion(name, toVersion)
      .select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__a", lit(1))
    val joined = before.as("b").join(after.as("a"),
      keyCols.map(k => before(k) <=> after(k)).reduce(_ && _), "full_outer")
    val changed: Column =
      if (compareCols.isEmpty) lit(false)
      else compareCols.map(c => !(col(s"b.$c") <=> col(s"a.$c")))
        .reduce(_ || _)
    joined.select(
      keyCols.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) :+
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("same")).as("change"): _*)
      .filter(col("change") =!= "same")
  }

  /** `rowIdsAt = Some(version)`: additionally surface the lineage id
    * column ([[TableStore.RowIdCol]]) — materialized value when the file
    * carries one, else that snapshot's first_row_id + ordinal. */
  private def readFiles(name: String, files: Seq[String],
      rowIdsAt: Option[Int] = None): DataFrame = {
    val sch = schema(name)
    if (files.isEmpty) {
      val empty = spark.createDataFrame(new java.util.ArrayList[Row](), sch)
      return rowIdsAt.fold(empty)(_ =>
        empty.withColumn(TableStore.RowIdCol, lit(null).cast(LongType)))
    }
    // files carry PHYSICAL column names (fixed at field creation, at
    // every nesting level); read under the physical schema, surface
    // logical names — a renamed column reads back from every snapshot
    // without any file rewrite. Grouped by partition-spec generation:
    // each generation reads under its OWN basePath so hive discovery
    // fills exactly its spec's columns from the directory names (the
    // rest are data columns in the files).
    val physSch0 = physSchema(name)
    val physSch =
      if (rowIdsAt.isEmpty) physSch0
      else StructType(physSch0.fields :+
        StructField(TableStore.RowIdCol, LongType, nullable = true))
    val idCols = rowIdsAt.toSeq.map { v =>
      coalesce(col(s"`${TableStore.RowIdCol}`"),
        virtualRowId(readRowIds(name, v)._2))
        .as(TableStore.RowIdCol)
    }
    val dd = fs.makeQualified(dataDir(name)).toString
    def relOf(p: String): String =
      fs.makeQualified(new HPath(p)).toString.stripPrefix(dd + "/")
    val specs = partitionSpecs(name).toMap
    files.groupBy(p => specOfRel(relOf(p))).toSeq.sortBy(_._1)
      .flatMap { case (id, fls) =>
        val fields = specs.getOrElse(id, Nil).map(PartitionField.parse)
        val raws =
          if (fields.isEmpty)
            Seq(spark.read.schema(physSch).parquet(fls: _*))
          else {
            // partition discovery fills every dir column, so each one —
            // including hidden-transform DERIVED columns — must appear
            // in the reader schema; the logical projection below drops
            // the derived extras again
            val derived = fields.filterNot(_.isIdentity).map { f =>
              StructField(f.dirName, PartitionField.dirType(f,
                physSch(physSch.fieldIndex(f.source)).dataType),
                nullable = true)
            }
            val rdSchema = StructType(physSch.fields ++ derived)
            def withBase(base: String, ps: Seq[String]) =
              spark.read.schema(rdSchema).option("basePath", base)
                .parquet(ps: _*)
            // adopted-by-reference files (partitioned add_files) live
            // OUTSIDE data/ — each adoption source gets its own
            // basePath (the path above its hive tail) so discovery
            // fills the same partition columns from their directories
            val (native, adopted) = fls.partition(p =>
              fs.makeQualified(new HPath(p)).toString.startsWith(dd + "/"))
            def baseOf(p: String): String = {
              val segs = p.split('/')
              segs.dropRight(fields.length + 1).mkString("/")
            }
            (if (native.isEmpty) Nil
             else Seq(withBase(specBaseDir(name, id).toString, native))) ++
              adopted.groupBy(baseOf).toSeq.sortBy(_._1)
                .map { case (b, ps) => withBase(b, ps) }
          }
        raws.map(_.select(logicalProjection(name, sch, physSch0) ++ idCols: _*))
      }.reduce(_ unionByName _)
  }

  /** Append-only write: new data files + manifest, no existing file touched
    * (reference W1, SparkDestinationStream.java:229-232). Appends always
    * COMMUTE: a concurrent commit of any kind just rebases this one onto
    * the new head. `meta` tags land in the commit's metadata (e.g. a
    * streaming sink records its batch id for restart idempotence). */
  def append(name: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      branch: Option[String] = None): Unit = {
    branch.foreach(b => require(refs(name).get(b).exists(_._1 == "branch"),
      s"no branch $b on table $name"))
    val base = if (exists(name)) currentVersion(name) else 0
    val newFiles = writeDataFiles(name, alignTo(name, schema(name), df))
    commitManifest(name, base, Set.empty, newFiles, newFiles, meta = meta,
      branch = branch)
  }

  /** Multi-table ATOMIC transaction — the shape of Iceberg's REST-catalog
    * `CommitTransaction` (N tables advance together or not at all), which
    * the reference's CDC update path conspicuously lacks even for ONE
    * table (delete + insert as two snapshots, `README.md:74-77`).
    *
    * `body` receives a store whose commits are BUFFERED: each operation
    * runs its full normal prepare (data files staged, manifest family
    * written, conflict checks) but the pointer swap lands in a
    * [[TxOverlayCoordinator]] instead of publishing. Within the body,
    * later operations chain on earlier ones (read-your-writes — an
    * append then a delete of the same table compose); outside readers
    * see nothing. When the body returns, every buffered pointer
    * publishes through ONE [[CommitCoordinator.swapAll]] under all
    * touched tables' commit locks — so a CDC fan-out writing facts plus
    * a derived rollup can never expose one without the other.
    *
    * Scale: the prepare work is all distributed Spark jobs exactly as
    * outside a transaction; only the pointer publication is coordinated,
    * and it is O(tables touched) metadata CAS — nothing rewrites or
    * re-reads data at commit. Transactions must complete within
    * [[TableStore.StaleLockMs]] (their unpublished manifests look like
    * phantoms to other writers' age-fenced reclaim beyond that).
    *
    * Conflicts: any outside commit to a TOUCHED table between prepare
    * and publish fails the whole transaction with
    * [[CommitConflictException]]; staged manifests and data files are
    * reclaimed, nothing half-commits. DROP / overwrite-create / rename
    * inside the body are refused (destructive directory surgery cannot
    * be staged); creating NEW tables is supported and they become
    * visible atomically with everything else. Nested calls fold into
    * the enclosing transaction. */
  def transaction[A](body: TableStore => A): A = coord match {
    case _: TxOverlayCoordinator =>
      // nested: the enclosing transaction owns publication
      body(this)
    case _ =>
      val tx = new TxOverlayCoordinator(coord)
      val txStore = new TableStore(spark, root, hadoopProps, Some(tx))
      val result =
        try body(txStore)
        catch { case e: Throwable => tx.abort(); throw e }
      // publish under every touched table's commit lock: single-table
      // committers hold the same lock across their swap, so this closes
      // the default (rename-based) coordinator's validate-then-publish
      // window; sorted acquisition order makes lock-up deadlock-free
      val tables = tx.touchedKeys.map(_.takeWhile(_ != '@')).distinct.sorted
      var won = false
      try {
        val held = scala.collection.mutable.ListBuffer[HPath]()
        try {
          tables.foreach { t =>
            val l = new HPath(tdir(t), "_commit.lock")
            acquireLock(t, l); held += l
          }
          won = tx.commitAll()
        } finally { held.foreach(l => fs.delete(l, false)) }
      } catch { case e: Throwable => tx.abort(); throw e }
      if (!won) {
        tx.abort()
        throw new CommitConflictException(
          s"transaction on ${tables.mkString(", ")} lost a pointer race — " +
            "staged manifests and files were cleaned up; re-run the " +
            "transaction against the current snapshots")
      }
      result
  }

  /** Destructive directory surgery (drop / overwrite-create / rename)
    * cannot be staged-and-published like a snapshot commit — refuse it
    * inside a transaction instead of half-destroying state. */
  private def requireNotInTx(op: String): Unit = coord match {
    case _: TxOverlayCoordinator => throw new UnsupportedOperationException(
      s"$op inside a transaction is not supported — run it outside")
    case _ => ()
  }

  /** Iceberg `add_files` surface: adopt EXISTING parquet files into the
    * table BY REFERENCE — one metadata-only commit, no rewrite, no byte
    * copy. At 100 TB, migrating a corpus into the table format must not
    * re-write the corpus; this is the contract Iceberg's `add_files` /
    * `migrate` procedures provide (the reference inherits them through
    * its SparkCatalog + extensions, `SparkUtils.java:45-46`). The
    * manifest records the adopted files' ABSOLUTE paths; every manifest
    * consumer resolves entries against `data/` via Hadoop path
    * resolution, which keeps absolute children absolute — so reads,
    * zone/bloom pruning, time travel, change feed, CoW rewrites and
    * expiry all treat adopted files as first-class.
    *
    * OWNERSHIP TRANSFERS to the table (Iceberg migrate semantics): a
    * later copy-on-write rewrite or snapshot expiry may DELETE an
    * adopted file. Do not adopt files another system still writes.
    *
    * Constraints, all checked and loud:
    *  - a PARTITIONED table must be single-generation (never
    *    repartitioned) with an all-IDENTITY spec matching the source's
    *    hive layout: each adopted file's last partition-depth directory
    *    segments must read `<col>=<value>` in spec order (the classic
    *    hive-corpus migration; hidden-transform layouts would need
    *    derived values no foreign corpus carries). `partitionFilter`
    *    (Iceberg's add_files partition_filter) restricts adoption to
    *    directories whose identity values match every given
    *    column→value pair;
    *  - the files' parquet schema must equal the table's PHYSICAL
    *    schema by (name → type) — minus identity partition columns for
    *    a partitioned adopt (hive strips them from data files, exactly
    *    as this store does): after a column rename the physical names
    *    differ from the logical ones and in-place adoption would bind
    *    the wrong columns, so it is refused (copy-load instead);
    *  - basenames must be unique within the batch AND vs live files
    *    (copy-on-write candidate matching is by basename);
    *  - zero-row files are skipped (dead manifest weight).
    *
    * Cost: one grouped stats job over the adopted files — the same job
    * an append pays — so zone bounds, blooms, NDV sketches, row counts
    * and metadata-only aggregates all work on adopted data; then one
    * commit. Partition-value parsing happens at PLAN time from each
    * adopted path's hive tail, so directory pruning on partition-key
    * predicates works on adopted files exactly as on native ones.
    * Returns the adopted manifest entries. */
  def addFiles(name: String, sourceDir: String,
      partitionFilter: Map[String, String] = Map.empty): Seq[String] = {
    require(exists(name), s"no table $name")
    val pFields = partitionFields(name)
    require(pFields.forall(_.isIdentity),
      s"add_files needs an identity (classic hive) layout; $name has " +
        s"hidden transforms: ${pFields.filterNot(_.isIdentity)
          .map(_.render).mkString(", ")}")
    require(pFields.isEmpty || partitionSpecs(name).size == 1,
      s"add_files into a repartitioned table is not supported; " +
        s"$name has ${partitionSpecs(name).size} spec generations")
    require(partitionFilter.isEmpty || pFields.nonEmpty,
      "partition_filter given for an unpartitioned table")
    partitionFilter.keys.foreach(k =>
      require(pFields.exists(_.dirName == k),
        s"partition_filter column $k is not a partition column of $name"))
    val m = physMap(name)
    val renamed = schema(name).fieldNames.filter(c => physOf(m, c) != c)
    require(renamed.isEmpty,
      "add_files after a column rename would adopt files whose columns " +
        s"no longer match the physical schema (renamed: " +
        s"${renamed.mkString(", ")}) — copy-load via append instead")
    val src = new HPath(sourceDir)
    require(src.getFileSystem(hconf).getUri == fs.getUri,
      s"add_files source must live on the table's filesystem " +
        s"(${fs.getUri}); got $sourceDir")
    require(fs.exists(src), s"no such source directory: $sourceDir")
    val all0 = listStatusRec(src)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val all =
      if (pFields.isEmpty) all0
      else {
        // validate every file's hive tail against the spec (throws with
        // the exact offending segment), then apply the partition filter
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        val physSch = physSchema(name)
        val dirTypes = pFields.map(f => PartitionField.dirType(f,
          physSch(physSch.fieldIndex(f.source)).dataType))
        all0.filter { st =>
          val segs = st.getPath.toUri.getPath.split('/').dropRight(1)
            .takeRight(pFields.length)
          require(segs.length == pFields.length,
            s"adopted file ${st.getPath} is not ${pFields.length} " +
              "partition directories deep")
          parsePartitionValues(name, segs.mkString("/"), pFields, dirTypes)
          pFields.zip(segs).forall { case (f, seg) =>
            partitionFilter.get(f.dirName).forall { want =>
              ExternalCatalogUtils.unescapePathName(
                seg.substring(f.dirName.length + 1)) == want
            }
          }
        }
      }
    require(all.nonEmpty, s"no parquet files under $sourceDir")
    // scheme-less absolute entries: they resolve against `data/` to the
    // same files (same filesystem, required above), and sidecar naming
    // stays URI-clean
    val files = locally {
      val keep = parFiles(all)(st =>
        st.getLen >= TableStore.EmptyFileCheckBytes ||
          !footerRowCount(st.getPath).contains(0L))
      all.zip(keep).collect { case (st, true) => st.getPath.toUri.getPath }
        .sorted
    }
    val phys0 = physSchema(name)
    // identity partition columns live in directory names, not data
    // files — hive convention, matching this store's own layout
    val identSrcs = partitionFields(name).map(_.source).toSet
    val phys = StructType(phys0.filterNot(f => identSrcs.contains(f.name)))
    val got0 = spark.read.parquet(files: _*).schema
    // partition DISCOVERY may re-attach dir columns when the adopted
    // files share a hive-shaped parent — those are not data columns
    val got = StructType(got0.filterNot(f => identSrcs.contains(f.name)))
    def shape(s: StructType): Map[String, String] =
      s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(shape(got) == shape(phys),
      s"adopted files' schema ${got.simpleString} does not match table " +
        s"$name's data schema ${phys.simpleString}")
    // UNPARTITIONED tables keep strict basename uniqueness (CoW
    // candidate matching is by basename; distinct names keep the
    // rewrite set exact). Hive corpora legitimately REPEAT basenames
    // across partition directories (one writing task emits the same
    // part-N name into every directory it holds rows for), so a
    // partitioned adopt requires only per-directory uniqueness —
    // cross-directory collisions make CoW matching over-select
    // consistently (the same basename set drives both the survivor
    // read and the removal, so extra files rewrite byte-identically;
    // correct, just wider), never under-select.
    val liveRels = currentRelPaths(name)
    if (pFields.isEmpty) {
      val live = liveRels.map(fileName).toSet
      val names = files.map(fileName)
      require(names.distinct.size == names.size && !names.exists(live),
        "adopted file basenames must be unique and distinct from live " +
          "files — rename the colliding files first")
    } else {
      val liveSet = liveRels.toSet
      require(files.distinct.size == files.size && !files.exists(liveSet),
        "adopted files must be distinct and not already in the table")
      def dirAndName(p: String) = {
        val i = p.lastIndexOf('/')
        (p.substring(0, math.max(i, 0)), p.substring(i + 1))
      }
      val within = files.map(dirAndName)
      require(within.distinct.size == within.size,
        "adopted file basenames must be unique within each partition " +
          "directory")
    }
    scanFileStats(name, files)
    // record the adoption on any sibling SOURCE table BEFORE the commit
    // publishes: the reachability guards' marker fast path must never
    // miss an in-flight adoption
    writeRefByMarkers(name, files)
    // a lost commit race must never delete the user's source files:
    // reclaimAddedOnAbort stays off (the orphaned stats sidecars are
    // harmless and unreferenced)
    commitManifest(name, currentVersion(name), Set.empty, files, files,
      meta = Map("operation" -> "add-files", "source" -> sourceDir),
      reclaimAddedOnAbort = false)
    files
  }

  /** Iceberg `snapshot` procedure: a ZERO-COPY clone of `src`'s current
    * snapshot as an independent table `dst` — metadata only, no data
    * scan, no byte copied. The clone's manifest references `src`'s
    * current data files by ABSOLUTE path (the [[addFiles]] adoption
    * mechanics); per-file stats and bloom sidecars are COPIED (tiny
    * driver-side JSON/bitset files), so zone pruning, blooms and
    * metadata-only aggregates work on the clone from the first query
    * without a stats job. Future writes diverge: the clone's appends
    * and CoW rewrites land in ITS own data dir; the source never sees
    * them.
    *
    * Ownership (STRONGER than the Iceberg snapshot-table contract):
    * the clone does NOT own the referenced files — and no physical
    * deletion path on EITHER side can break the other. A clone's
    * expiry/orphan cleanup deletes via its own `data/` listings and
    * its drop removes only its own tree; the SOURCE's
    * `expireSnapshots` / `removeOrphans` / `drop` consult
    * [[foreignReferenced]] and SKIP (or refuse, for drop) files a
    * clone's manifests still reference by absolute path — Iceberg's
    * own snapshot procedure leaves that reverse direction as a
    * documented data-loss hazard; owning both tables under one store
    * root lets this engine close it. `CALL compact` on the clone
    * rewrites it into files it owns, and expiring the clone's
    * pre-compact history (which still references the source for time
    * travel) then frees the source's files for reclamation.
    *
    * Row-lineage sources clone cleanly: the `.rowids` first-row-id
    * sidecar carries by reference alongside the files (see the lineage
    * block below), so `_row_id` is stable across the clone boundary
    * and both sides keep assigning from the carried counter after
    * divergence.
    *
    * Constraints (checked, loud): `src` single-generation spec, no
    * renames (adopted files carry old physical names otherwise), and
    * NO pending merge-on-read deletes — adopting data files without
    * their masks would resurrect deleted rows; run
    * `materialize_deletes` first. Returns the adopted entries. */
  def snapshotTable(src: String, dst: String): Seq[String] = {
    require(exists(src), s"no table $src")
    require(!exists(dst) && !viewExists(dst),
      s"table or view $dst already exists")
    require(pendingDeletes(src) == 0,
      s"$src has pending merge-on-read deletes — a snapshot would adopt " +
        "its data files WITHOUT their masks; CALL materialize_deletes " +
        "first")
    require(partitionSpecs(src).size <= 1,
      s"snapshot of a repartitioned table is not supported; $src has " +
        s"${partitionSpecs(src).size} spec generations")
    val m = physMap(src)
    val renamed = schema(src).fieldNames.filter(c => physOf(m, c) != c)
    require(renamed.isEmpty,
      "snapshot after a column rename would reference files whose " +
        s"columns no longer match (renamed: ${renamed.mkString(", ")})")
    create(dst, schema(src), partitionBy = partitionCols(src),
      zoneCols = zoneCols(src), bloomCols = bloomCols(src),
      bloomItems = bloomItems(src))
    // the clone carries the source's TABLE PROPERTIES wholesale
    // (write modes, sort order, variant shreds, defaults — Iceberg's
    // snapshot carries table metadata): without them the clone's
    // future writes would silently diverge from the source's contract
    // (e.g. a variant shred column left null instead of derived).
    // row-lineage is EXCLUDED here and re-set after the adoption
    // commit below: were it live during that commit, the adopted files
    // would be assigned FRESH id ranges instead of carrying the
    // source's — silently renumbering every row of the clone.
    val props = properties(src)
    if (props.nonEmpty)
      setProperties(dst, (props - "row-lineage")
        .map { case (k, v) => k -> Some(v) })
    val rels = currentRelPaths(src)
    val abs = rels.map(r =>
      new HPath(dataDir(src), r).toUri.getPath)
    // per-file stats/bloom sidecars copy driver-side (tiny); absence of
    // any individual sidecar just loses that file's pruning, as always
    val bcs = bloomCols(src)
    rels.zip(abs).foreach { case (r, a) =>
      val sp = statsPath(src, r)
      if (fs.exists(sp)) writeString(statsPath(dst, a), readString(sp))
      bcs.foreach { c =>
        val bp = bloomPath(src, r, c)
        if (fs.exists(bp)) {
          val in = fs.open(bp)
          val bytes = try in.readAllBytes() finally in.close()
          writeBytes(bloomPath(dst, a, c), bytes)
        }
      }
    }
    // marker BEFORE the adoption commit (guards' fast path, see
    // [[refByMarker]])
    writeRefByMarkers(dst, abs)
    if (abs.nonEmpty)
      commitManifest(dst, currentVersion(dst), Set.empty, abs, abs,
        meta = Map("operation" -> "snapshot", "source" -> src),
        reclaimAddedOnAbort = false)
    // row lineage carries BY REFERENCE like the data files: the clone's
    // `.rowids` sidecar maps each adopted ABSOLUTE entry to the
    // source's first_row_id (files with MATERIALIZED ids need no entry
    // — the physical column travels with the file), and `#next`
    // continues the source's counter so the clone never re-issues a
    // live id. Written before the property is re-enabled, so the
    // adoption commit above could not have auto-assigned fresh ranges.
    if (rowLineage(src)) {
      val (srcNext, srcFirsts) = readRowIds(src, currentVersion(src))
      // an EMPTY source snapshot still carries its counter: without an
      // empty commit + sidecar the clone would restart ids at 0 and
      // re-issue ids the source's history already assigned
      if (abs.isEmpty && srcNext > 0)
        commitManifest(dst, currentVersion(dst), Set.empty, Nil, Nil,
          meta = Map("operation" -> "snapshot", "source" -> src),
          reclaimAddedOnAbort = false)
      if (currentVersion(dst) > 0 && (abs.nonEmpty || srcNext > 0)) {
        val entries = rels.zip(abs)
          .flatMap { case (r, a) => srcFirsts.get(r).map(a -> _) }
          .sortBy(_._1)
        writeString(rowIdsPath(dst, currentVersion(dst)),
          (s"#next\t$srcNext" +:
            entries.map { case (r, f) => s"$r\t$f" }).mkString("\n"))
      }
      setProperties(dst, Map("row-lineage" -> Some("true")))
    }
    abs
  }

  /** Iceberg `migrate` convenience: create a managed table FROM an
    * existing parquet directory's own schema and adopt its files by
    * reference ([[addFiles]]) — the whole migration is metadata + one
    * stats job, zero data rewrite. */
  def migrate(name: String, sourceDir: String,
      zoneCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Unit = {
    require(!exists(name), s"table $name already exists — use addFiles")
    val sch = spark.read.parquet(sourceDir).schema
    create(name, sch, zoneCols = zoneCols, bloomCols = bloomCols)
    addFiles(name, sourceDir)
    ()
  }

  /** Replace the table's ENTIRE contents with `df` in ONE snapshot
    * commit — no directory surgery: the fresh files land in the
    * table's own data dir, and the commit removes every current entry
    * while adding them. Unlike [[replaceTable]] (RTAS's staged-dir
    * swap) this is an ordinary commit, so it is TRANSACTION-SAFE
    * (inside [[transaction]] the publish rides the multi-table
    * swapAll — N derived tables can republish atomically), concurrent
    * readers keep serving the pinned prior snapshot (whose files
    * remain until expiry — time travel across the replacement works),
    * and a lost race surfaces as a normal commit conflict. The cost
    * is one write of `df` into the table's dir — metadata-swap-free
    * replacement stays [[replaceTable]]'s job. */
  def overwriteAll(name: String, df: DataFrame,
      meta: Map[String, String] = Map.empty): Unit = {
    materializeDeletes(name)
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val fresh = writeDataFiles(name, alignTo(name, schema(name), df))
    commitManifest(name, base, rels.toSet, fresh, fresh, meta = meta)
  }

  /** Overwrite-by-filter (`INSERT OVERWRITE t PARTITION(...)` static
    * mode / overwrite(filters)): rows matching `cond` are replaced by
    * `df` in ONE atomic commit — a CoW anti-filter rewrite of exactly
    * the files containing matches plus the fresh files, never a
    * whole-table replacement. The fresh rows land on the appended
    * sidecar (they are new rows for incremental/change-feed readers);
    * the rewrite rows do not. */
  def overwriteWhere(name: String, cond: Column, df: DataFrame): Unit = {
    materializeDeletes(name)
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val fresh = writeDataFiles(name, alignTo(name, schema(name), df))
    if (rels.isEmpty) {
      commitManifest(name, base, Set.empty, fresh, fresh)
      return
    }
    val files = rels.map(r => new HPath(dataDir(name), r).toString)
    val affected = indexedRead(name, rels, base).filter(cond)
      .select(input_file_name().as("f"))
      .distinct().collect().map(r => fileName(r.getString(0))).toSet
    val affectedPaths = files.filter(p => affected.contains(fileName(p)))
    val lineage = rowLineage(name)
    val survivors =
      if (affectedPaths.isEmpty) Nil
      else writeDataFiles(name, readFiles(name, affectedPaths,
        rowIdsAt = if (lineage) Some(base) else None)
        .filter(!coalesce(cond, lit(false))))
    val removedRels = rels.filter(r => affected.contains(fileName(r))).toSet
    commitManifest(name, base, removedRels, survivors ++ fresh, fresh,
      idAdds = if (lineage) survivors.toSet else Set.empty)
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic`): replace exactly the partition
    * directories the INCOMING rows land in — untouched partitions stay
    * byte-identical, and the whole replacement is one atomic commit.
    * At 100 TB this is the idempotent-backfill primitive: re-running a
    * day's pipeline rewrites that day's directories only.
    *
    * Requires a partitioned table on a SINGLE spec generation (matching
    * is by directory path; a partition-evolved table's older-generation
    * files use different directory names for the same logical tuple,
    * and silently under-removing them would duplicate rows). */
  def overwriteDynamic(name: String, df: DataFrame): Unit = {
    val (base, rels) = dynamicOverwriteBase(name)
    val fresh = writeDataFiles(name, alignTo(name, schema(name), df))
    commitDynamicFresh(name, base, rels, fresh)
  }

  /** Validated (base version, base rel paths) for a dynamic overwrite. */
  private def dynamicOverwriteBase(name: String): (Int, Seq[String]) = {
    require(partitionFields(name).nonEmpty,
      s"dynamic overwrite needs a partitioned table; $name is not")
    materializeDeletes(name)
    val baseManifest = currentManifest(name)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val gens = rels.map(specOfRel).distinct
    require(gens.size <= 1 && gens.forall(_ == currentSpecId(name)),
      s"dynamic overwrite on $name needs a single partition-spec " +
        "generation — compact the table to rewrite old-layout files first")
    (versionOf(baseManifest), rels)
  }

  private def commitDynamicFresh(name: String, base: Int,
      baseRels: Seq[String], fresh: Seq[String]): Unit = {
    def dirOf(r: String): String = {
      val cut = r.lastIndexOf('/')
      if (cut < 0) "" else r.substring(0, cut)
    }
    val touched = fresh.map(dirOf).toSet
    val removed = baseRels.filter(r => touched.contains(dirOf(r))).toSet
    commitManifest(name, base, removed, fresh, fresh)
  }

  /** Commit half of the V2 dynamic-overwrite write: adopt the
    * distributed writer's staged files (`kept` = what the tasks actually
    * committed) and swap exactly their partition directories. */
  private[tables] def commitDynamicStaged(name: String, staging: HPath,
      kept: Map[String, FileStatsPartial]): Unit = {
    val (base, rels) = dynamicOverwriteBase(name)
    val fresh = promoteStaged(name, staging, kept)
    fs.delete(staging, true)
    commitDynamicFresh(name, base, rels, fresh)
  }

  /** Row-level delete (reference W2, SparkDestinationStream.java:124-135) as
    * an anti-filter copy-on-write: rewrite only files containing matches.
    * Runs against the snapshot current at entry; commits rebase over
    * concurrent commits touching DISJOINT files and abort with
    * [[CommitConflictException]] on overlap. */
  def delete(name: String, cond: Column): Unit = {
    // CoW rewrites must not resurrect MoR-masked rows: fold pending
    // equality deletes in first (bounded by the files their keys touch)
    materializeDeletes(name)
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    if (rels.isEmpty) return
    val files = rels.map(r => new HPath(dataDir(name), r).toString)
    val df = indexedRead(name, rels, base)
    val affected = df.filter(cond).select(input_file_name().as("f"))
      .distinct().collect().map(r => fileName(r.getString(0))).toSet
    if (affected.isEmpty) return
    val affectedPaths = files.filter(p => affected.contains(fileName(p)))
    val lineage = rowLineage(name)
    // SQL DELETE WHERE semantics: rows where cond is NULL are KEPT — a bare
    // !cond would silently drop them (NOT(NULL) filters the row out).
    // Survivors keep their lineage ids through the rewrite.
    val survivors = readFiles(name, affectedPaths,
      rowIdsAt = if (lineage) Some(base) else None)
      .filter(!coalesce(cond, lit(false)))
    val rewritten = writeDataFiles(name, survivors)
    val removedRels = rels.filter(r => affected.contains(fileName(r))).toSet
    commitManifest(name, base, removedRels, rewritten, Nil,
      idAdds = if (lineage) rewritten.toSet else Set.empty)
  }

  // ---- merge-on-read deletes ----------------------------------------------

  private def deletesDir(name: String): HPath =
    new HPath(tdir(name), "deletes")

  /** Per-file key ranges of a (sorted) equality-delete sidecar:
    * `deletes/<rel>.ranges.json` = `{fileName: {col: [min, max]}}` in
    * the stat domain (micros/epoch-days as Long). The SPJ masked reader
    * uses them to SKIP whole sidecar files whose key range cannot
    * intersect a task's key group, and [[spjPlan]] uses them to budget
    * the mask by PER-TASK bytes instead of total sidecar bytes — the
    * equality-delete scale ceiling. Purely an optimization: an absent
    * or unparsable file just means every task reads every sidecar file
    * (the pre-range behavior). */
  private def eqRangesPath(name: String, rel: String): HPath =
    new HPath(deletesDir(name), s"$rel.ranges.json")

  /** External collected value → the stat domain ranges/zone stats
    * compare in (temporal types as Long micros / epoch days). */
  private def statDomainOf(v: Any): Any = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case t: java.sql.Timestamp      => DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant       => DateTimeUtils.instantToMicros(i)
      case l: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(l)
      case d: java.sql.Date           => DateTimeUtils.fromJavaDate(d).toLong
      case d: java.time.LocalDate     => d.toEpochDay
      case other                      => other
    }
  }

  /** Write an equality-delete sidecar CLUSTERED BY THE TABLE'S LAYOUT
    * and key-sorted, with per-file ranges. Keys range-partition on
    * (derived partition values of the layout fields over key columns,
    * then the raw keys), so each output file holds one narrow slice of
    * the partition-value space — Iceberg's partitioned-delete-files
    * shape. The recorded per-file min/max of each DERIVED dimension
    * (keyed by the field's parameter-qualified RENDER) lets an SPJ
    * key-group task skip every sidecar
    * file but its own slice — bucket layouts included, because the
    * derived value itself is recorded (no monotonicity argument
    * needed); raw key ranges are recorded too, serving monotonic-
    * transform skips if the table is later re-specced. The follow-up
    * per-file min/max aggregation is one tiny job over the keys just
    * written (tombstone-sized, not table-sized); a single-file sidecar
    * records nothing (nothing to skip). Types the stat domain cannot
    * represent (decimals, binaries, nested) record no range for that
    * column, and zone-dependent derivations are excluded — readers
    * fail open on both. */
  private def writeEqSidecar(name: String, keys: DataFrame,
      pCols: Seq[String], prefix: String = "del",
      knownCount: Option[Long] = None): String = {
    val rel = s"$prefix-${java.util.UUID.randomUUID()}"
    val out = new HPath(deletesDir(name), rel)
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    def derivedCol(df: DataFrame, f: PartitionField)
        : org.apache.spark.sql.Column = {
      val srcType = df.schema(df.schema.fieldIndex(f.source)).dataType
      Bridge.column(PartitionField.catalystExpr(
        f, Bridge.expression(col(s"`${f.source}`")), srcType, sessionZone))
    }
    val dims = partitionFields(name).filter { f =>
      pCols.contains(f.source) && keys.columns.contains(f.source) &&
        !PartitionField.zoneDependent(f,
          keys.schema(keys.schema.fieldIndex(f.source)).dataType)
    }
    // identity dims cluster on the raw column (derived == source);
    // recording them once under the source name serves both lookups.
    // Non-identity derived ranges key by the field's RENDER — the
    // parameter-carrying spelling (`bucket(16:k)`), NOT the dirName
    // (`k_bucket`): after a repartitionSpec changes a transform's
    // parameter, a dirName-keyed range would compare values from a
    // DIFFERENT derivation domain and wrongly skip applicable
    // tombstones (resurrecting deleted rows); a render mismatch just
    // misses the lookup and fails open.
    val derivedDims = dims.filterNot(_.isIdentity)
    val sortCols = dims.map(f =>
      if (f.isIdentity) col(s"`${f.source}`") else derivedCol(keys, f)) ++
      pCols.map(c => col(s"`$c`"))
    // Small-batch floor: layout clustering pays a range shuffle plus a
    // stats read-back pass — pure overhead for the common small CDC
    // tombstone batch, whose WHOLE pile every key-group task can afford
    // to read anyway (a 64k-key sidecar is ~1 MB). Count first (the
    // keys frame is tombstone-sized and cached so the write does not
    // recompute it; a caller that knows the count skips both) and write
    // small batches as ONE sorted file — the single-file early-return
    // below then skips the stats pass too.
    // graft.eq.clusterFloorRows overrides (0 forces clustering; scale
    // tools and the multi-slice specs use it).
    val floor = spark.conf.getOption("graft.eq.clusterFloorRows")
      .flatMap(_.toLongOption).getOrElse(TableStore.EqClusterFloorRows)
    val cached = if (knownCount.isDefined) keys else keys.persist()
    try {
      if (knownCount.getOrElse(cached.count()) <= floor) {
        cached.coalesce(1).sortWithinPartitions(sortCols: _*)
          .write.parquet(out.toString)
        return rel
      }
      cached.repartitionByRange(sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .write.parquet(out.toString)
    } finally { if (knownCount.isEmpty) cached.unpersist(); () }
    val parquetFiles = listStatusRec(out)
      .count(_.getPath.getName.endsWith(".parquet"))
    if (parquetFiles < 2) return rel // one slice: nothing to ever skip
    val back = spark.read.schema(keys.schema).parquet(out.toString)
    val statCols: Seq[(String, org.apache.spark.sql.Column)] =
      pCols.map(c => c -> col(s"`$c`")) ++
        derivedDims.map(f => f.render -> derivedCol(back, f))
    val aggs = statCols.flatMap { case (_, c) => Seq(min(c), max(c)) }
    val rows = back.groupBy(input_file_name())
      .agg(aggs.head, aggs.tail: _*).collect()
    val sb = new StringBuilder("{")
    var firstF = true
    rows.foreach { r =>
      val full = r.getString(0)
      val fn = full.substring(full.lastIndexOf('/') + 1)
      val cols = statCols.map(_._1).zipWithIndex.flatMap { case (c, i) =>
        val (lo, hi) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
        if (lo == null || hi == null) None
        else {
          val (a, b) = (statJson(statDomainOf(lo)), statJson(statDomainOf(hi)))
          if (a == "null" || b == "null") None
          else Some(s"${statJson(c)}: [$a, $b]")
        }
      }
      if (cols.nonEmpty) {
        if (!firstF) sb.append(", ")
        firstF = false
        sb.append(s"${statJson(fn)}: {${cols.mkString(", ")}}")
      }
    }
    sb.append("}")
    writeString(eqRangesPath(name, rel), sb.toString)
    rel
  }

  /** Parsed per-file ranges of one equality sidecar (empty = none
    * recorded — pre-range sidecar or unrepresentable key types). */
  private def readEqRanges(name: String, rel: String)
      : Map[String, Map[String, (Any, Any)]] = {
    val p = eqRangesPath(name, rel)
    try {
      if (!fs.exists(p)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readString(p))
        val it = root.properties().iterator()
        val b = Map.newBuilder[String, Map[String, (Any, Any)]]
        while (it.hasNext) {
          val e = it.next()
          val cols = parseFileStats(Set.empty, e.getValue)
          if (cols.nonEmpty) b += e.getKey -> cols
        }
        b.result()
      }
    } catch {
      // ranges are an optimization — a corrupt file widens, never fails
      case scala.util.control.NonFatal(_) => Map.empty
    }
  }

  /** One equality-delete file: `rel` (a parquet directory under
    * `deletes/`) holding distinct key tuples over physical columns
    * `cols`, committed at version `seq`. It masks rows only in data
    * files whose recorded sequence is LOWER than `seq` — Iceberg's
    * sequence-number rule, which is what lets a later append re-insert
    * a deleted key. */
  private case class DeleteEntry(rel: String, cols: Seq[String], seq: Int)

  private def readDeleteEntries(name: String, version: Int): Seq[DeleteEntry] = {
    val p = new HPath(tdir(name), f"manifest-$version%06d.deletes")
    if (!fs.exists(p)) return Nil
    val lines = readLines(p)
    val es = lines.flatMap { line =>
      line.split('\t') match {
        case Array(rel, cols, seq) => seq.toIntOption.map(s =>
          DeleteEntry(rel, cols.split(',').toSeq.filter(_.nonEmpty), s))
        case _ => None // corrupt line: fail loudly below, not silently
      }
    }
    if (es.size != lines.size)
      sys.error(s"corrupt delete sidecar for $name@$version — " +
        "refusing a read that could resurrect deleted rows")
    es
  }

  /** Equality-delete sidecars `es`, all keyed on physical columns
    * `pcols`, as one frame of those columns under their CURRENT declared
    * types. The schema is known, so no schema-inference job runs per
    * sidecar, and a sidecar written before a [[widenColumn]] reads
    * widened. `inv` is [[invPhysMap]]. */
  private def readEqSidecars(name: String, es: Seq[DeleteEntry],
      pcols: Seq[String], inv: Map[String, String]): DataFrame = {
    val sch = schema(name)
    spark.read.schema(StructType(pcols.map(p =>
        StructField(p, sch(inv(p)).dataType))))
      .parquet(es.map(e => new HPath(deletesDir(name), e.rel).toString): _*)
  }

  /** The distinct key tuples of equality deletes `es` (see
    * [[readEqSidecars]]), named by their live logical columns. */
  private def eqDeleteKeys(name: String, es: Seq[DeleteEntry],
      pcols: Seq[String], inv: Map[String, String]): DataFrame =
    readEqSidecars(name, es, pcols, inv)
      .select(pcols.map(p => col(s"`$p`").as(inv(p))): _*).distinct()

  /** A deletion-vector sidecar under its fixed schema (no inference). */
  private def readDvSidecar(name: String, e: DeleteEntry): DataFrame =
    spark.read.schema(DeletionVectors.dvSchema)
      .parquet(new HPath(deletesDir(name), e.rel).toString)

  /** Positional entries `posE` as one (file, bitmap) frame: DV sidecars
    * read as-is, legacy pair sidecars fold into bitmaps on the executors
    * first. */
  private def posDvFrame(name: String, posE: Seq[DeleteEntry]): DataFrame =
    posE.map { e =>
      if (e.cols == Seq(TableStore.DvMarker)) readDvSidecar(name, e)
      else DeletionVectors.fromPairsLocal(
        spark.read.parquet(new HPath(deletesDir(name), e.rel).toString)
          .toDF(TableStore.PosFileCol, TableStore.PosIdxCol))
    }.reduce(_ unionByName _)

  /** Per-file sequence numbers, tracked only while deletes are pending;
    * a file absent from the sidecar predates the first pending delete. */
  private def readSeqs(name: String, version: Int): Map[String, Int] = {
    val p = new HPath(tdir(name), f"manifest-$version%06d.seqs")
    if (!fs.exists(p)) Map.empty
    else readLines(p).flatMap { line =>
      line.split('\t') match {
        case Array(rel, seq) => seq.toIntOption.map(rel -> _)
        case _ => None
      }
    }.toMap
  }

  /** Count of pending (un-materialized) merge-on-read delete files. */
  def pendingDeletes(name: String): Int =
    readDeleteEntries(name, currentVersion(name)).size

  // ---- row lineage -----------------------------------------------------------

  /** Whether the table tracks row lineage ([[TableStore.RowIdCol]]).
    * Enable via table property `row-lineage=true` BEFORE the first data
    * commit — files committed earlier have no id range recorded and
    * surface NULL ids. */
  def rowLineage(name: String): Boolean =
    properties(name).get("row-lineage").contains("true")

  private def rowIdsPath(name: String, v: Int): HPath =
    new HPath(tdir(name), f"manifest-$v%06d.rowids")

  /** Lineage sidecar of a snapshot: (next unassigned id, first_row_id
    * per VIRTUAL data file). A live file absent from the map carries
    * its ids as a materialized physical column. */
  private def readRowIds(name: String, version: Int): (Long, Map[String, Long]) = {
    val p = rowIdsPath(name, version)
    if (version == 0 || !fs.exists(p)) return (0L, Map.empty)
    val lines = readLines(p)
    val next = lines.headOption.filter(_.startsWith("#next\t"))
      .flatMap(_.stripPrefix("#next\t").toLongOption).getOrElse(0L)
    val m = lines.drop(1).flatMap { l =>
      l.split('\t') match {
        case Array(rel, f) => f.toLongOption.map(rel -> _)
        case _ => None
      }
    }.toMap
    (next, m)
  }

  /** Virtual lineage-id column: per-file first_row_id lookup plus the
    * scan's row ordinal. The lookup key is the `_metadata.file_path`
    * segment after the LAST `/data/` — which is the sidecar's key
    * verbatim for native relative entries, and the SOURCE-relative
    * tail for snapshot-adopted absolute entries (whose sidecar keys
    * are the absolute manifest spelling, normalized here the same
    * way). Distinct entries colliding on the normalized key would make
    * the lookup ambiguous — fail loud, never serve a wrong id. */
  private def virtualRowId(firsts: Map[String, Long])
      : org.apache.spark.sql.Column = {
    if (firsts.isEmpty) return lit(null).cast(LongType)
    def seg(r: String): String = {
      val i = r.lastIndexOf("/data/")
      if (i >= 0) r.substring(i + "/data/".length) else r
    }
    val keyed = firsts.toSeq.map { case (r, f) => seg(r) -> f }
    require(keyed.map(_._1).distinct.size == keyed.size,
      "row-lineage sidecar entries collide after /data/ normalization " +
        "— cannot resolve virtual row ids unambiguously")
    element_at(
      map(keyed.sortBy(_._1).flatMap { case (r, f) =>
        Seq(lit(r), lit(f)) }: _*),
      element_at(split(col("_metadata.file_path"), "/data/"), -1)) +
      col("_metadata.row_index")
  }

  /** The current snapshot with [[TableStore.RowIdCol]] surfaced — the
    * masked read plus each row's stable lineage id. */
  def readLineage(name: String): DataFrame = {
    require(rowLineage(name),
      s"table $name does not have row-lineage enabled")
    morMasked(name, currentRelPaths(name), currentVersion(name),
      rowIds = true)
  }

  /** Merge-on-read DELETE: writes the key set as an equality-delete file
    * and commits METADATA ONLY — no data file is opened, rewritten, or
    * even listed. Cost is O(|keys|) regardless of table size; reads
    * anti-join pending delete files until [[materializeDeletes]] (or any
    * CoW mutation / [[compact]]) folds them in. At 100 TB this is the
    * difference between a sub-second tombstone commit and rewriting
    * every file the keys touch — the Iceberg v2 equality-delete design
    * (the reference's delete path is copy-on-write via Iceberg's
    * extensions; v2 MoR is the scale-out sibling).
    *
    * NULL semantics: a null key component masks nothing (equality join),
    * matching SQL `WHERE key = v` deletes. Re-inserting a deleted key
    * LATER revives it (sequence-number rule); keys present in the same
    * snapshot stay masked. */
  def deleteMoR(name: String, keys: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "deleteMoR needs at least one key column")
    val sch = schema(name)
    keyCols.foreach(c => require(sch.fieldNames.contains(c),
      s"key column $c not in table $name"))
    val m = physMap(name)
    val pCols = keyCols.map(c => physOf(m, c))
    // distinct, cast to the table's declared key types, physical names;
    // written key-sorted with per-file ranges so the SPJ masked read can
    // skip whole sidecar files per key group
    val rel = writeEqSidecar(name, keys.select(keyCols.map { c =>
      col(c).cast(sch(sch.fieldIndex(c)).dataType).as(physOf(m, c))
    }: _*).distinct(), pCols)
    commitManifest(name, currentVersion(name), Set.empty, Nil, Nil,
      newDeletes = Seq((rel, pCols)))
  }

  /** Snapshot read with pending equality deletes applied. Files are
    * grouped into "mask classes" by how many pending deletes apply to
    * them (those with seq strictly above the file's); each class is one
    * zone-indexed scan anti-joined with exactly its applicable key sets,
    * so a file appended AFTER a delete is never masked by it. With no
    * pending deletes this is the plain indexed read — including its
    * metadata-only aggregate rewrite, which a masked read must NOT take
    * (the anti-join sits between scan and aggregate, so the rule cannot
    * fire on a masked class by construction). */
  private def morMasked(name: String, rels: Seq[String],
      version: Int, rowPos: Boolean = false,
      rowIds: Boolean = false): DataFrame = {
    val entries = readDeleteEntries(name, version)
    // no deletes, or no files: the plain indexed read (an empty `rels`
    // is the empty frame — there are no mask classes to union)
    if (entries.isEmpty || rels.isEmpty)
      return indexedRead(name, rels, version, rowPos, rowIds)
    // position deletes mask by (file, row ordinal) — inherently
    // file-scoped, so the sequence-class machinery below only governs
    // the EQUALITY entries; pos masks apply to the whole union and are
    // no-ops for files their sidecars never name
    val (posE, eqE) = entries.partition(e => TableStore.isPosEntry(e.cols))
    val needPos = posE.nonEmpty || rowPos
    val seqs = readSeqs(name, version)
    val delSeqs = eqE.map(_.seq).distinct.sorted
    val inv = invPhysMap(name) // physical -> live logical name
    eqE.foreach(e => e.cols.foreach(pc =>
      require(inv.contains(pc), s"pending delete on $name keys column " +
        s"$pc which is no longer in the schema")))
    def classOf(r: String): Int = delSeqs.count(_ > seqs.getOrElse(r, 0))
    val eqMasked = rels.groupBy(classOf).toSeq.sortBy(_._1).map { case (c, rs) =>
      val base = indexedRead(name, rs, version, needPos, rowIds)
      if (c == 0) base
      else {
        val applicable = delSeqs.takeRight(c).toSet
        eqE.filter(e => applicable.contains(e.seq))
          .groupBy(_.cols).foldLeft(base) { case (acc, (pcols, es)) =>
            acc.join(eqDeleteKeys(name, es, pcols, inv), pcols.map(inv),
              "left_anti")
          }
      }
    }.reduce(_ unionByName _)
    val posMasked =
      if (posE.isEmpty) eqMasked
      else {
        // normalize both sidecar formats to (file, bitmap): DV entries
        // read as-is, legacy pair entries fold into bitmaps on the
        // executors first. Small masks (by far the common case — DVs
        // compress tombstones to runs) broadcast as a map and filter
        // MAP-SIDE with a DvProbe predicate: no join, no shuffle, the
        // scan's partitioning survives. Oversized masks fall back to
        // exploding into a distributed pair anti-join — correct at any
        // size, just not exchange-free.
        val dvDf = posDvFrame(name, posE)
        val sidecarBytes = posE.map(e =>
          listStatusRec(new HPath(deletesDir(name), e.rel))
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(_.getLen).sum).sum
        if (sidecarBytes <= TableStore.DvBroadcastMaxBytes) {
          val merged = DeletionVectors.mergeDvs(dvDf)
            .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
            .toMap
          val bc = spark.sparkContext.broadcast(merged)
          eqMasked.filter(DeletionVectors.notMaskedColumn(bc,
            col(TableStore.PosFileCol), col(TableStore.PosIdxCol)))
        } else {
          val pairs = DeletionVectors.explodePairs(dvDf)
          eqMasked.join(pairs,
            Seq(TableStore.PosFileCol, TableStore.PosIdxCol), "left_anti")
        }
      }
    // restore the TABLE's column order: a USING-column anti-join moves
    // its join keys to the FRONT of the output, so an equality delete
    // keyed on a non-first column silently reordered the masked frame —
    // harmless to name-bound readers but fatal to POSITIONAL consumers
    // (the streaming source maps batch attributes to the source schema
    // by position). Caught by st_table_source_mor's oracle in round 9.
    val tail =
      (if (rowIds) Seq(TableStore.RowIdCol) else Nil) ++
        (if (rowPos) Seq(TableStore.PosFileCol, TableStore.PosIdxCol)
         else Nil)
    val outCols = schema(name).fieldNames.toSeq ++ tail
    val result =
      if (rowPos) posMasked
      else if (needPos)
        posMasked.drop(TableStore.PosFileCol, TableStore.PosIdxCol)
      else posMasked
    result.select(outCols.map(c => col(s"`$c`")): _*)
  }

  /** Position-delete: record the (file, row ordinal) of every row
    * matching `cond` as a positional delete sidecar and commit METADATA
    * ONLY — the second merge-on-read flavor (Iceberg's position delete
    * files). Cheaper than equality deletes when rows are identified by
    * predicate rather than key (no key columns needed, and masking is an
    * exact file-scoped anti-join instead of key comparisons). The scan
    * that finds ordinals is zone/bloom-pruned like any read; rows
    * already masked by PENDING deletes are never re-recorded. A later
    * append is untouched by construction — its file is named in no
    * sidecar. */
  def deletePos(name: String, cond: Column): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    if (rels.isEmpty) return
    val hits = morMasked(name, rels, base, rowPos = true)
      .filter(cond)
      .select(col(TableStore.PosFileCol), col(TableStore.PosIdxCol))
    val rel = s"dv-${java.util.UUID.randomUUID()}"
    // a predicate matching nothing must not commit (or mask with) an
    // empty sidecar — writeDvSidecar reports it from the footer counts
    if (!writeDvSidecar(name, rel, hits)) return
    commitManifest(name, base, Set.empty, Nil, Nil,
      newDeletes = Seq((rel, Seq(TableStore.DvMarker))))
  }

  /** Write positional `hits` as a DV sidecar at `deletes/<rel>` with the
    * NO-SHUFFLE per-task fold ([[DeletionVectors.fromPairsLocal]]) —
    * the adaptive small-commit path: fromPairs' clustering shuffle per
    * positional commit regressed every small-commit MoR lifecycle 2-3×
    * (round-9 verdict) for zero benefit at that scale. Returns false
    * (and removes the directory) when nothing matched. A delete spread
    * over many tasks leaves task-level duplicate rows per file; when
    * duplication is material, ONE [[DeletionVectors.mergeDvs]] pass
    * over the written sidecar compacts it — a shuffle of BITMAP rows
    * (≤ tasks × touched files), never of the raw tombstones. */
  private[tables] def writeDvSidecar(name: String, rel: String,
      hits: DataFrame): Boolean = {
    val out = new HPath(deletesDir(name), rel)
    DeletionVectors.fromPairsLocal(hits).write.parquet(out.toString)
    val counts = listStatusRec(out)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => footerRowCount(st.getPath))
    if (!counts.exists(c => !c.contains(0L))) { fs.delete(out, true); return false }
    val rows = counts.flatten.sum
    if (counts.forall(_.isDefined) && rows > TableStore.DvCompactRowThreshold) {
      // compact only when duplication is real — a wide but duplicate-free
      // sidecar gains nothing from a rewrite
      val nFiles = spark.read.schema(DeletionVectors.dvSchema)
        .parquet(out.toString)
        .select(TableStore.PosFileCol).distinct().count()
      if (rows > nFiles + nFiles / 2) {
        val tmp = new HPath(deletesDir(name), s"$rel-compact")
        DeletionVectors.mergeDvs(
            spark.read.schema(DeletionVectors.dvSchema).parquet(out.toString))
          .write.parquet(tmp.toString)
        fs.delete(out, true)
        require(fs.rename(tmp, out),
          s"DV sidecar compaction rename failed for $name/$rel")
      }
    }
    true
  }

  /** Legacy pair-format positional delete — kept ONLY so specs can pin
    * that readers and maintenance still handle (and upgrade) sidecars
    * written before the deletion-vector format landed. */
  private[tables] def deletePosLegacyPairs(name: String, cond: Column): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    if (rels.isEmpty) return
    val hits = morMasked(name, rels, base, rowPos = true)
      .filter(cond)
      .select(col(TableStore.PosFileCol), col(TableStore.PosIdxCol))
    val rel = s"pos-${java.util.UUID.randomUUID()}"
    val out = new HPath(deletesDir(name), rel)
    hits.write.parquet(out.toString)
    val wrote = listStatusRec(out)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .exists(st => !footerRowCount(st.getPath).contains(0L))
    if (!wrote) { fs.delete(out, true); return }
    commitManifest(name, base, Set.empty, Nil, Nil,
      newDeletes = Seq((rel, Seq(TableStore.PosMarker))))
  }

  /** Merge-on-read UPDATE: ONE atomic commit carrying (a) a positional
    * delete sidecar for every row matching `cond` and (b) appended data
    * files holding those rows with `sets` applied — no existing data
    * file rewritten (Iceberg's MoR update shape). The appended files are
    * untouched by the sidecar by construction (position masks are
    * file-scoped), and because the matched rows come from the MASKED
    * read, rows hidden by pending deletes are never resurrected. Cost is
    * one filtered scan plus a write of exactly the updated rows — on a
    * 100 TB table an update touching 0.1% of rows writes 0.1% of the
    * data instead of rewriting every touched file. */
  def updateMoR(name: String, cond: Column, sets: Map[String, Column]): Unit = {
    require(sets.nonEmpty, "updateMoR needs at least one SET column")
    val sch = schema(name)
    sets.keys.foreach(c => require(sch.fieldNames.contains(c),
      s"SET column $c not in table $name"))
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    if (rels.isEmpty) return
    val lineage = rowLineage(name)
    val hits = morMasked(name, rels, base, rowPos = true, rowIds = lineage)
      .filter(cond).persist()
    try {
      if (hits.isEmpty) return
      val rel = s"dv-${java.util.UUID.randomUUID()}"
      writeDvSidecar(name, rel,
        hits.select(col(TableStore.PosFileCol), col(TableStore.PosIdxCol)))
      // an updated row keeps its lineage id into its appended file
      val keepCols = sch.fieldNames.toSeq ++
        (if (lineage) Seq(TableStore.RowIdCol) else Nil)
      val updated = sets.foldLeft(
        hits.drop(TableStore.PosFileCol, TableStore.PosIdxCol)) {
        case (df, (c, e)) =>
          df.withColumn(c, e.cast(sch(sch.fieldIndex(c)).dataType))
      }.select(keepCols.map(c => col(s"`$c`")): _*)
      val newFiles = writeDataFiles(name,
        alignTo(name, sch, updated, keepRowId = lineage))
      commitManifest(name, base, Set.empty, newFiles, newFiles,
        meta = Map("operation" -> "update-mor"),
        newDeletes = Seq((rel, Seq(TableStore.DvMarker))),
        idAdds = if (lineage) newFiles.toSet else Set.empty)
    } finally { hits.unpersist(); () }
  }

  /** Folds every pending equality delete into the data files: rewrites
    * only files that (a) have an applicable delete and (b) survive
    * zone/bloom pruning against the delete keys, then commits ONE
    * snapshot with all delete sidecars dropped. Untouched files are
    * provably clean: either no delete applies to them (sequence rule)
    * or pruning proved their key ranges disjoint. */
  def materializeDeletes(name: String): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val entries = readDeleteEntries(name, base)
    if (entries.isEmpty) return
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val (posE, eqE) = entries.partition(e => TableStore.isPosEntry(e.cols))
    val seqs = readSeqs(name, base)
    val delSeqs = eqE.map(_.seq).distinct.sorted
    val inv = invPhysMap(name)
    def classOf(r: String): Int = delSeqs.count(_ > seqs.getOrElse(r, 0))
    // candidate files for EQUALITY entries: per class, zone/bloom/bucket
    // pruning against the key sets — a file whose stats prove it holds
    // none of the keys keeps its bytes
    val eqCandidates: Set[String] =
      rels.groupBy(classOf).toSeq.flatMap { case (c, rs) =>
        if (c == 0) Nil
        else {
          val applicable = delSeqs.takeRight(c).toSet
          eqE.filter(e => applicable.contains(e.seq))
            .groupBy(_.cols).flatMap { case (pcols, es) =>
              pruneByKeys(name, rs, eqDeleteKeys(name, es, pcols, inv),
                pcols.map(inv), base)
            }
        }
      }.toSet
    // candidate files for POSITION entries: exactly the files their
    // sidecars name (still live) — no scan needed to find them
    val posCandidates: Set[String] =
      if (posE.isEmpty) Set.empty
      else {
        // project the file column BEFORE the union: pair and DV sidecars
        // share only that column (and it is all this listing needs —
        // column pruning skips the bitmap/ordinal bytes entirely)
        val named = posE.map(e =>
            (if (e.cols == Seq(TableStore.DvMarker)) readDvSidecar(name, e)
             else spark.read.parquet(
               new HPath(deletesDir(name), e.rel).toString))
            .select(col(col0Name(posE)).as("f")))
          .reduce(_ unionByName _).distinct()
          .collect().map(_.getString(0)).toSet
        rels.filter(named.contains).toSet
      }
    val candidates = eqCandidates ++ posCandidates
    val lineage = rowLineage(name)
    val rewritten =
      if (candidates.isEmpty) Nil
      else {
        // rewrite candidates with their fully-masked content — the
        // masked read itself applies exactly the right deletes per
        // sequence class, so a file touched by BOTH kinds is rewritten
        // once with both applied (row ids materialize under lineage)
        val survivors = morMasked(name, candidates.toSeq.sorted, base,
          rowIds = lineage)
        writeDataFiles(name, survivors)
      }
    commitManifest(name, base, candidates, rewritten, Nil,
      dropDeletes = true,
      idAdds = if (lineage) rewritten.toSet else Set.empty)
  }

  /** Policy-driven delete maintenance: ACT on the `t.deletes` signal
    * instead of leaving the thresholds to an operator. The two-level
    * policy mirrors how the costs scale —
    *
    *  - pending sidecar BYTES above `maxBytes` (default: half the
    *    [[TableStore.SpjMaskMaxBytes]] per-task mask budget) mean masked
    *    reads are approaching the SPJ fallback cliff: FOLD the deletes
    *    into data files ([[materializeDeletes]] — rewrites only the
    *    files the sidecars touch) and restore full headroom;
    *  - otherwise, ENTRY COUNT above `maxEntries` just taxes every read
    *    with a sidecar open per entry: MERGE the sidecars
    *    ([[rewriteDeletes]] — metadata-level, no data file touched);
    *  - below both thresholds, do nothing.
    *
    * Returns (action ∈ none|rewrite|materialize, entries before,
    * entries after). Idempotent: a second call right after reports
    * `none`. The SQL surface is `CALL <cat>.system.maintain_deletes`. */
  def maintainDeletes(name: String, maxEntries: Int = 8,
      maxBytes: Long = TableStore.SpjMaskMaxBytes / 2): (String, Int, Int) = {
    require(maxEntries > 0 && maxBytes > 0,
      "maintain_deletes thresholds must be positive")
    val entries = readDeleteEntries(name, currentVersion(name))
    if (entries.isEmpty) return ("none", 0, 0)
    val bytes = entries.map(e =>
      listStatusRec(new HPath(deletesDir(name), e.rel))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum).sum
    if (bytes > maxBytes) {
      val before = entries.size
      materializeDeletes(name)
      ("materialize", before, pendingDeletes(name))
    } else if (entries.size > maxEntries) {
      val (b, a) = rewriteDeletes(name)
      if (a < b) ("rewrite", b, a)
      else {
        // un-mergeable under the sequence rule — the CDC shape: applyNet
        // interleaves an APPEND with every tombstone, so every run is a
        // singleton and a sidecar merge can relieve nothing. The only
        // remaining pressure valve is the fold; without this escalation
        // a resident ingest stream would re-trigger a no-op rewrite on
        // every batch forever while entries keep growing.
        materializeDeletes(name)
        ("materialize", b, pendingDeletes(name))
      }
    } else ("none", entries.size, entries.size)
  }

  /** Incremental delete-sidecar compaction (the
    * `rewrite_position_delete_files` analogue): merges many small
    * pending sidecars into fewer WITHOUT touching any data file.
    * Update-heavy merge-on-read tables accumulate one sidecar per
    * commit, and every masked read pays per entry (a sidecar open plus
    * a per-class anti-join), so folding them keeps read cost flat
    * between full [[materializeDeletes]] runs — which rewrite data
    * files and are the expensive maintenance step this one defers.
    *
    * Position sidecars all merge into one (their masks are file-scoped
    * and sequence-independent). Equality sidecars merge per key-column
    * set, but ONLY within runs of commit sequences with no live data
    * file sequence in between: merging across such a file would raise
    * the earlier keys' sequence past it and newly mask rows appended
    * between the two deletes (the re-insert rule). The commit carries
    * the same data-file list and replaces only the entry list, seqs
    * preserved. Returns (entries before, entries after). */
  def rewriteDeletes(name: String): (Int, Int) = {
    val base = currentVersion(name)
    val entries = readDeleteEntries(name, base)
    // a lone legacy pair-format positional entry still rewrites (the
    // format upgrade to a deletion vector); anything else lone is final
    if (entries.isEmpty ||
        (entries.size == 1 && entries.head.cols != Seq(TableStore.PosMarker)))
      return (entries.size, entries.size)
    val (posE, eqE) = entries.partition(e => TableStore.isPosEntry(e.cols))
    val fileSeqs = readSeqs(name, base).values.toSet
    val inv = invPhysMap(name)
    def writeSidecar(df: DataFrame, prefix: String): String = {
      val rel = s"$prefix-${java.util.UUID.randomUUID()}"
      df.write.parquet(new HPath(deletesDir(name), rel).toString)
      rel
    }
    // positional entries merge into ONE deletion-vector sidecar; a lone
    // legacy pair entry also rewrites — compaction is the format-upgrade
    // point (bitmaps OR per file, file-scoped and sequence-independent)
    val newPos =
      if (posE.isEmpty ||
          (posE.size == 1 && posE.head.cols == Seq(TableStore.DvMarker)))
        posE
      else {
        Seq(DeleteEntry(writeSidecar(
            DeletionVectors.mergeDvs(posDvFrame(name, posE)), "dv"),
          Seq(TableStore.DvMarker), posE.map(_.seq).max))
      }
    val newEq = eqE.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
      .flatMap { case (cols, es0) =>
        val es = es0.sortBy(_.seq)
        // maximal runs with no live file sequence between consecutive
        // entry sequences (sidecars may predate a later type widening —
        // readEqSidecars reads every key column under its CURRENT type)
        val runs = es.foldLeft(Vector.empty[Vector[DeleteEntry]]) { (acc, e) =>
          acc.lastOption match {
            case Some(run)
                if !fileSeqs.exists(f => f >= run.last.seq && f < e.seq) =>
              acc.init :+ (run :+ e)
            case _ => acc :+ Vector(e)
          }
        }
        runs.map { run =>
          if (run.size == 1) run.head
          else {
            val merged = readEqSidecars(name, run, cols, inv).distinct()
            // merged sidecars re-sort and re-range: compaction is also
            // the upgrade point for pre-range sidecars
            DeleteEntry(writeEqSidecar(name, merged, cols), cols,
              run.last.seq)
          }
        }
      }
    val next = (newPos ++ newEq).sortBy(e => (e.seq, e.rel))
    if (next.toSet == entries.toSet) return (entries.size, entries.size)
    commitManifest(name, base, Set.empty, Nil, Nil,
      meta = Map("operation" -> "rewrite-deletes"),
      replaceDeletes = Some(next))
    (entries.size, next.size)
  }

  /** First column name of a positional sidecar (written as
    * (PosFileCol, PosIdxCol); tolerated by name for forward compat). */
  private def col0Name(posE: Seq[DeleteEntry]): String = TableStore.PosFileCol

  /** Net CDC application in ONE snapshot commit: drop every row whose key
    * appears in `keys`, then add `newRows` — the atomic replacement for the
    * reference's non-atomic delete-then-insert update
    * (SparkDestinationStream.java:110-114; README.md:74-77).
    * `distinctKeyCount`: the number of rows of `keys` when the caller
    * knows them to be distinct key tuples (a net CDC batch is) — the
    * commit then skips de-duplicating and counting them. */
  def applyNet(name: String, keys: DataFrame, newRows: DataFrame,
      keyCols: Seq[String], meta: Map[String, String] = Map.empty,
      distinctKeyCount: Option[Long] = None): Unit = {
    def distinct(df: DataFrame) =
      if (distinctKeyCount.isDefined) df else df.distinct()
    // `write.merge.mode=merge-on-read`: the CDC tombstone pattern at
    // scale — ONE commit carrying an equality-delete sidecar over the
    // touched keys plus the appended upserts, no data file rewritten.
    // The sidecar and the appended files share the commit's sequence, so
    // the mask applies to every OLDER file and never to the upserts
    // themselves (strict seq comparison); pending deletes stay pending
    // (masked reads fold them; compaction materializes). A copy-on-write
    // apply rewrites every file a batch key touches — on a 100 TB table
    // a scattered 1k-key batch rewrites thousands of files for a few
    // thousand rows, which is exactly what this mode avoids.
    if (properties(name).get("write.merge.mode").contains("merge-on-read")) {
      val sch = schema(name)
      val m = physMap(name)
      val rel = writeEqSidecar(name, distinct(keys.select(keyCols.map { c =>
        col(c).cast(sch(sch.fieldIndex(c)).dataType).as(physOf(m, c))
      }: _*)), keyCols.map(c => physOf(m, c)), knownCount = distinctKeyCount)
      val appended = writeDataFiles(name, alignTo(name, sch, newRows))
      commitManifest(name, currentVersion(name), Set.empty, appended,
        appended, meta = meta,
        newDeletes = Seq((rel, keyCols.map(c => physOf(m, c)))))
      return
    }
    materializeDeletes(name) // see delete(): rewrites start from a clean table
    val lineage = rowLineage(name)
    val sch = schema(name)
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val distinctKeys = distinct(keys.select(keyCols.map(col): _*))
    var removed = Set.empty[String]
    var rewritten = Seq.empty[String]
    if (rels.nonEmpty) {
      // Stage 1 — metadata pruning: zone maps discard files whose key
      // RANGE cannot intersect the batch (clustered layouts); blooms then
      // discard survivors that provably hold NONE of the batch's keys
      // (any layout — the random-key CDC case zone maps can't touch).
      // Manifest + sidecar reads only, no data file opened.
      val candidates = pruneByKeys(name, rels, distinctKeys, keyCols, base)
      if (candidates.nonEmpty) {
        val candidatePaths = candidates.map(r => new HPath(dataDir(name), r).toString)
        // Stage 2 — exact pruning: a semi join over the candidates marks
        // the files that truly hold affected keys. input_file_name() MUST
        // be projected in the scan stage, BEFORE the join: after a
        // non-broadcast (shuffled) join it evaluates in a post-shuffle
        // stage and returns "", which would silently mark nothing affected.
        // Each task de-duplicates its own file names (a handful): one
        // job, no exchange.
        val str = org.apache.spark.sql.Encoders.STRING
        val affected = readFiles(name, candidatePaths)
          .withColumn("__file", input_file_name())
          .join(distinctKeys, keyCols, "left_semi")
          .select(col("__file")).as(str)
          .mapPartitions(_.toSet.iterator)(str)
          .collect().map(fileName).toSet
        if (affected.nonEmpty) {
          val affectedPaths = candidatePaths.filter(p => affected.contains(fileName(p)))
          val survivors = readFiles(name, affectedPaths,
            rowIdsAt = if (lineage) Some(base) else None)
            .join(distinctKeys, keyCols, "left_anti")
          rewritten = writeDataFiles(name, survivors)
          removed = rels.filter(r => affected.contains(fileName(r))).toSet
        }
      }
    }
    // under lineage, newRows may MIX carried rows (merge's rebuilt
    // matches, id attached) and fresh rows (inserts, id null/absent):
    // carried rows materialize their ids into their own files, fresh
    // rows stay virtual and get a commit-assigned range
    val (appended, carriedAdds) =
      if (!lineage || !newRows.columns.contains(TableStore.RowIdCol)) {
        (writeDataFiles(name, alignTo(name, sch, newRows)), Set.empty[String])
      } else {
        val aligned = alignTo(name, sch, newRows, keepRowId = true)
        val carried = writeDataFiles(name,
          aligned.filter(col(TableStore.RowIdCol).isNotNull))
        val fresh = writeDataFiles(name,
          aligned.filter(col(TableStore.RowIdCol).isNull)
            .drop(TableStore.RowIdCol))
        (carried ++ fresh, carried.toSet)
      }
    commitManifest(name, base, removed, rewritten ++ appended, appended,
      meta = meta,
      idAdds = if (lineage) rewritten.toSet ++ carriedAdds else Set.empty)
  }

  /** Zone- AND bloom-pruned candidate files for a key batch — exposed for
    * tests and for callers that want to observe skipping behavior. */
  def candidateFilesForKeys(name: String, keys: DataFrame,
      keyCols: Seq[String]): Seq[String] = {
    pruneByKeys(name, currentRelPaths(name),
      keys.select(keyCols.map(col): _*).distinct(), keyCols,
      currentVersion(name))
  }

  /** Files among `rels` that may hold a tuple of `distinctKeys` (over
    * logical `keyCols`): zone, then bucket-directory, then bloom
    * pruning against `version`'s metadata, each failing open. */
  private def pruneByKeys(name: String, rels: Seq[String],
      distinctKeys: DataFrame, keyCols: Seq[String],
      version: Int): Seq[String] =
    pruneByBlooms(name,
      pruneByBucketDirs(name,
        pruneByZones(name, rels, keyBounds(name, distinctKeys, keyCols),
          version),
        distinctKeys, keyCols),
      distinctKeys, keyCols, version)

  // ---- metadata-only aggregates -------------------------------------------

  /** Exact row count WITHOUT scanning data — summed from the snapshot's
    * per-file counts (recorded at write time; rewrites recompute, so the
    * sum tracks deletes/compactions exactly). `None` when any current
    * file predates count recording — the caller falls back to a real
    * count. At 100 TB this is the Iceberg-manifest trick that answers
    * `SELECT count(*)` from one metadata file. */
  def rowCount(name: String): Option[Long] = {
    // pending MoR deletes make per-file counts upper bounds, not exact
    if (pendingDeletes(name) > 0) return None
    val rels = currentRelPaths(name)
    if (rels.isEmpty) return Some(0L)
    val rows = readConsolidated(name, currentVersion(name))
      .map(_.rows).getOrElse(Map.empty)
    val counts = rels.map(rows.get)
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Exact global (min, max) of a ZONE column without scanning data —
    * folded over the snapshot's per-file bounds. `None` when any current
    * file lacks a recorded bound for the column (legacy file, or an
    * all-NaN/all-null file whose bound was recorded as unusable) — the
    * caller falls back to a real aggregate. NULL SEMANTICS: file bounds
    * are `min`/`max` aggregates, which ignore nulls, so the result
    * matches SQL `min(col)`/`max(col)`; a column that is entirely null
    * in some file simply has no bound there → None → fallback. */
  def columnRange(name: String, colName: String): Option[(Any, Any)] = {
    val pc = physOf(physMap(name), colName)
    require(zoneCols(name).contains(pc),
      s"$colName is not a zone column of table $name")
    // a pending MoR delete may have masked the extreme row
    if (pendingDeletes(name) > 0) return None
    val rels = currentRelPaths(name)
    if (rels.isEmpty) return None
    val stats = loadZoneStats(name, rels, currentVersion(name))
    val bounds = rels.map(r => stats.get(r).flatMap(_.get(pc)))
    if (bounds.exists(_.isEmpty)) return None
    val all = bounds.flatten
    // Option-threaded fold, like indexedRead's colBounds: a NON-COMPARABLE
    // pair (corrupt mixed-type stats entry) must yield None — falling back
    // to a real scan — never silently pick one side as the extreme and
    // return a wrong metadata min/max
    def extreme(vs: Seq[Any], wantMin: Boolean): Option[Any] =
      vs.map(Option(_): Option[Any]).reduceLeft { (ao, bo) =>
        for (a <- ao; b <- bo; c <- ZoneStats.cmp(a, b))
          yield if ((c <= 0) == wantMin) a else b
      }
    for {
      lo <- extreme(all.map(_._1), wantMin = true)
      hi <- extreme(all.map(_._2), wantMin = false)
    } yield (lo, hi)
  }

  /** Plan-time per-column statistics of the CURRENT snapshot, keyed by
    * LOGICAL top-level column name — the CBO face of the metadata layer
    * (Iceberg's puffin-NDV + manifest-bounds idea): distinctCount from
    * the table-level HLL union, nullCount from the per-file null
    * ledger, min/max from the zone-bound fold. Each piece is emitted
    * independently and only when PROVABLE from complete metadata; the
    * map is empty under pending MoR deletes (masked rows would make
    * every number an unlabeled upper bound). NDV after a delete is a
    * documented upper bound — removed files' contributions cannot be
    * subtracted from a union — which is the conservative direction for
    * join-size estimation. */
  private[tables] def columnStatsFor(name: String)
      : Map[String, TableStore.ColStats] = {
    if (pendingDeletes(name) > 0) return Map.empty
    val rels = currentRelPaths(name)
    val cons = readConsolidated(name, currentVersion(name))
      .getOrElse(return Map.empty)
    val m = physMap(name)
    val zc = zoneCols(name)
    schema(name).fields.iterator.flatMap { f =>
      val pc = physOf(m, f.name)
      if (!zc.contains(pc)) None
      else {
        val ndv = cons.ndv.get(pc).flatMap { b64 =>
          try Some(math.round(org.apache.datasketches.hll.HllSketch
            .heapify(java.util.Base64.getDecoder.decode(b64)).getEstimate))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        val nulls =
          if (rels.isEmpty) Some(0L)
          else if (rels.forall(r => cons.nulls.get(r).exists(_.contains(pc))))
            Some(rels.iterator.map(r => cons.nulls(r)(pc)).sum)
          else None
        val bounds = columnRange(name, f.name)
        if (ndv.isEmpty && nulls.isEmpty && bounds.isEmpty) None
        else Some(f.name -> TableStore.ColStats(f.dataType, ndv, nulls, bounds))
      }
    }.toMap
  }

  // ---- limit / top-n file pruning (DSv2 pushdown) --------------------------

  private def recordPrune(total: Int)(r: Option[Seq[String]]): Option[Seq[String]] = {
    TableStore.lastLimitPrune = r.map(keep => (total, keep.size))
    r
  }

  /** Smallest-cardinality subset of the current snapshot's files whose
    * recorded row counts sum to at least `n` — the planning-side answer
    * to `LIMIT n`: a limit-10 over a million-file table should schedule
    * a handful of splits, not a million. `None` = ineligible (pending
    * MoR deletes make counts upper bounds; a file with no recorded
    * count could be empty, so the subset's floor would be unknown).
    * Partial-pushdown contract: Spark keeps its own Limit on top, so
    * the subset only has to GUARANTEE ≥ n rows, never exactness. */
  private[tables] def limitRels(name: String, n: Int): Option[Seq[String]] =
    recordPrune(currentRelPaths(name).size)(limitRels0(name, n))

  private def limitRels0(name: String, n: Int): Option[Seq[String]] = {
    if (pendingDeletes(name) > 0) return None
    val rels = currentRelPaths(name)
    if (rels.isEmpty || n <= 0) return Some(rels.take(0))
    val rows = readConsolidated(name, currentVersion(name))
      .map(_.rows).getOrElse(Map.empty[String, Long])
    if (!rels.forall(rows.contains)) return None
    // fullest files first: fewest scheduled tasks for the same guarantee
    val sorted = rels.sortBy(r => (-rows(r), r))
    var acc = 0L
    val keep = Seq.newBuilder[String]
    val it = sorted.iterator
    while (acc < n && it.hasNext) {
      val r = it.next(); keep += r; acc += rows(r)
    }
    if (acc >= n) Some(keep.result()) else Some(rels) // table smaller than n
  }

  /** Files that can possibly contribute a row of `ORDER BY col
    * [ASC|DESC] [NULLS FIRST|LAST] LIMIT n` over the current snapshot,
    * decided from per-file zone bounds plus the per-file NULL ledger
    * (min/max aggregates ignore nulls, so without null counts a
    * nulls-first ordering could prune a file whose nulls belong in the
    * top n). A file is dropped only when ≥ n rows PROVABLY order
    * strictly before its every row — sound under multi-column sorts
    * when `col` is the leading key, because a strict leading-column
    * win is a strict full-tuple win. `None` = ineligible: not a zone
    * column, pending MoR deletes, a file missing counts/ledger, or
    * unbounded files holding too much mass to establish a threshold. */
  private[tables] def topNRels(name: String, colName: String, asc: Boolean,
      nullsFirst: Boolean, n: Int): Option[Seq[String]] =
    recordPrune(currentRelPaths(name).size)(
      topNRels0(name, colName, asc, nullsFirst, n))

  private def topNRels0(name: String, colName: String, asc: Boolean,
      nullsFirst: Boolean, n: Int): Option[Seq[String]] = {
    val pc = physOf(physMap(name), colName)
    if (!zoneCols(name).contains(pc)) return None
    if (pendingDeletes(name) > 0) return None
    val rels = currentRelPaths(name)
    if (rels.isEmpty || n <= 0) return Some(rels.take(0))
    val cons = readConsolidated(name, currentVersion(name)).getOrElse(return None)
    // per-file ledger: (rows, nulls(col), bounds(col) — absent = the
    // file's non-null values have no usable bound: all-null, NaN, legacy)
    final case class E(rel: String, rows: Long, nulls: Long,
        bounds: Option[(Any, Any)]) {
      def nonnull: Long = rows - nulls
    }
    val entries = rels.map { r =>
      for {
        rows <- cons.rows.get(r)
        nulls <- cons.nulls.get(r).flatMap(_.get(pc))
        if nulls >= 0 && nulls <= rows
      } yield E(r, rows, nulls, cons.stats.get(r).flatMap(_.get(pc)))
    }
    if (entries.exists(_.isEmpty)) return None
    val es = entries.flatten
    val totalNulls = es.map(_.nulls).sum
    if (nullsFirst && totalNulls >= n)
      return Some(es.filter(_.nulls > 0).map(_.rel))
    val remaining = if (nullsFirst) n - totalNulls else n.toLong
    // leading/tailing bound of a file in SORT order: asc reads min→max
    def lead(b: (Any, Any)): Any = if (asc) b._1 else b._2
    def tail(b: (Any, Any)): Any = if (asc) b._2 else b._1
    def dirCmp(a: Any, b: Any): Option[Int] =
      ZoneStats.cmp(a, b).map(c => if (asc) c else -c)
    // threshold prefix: bounded files ordered by their LAST value; a
    // non-comparable pair (corrupt mixed-type stats) aborts the whole
    // attempt rather than risking a wrong order
    val bounded = es.filter(e => e.nonnull > 0 && e.bounds.isDefined)
    if (bounded.map(_.nonnull).sum < remaining) return None
    val sorted =
      try bounded.sortWith { (x, y) =>
        dirCmp(tail(x.bounds.get), tail(y.bounds.get))
          .getOrElse(throw new IllegalStateException("incomparable")) < 0
      } catch { case _: IllegalStateException => return None }
    var acc = 0L
    var threshold: Any = null
    val it = sorted.iterator
    while (acc < remaining && it.hasNext) {
      val e = it.next(); acc += e.nonnull; threshold = tail(e.bounds.get)
    }
    // keep: null contributors (when nulls lead), unbounded non-null
    // files (unknown = candidate), and files whose first value does not
    // order strictly after the threshold
    val keepSet = es.iterator.filter { e =>
      (nullsFirst && e.nulls > 0) ||
        (e.nonnull > 0 && (e.bounds.isEmpty ||
          dirCmp(lead(e.bounds.get), threshold).forall(_ <= 0)))
    }.map(_.rel).toSet
    Some(rels.filter(keepSet))
  }

  /** Read a specific subset of the current snapshot's files — the scan
    * face of [[limitRels]]/[[topNRels]] (same masking path as a full
    * read, so a future MoR interaction fails safe rather than silently
    * unmasked — today both pruners decline when deletes are pending). */
  private[tables] def readRels(name: String, rels: Seq[String]): DataFrame =
    morMasked(name, rels, currentVersion(name))

  /** Drop candidate files whose blooms PROVE they hold none of the key
    * batch's tuples. Zone maps only help when files are clustered on the
    * key; a CDC batch of RANDOM keys on an unclustered table zone-prunes
    * nothing — blooms prune per file regardless of layout. Driver-side:
    * key tuples are collected (bounded by [[TableStore.BloomProbeMaxKeys]];
    * larger batches skip probing — they touch most files anyway), each
    * candidate file loads its bloom sidecars lazily. A file survives if
    * SOME tuple hits ALL of its bloom'd key columns; missing/corrupt
    * sidecars and non-bloom'd columns count as hits (fail open). */
  private def pruneByBlooms(name: String, rels: Seq[String],
      distinctKeys: DataFrame, keyCols: Seq[String],
      version: Int): Seq[String] = {
    if (rels.isEmpty) return rels
    val bc = bloomCols(name)
    if (bc.isEmpty) return rels
    val m = physMap(name)
    val probed = keyCols.filter(c => bc.contains(physOf(m, c)))
    if (probed.isEmpty) return rels
    // distinct AFTER projecting to the probed subset: the cap guards the
    // driver-side probe loop, whose cost is distinct PROBED tuples — a
    // batch with many distinct composite keys but few distinct probed
    // values must not skip pruning, and duplicate projected tuples must
    // not inflate the loop
    val tuples = distinctKeys.select(probed.map(col): _*).distinct()
      .limit(TableStore.BloomProbeMaxKeys + 1).collect()
    if (tuples.isEmpty || tuples.length > TableStore.BloomProbeMaxKeys) return rels
    // normalize to the probe domain; a tuple with a null key component
    // never equality-matches any row and cannot make a file necessary
    val probeTuples: Seq[Seq[Any]] = tuples.toSeq.flatMap { row =>
      val vs = probed.indices.map { i =>
        row.get(i) match {
          case null       => null
          case l: Long    => l
          case i2: Int    => i2.toLong
          case s: Short   => s.toLong
          case b: Byte    => b.toLong
          case s: String  => s
          case _          => TableStore.Unprobeable
        }
      }
      if (vs.contains(null)) None else Some(vs)
    }
    if (probeTuples.isEmpty) return Nil // every tuple had a null key part
    if (probeTuples.exists(_.contains(TableStore.Unprobeable))) return rels
    def hits(b: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean =
      v match {
        case l: Long   => b.mightContainLong(l)
        case s: String => b.mightContainString(s)
        case _         => true
      }
    // Stage 0 — SNAPSHOT ROLL-UP: one union bloom per column over the
    // whole snapshot (written at commit), consulted BEFORE any per-file
    // sidecar. A tuple missing in a roll-up cannot exist in ANY file, so
    // a fully-absent key batch (the common "is this key anywhere?" CDC
    // probe) costs ONE read per column and ZERO per-file loads — at
    // 100 TB with weak zone pruning the per-file alternative is
    // O(surviving files) small reads per query. Roll-ups are supersets
    // (deletes only ever leave stale bits), so this stage never drops a
    // file it shouldn't; absent roll-up (legacy history) = skip stage.
    val rollups: Map[String, org.apache.spark.util.sketch.BloomFilter] =
      probed.flatMap { c =>
        val pc = physOf(m, c)
        loadRollupBloom(name, version, pc).map(pc -> _)
      }.toMap
    val liveTuples = probeTuples.filter { t =>
      probed.zipWithIndex.forall { case (c, i) =>
        rollups.get(physOf(m, c)).forall(b => hits(b, t(i)))
      }
    }
    if (liveTuples.isEmpty) return Nil
    val cache = scala.collection.mutable.Map
      .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
    def bloomOf(rel: String, pc: String) =
      cache.getOrElseUpdate((rel, pc), loadBloom(name, rel, pc))
    rels.filter { rel =>
      liveTuples.exists { t =>
        probed.zipWithIndex.forall { case (c, i) =>
          bloomOf(rel, physOf(m, c)) match {
            case None => true // no sidecar — keep (fail open)
            case Some(b) => hits(b, t(i))
          }
        }
      }
    }
  }

  /** Upsert = applyNet keyed by the new rows themselves. */
  def upsert(name: String, rows: DataFrame, keyCols: Seq[String]): Unit =
    applyNet(name, rows, rows, keyCols)

  /** SQL-MERGE-shaped partial update: for each source row whose key
    * matches a target row, replace ONLY `updateCols` (every other column
    * keeps the target's value — the partial-update semantics `upsert`
    * cannot express); unmatched source rows insert when
    * `insertUnmatched` (then the source must carry the full row;
    * otherwise keys + updateCols suffice). One atomic snapshot commit,
    * like every mutation here.
    *
    * Scale shape: the matched-row rebuild joins the source against ONLY
    * the zone/bloom-pruned candidate files ([[candidateFilesForKeys]]),
    * and the unmatched-insert anti-join runs against those same
    * candidates — exact, because any source key present in the table
    * lives in a candidate file (pruning is fail-open). Cost is bounded
    * by the touched files, never the table.
    *
    * `deleteWhen` is the `WHEN MATCHED [AND cond] THEN DELETE` clause
    * (Iceberg MERGE ships it, inherited by the reference via
    * SparkUtils.java:45 extensions; tombstone-bearing CDC flows need it):
    * a MATCHED row satisfying the condition is DELETED — delete takes
    * precedence over update for the same row, matching the
    * first-matching-clause rule with the delete clause first. The
    * condition is evaluated over the matched (target ⋈ source) row;
    * build it from the SOURCE frame's columns (e.g.
    * `src("__op") === lit("D")` — extra source columns beyond
    * keys/updateCols are fine and never land in the table). Unmatched
    * source rows are untouched by `deleteWhen` (SQL MERGE semantics:
    * a not-matched row cannot match a MATCHED clause) and still insert
    * when `insertUnmatched` — pre-filter the source if tombstones
    * should not insert.
    *
    * PRECONDITION (same as [[applyNet]]): source keys unique — a key
    * matching k target rows or appearing k times in the source fans out
    * through the join. Null-key source rows match nothing (SQL `=`), so
    * they insert when `insertUnmatched` and are dropped otherwise. */
  def merge(name: String, source: DataFrame, keyCols: Seq[String],
      updateCols: Seq[String], insertUnmatched: Boolean = true,
      deleteWhen: Option[Column] = None): Unit = {
    materializeDeletes(name) // see delete(): rewrites start from a clean table
    val sch = schema(name)
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(updateCols.nonEmpty, "merge needs at least one update column")
    updateCols.foreach { c =>
      require(sch.fieldNames.contains(c), s"update column $c not in table $name")
      require(!keyCols.contains(c), s"key column $c cannot be updated")
    }
    val srcCols = source.columns.toSet
    (keyCols ++ updateCols).foreach(c => require(srcCols.contains(c),
      s"source frame lacks column $c"))
    val lineage = rowLineage(name)
    val cand = candidateFilesForKeys(name, source, keyCols)
    val tgt = readFiles(name, cand.map(r => new HPath(dataDir(name), r).toString),
      rowIdsAt = if (lineage) Some(currentVersion(name)) else None)
    val joinCond = keyCols.map(k => tgt(k) === source(k)).reduce(_ && _)
    val joined = tgt.join(source, joinCond, "inner")
    // delete-first precedence: rows the delete clause claims are simply
    // not rebuilt — applyNet drops every source key and re-adds newRows,
    // so absence IS deletion, in the same atomic snapshot commit. A NULL
    // condition keeps the row (SQL WHERE semantics, like delete()).
    val kept = deleteWhen match {
      case Some(cond) => joined.filter(!coalesce(cond, lit(false)))
      case None       => joined
    }
    val matched = kept.select(
      sch.fields.map { f =>
        if (updateCols.contains(f.name))
          source(f.name).cast(f.dataType).as(f.name)
        else tgt(f.name).as(f.name)
      }.toSeq ++
        // an UPDATED row keeps its lineage id (Iceberg v3 row lineage);
        // inserts below union in without one → fresh commit-assigned ids
        (if (lineage) Seq(tgt(TableStore.RowIdCol)) else Nil): _*)
    val newRows =
      if (!insertUnmatched) matched
      else {
        val inserts = source.join(
          tgt.select(keyCols.map(tgt(_)): _*), keyCols, "left_anti")
        matched.unionByName(alignTo(name, sch, inserts),
          allowMissingColumns = true)
      }
    applyNet(name, source.select(keyCols.map(col): _*), newRows, keyCols)
  }

  /** Compaction: rewrite the current snapshot into `numFiles` fresh data
    * files (repartition, so a 100 TB table compacts in parallel). Many small
    * CDC batches fragment a table into per-batch files; compaction restores
    * scan efficiency. The rewrite is itself just a new snapshot — readers of
    * older versions are unaffected.
    *
    * With `clusterCols` (2-3 numeric columns), the rewrite range-partitions
    * and sorts by the columns' interleaved [[ZOrder]] key instead, so each
    * output file covers a small hyper-rectangle of the clustered columns'
    * domain and [[readRange]] prunes files on ANY of them — a
    * single-column sort only ever serves its leading column. Zone maps are
    * recomputed from the rewritten rows, so clustering quality affects
    * pruning selectivity, never correctness. */
  def compact(name: String, numFiles: Int = 0,
      clusterCols: Seq[String] = Nil): Unit = {
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val baseRels = readLines(new HPath(tdir(name), baseManifest))
    val lineage = rowLineage(name)
    // a compaction rewrites everything anyway — fold pending MoR deletes
    // in by reading masked and dropping the sidecars in the same commit
    // (row ids materialize into the rewritten files when lineage is on)
    val cur = morMasked(name, baseRels, base, rowIds = lineage)
    val df =
      if (clusterCols.nonEmpty) {
        require(numFiles > 0, "z-order compaction needs an explicit numFiles")
        val zc = "__graft_z"
        require(!cur.columns.contains(zc), s"column name $zc is reserved")
        cur.withColumn(zc, ZOrder.zvalue(cur, clusterCols))
          .repartitionByRange(numFiles, col(zc))
          .sortWithinPartitions(zc)
          .drop(zc)
      } else if (numFiles > 0) cur.repartition(numFiles)
      else cur
    // an explicit z-order clustering overrides the table's declared
    // write.sort-order for THIS rewrite — re-sorting by the declared
    // order would undo the interleaved clustering within each file
    val rewritten = writeDataFiles(name, df,
      applySortOrder = clusterCols.isEmpty)
    // a rewrite appends no rows. Removing exactly the BASE snapshot's
    // files makes compaction commute with concurrent appends (their
    // files survive the rebase untouched) while any concurrent CoW
    // mutation of a base file is a loud conflict — Iceberg's
    // rewrite-files validation, expressed through the generic intent.
    commitManifest(name, base, baseRels.toSet, rewritten, Nil,
      dropDeletes = true,
      idAdds = if (lineage) rewritten.toSet else Set.empty)
  }

  /** Bin-pack compaction: rewrite ONLY the undersized data files
    * (Iceberg's `rewrite_data_files` binpack strategy). [[compact]]
    * rewrites the whole table — O(table), unthinkable as routine
    * maintenance at 100 TB; this is O(small files): within each
    * partition directory, files under 3/4 of `targetBytes` with at
    * least `minInputFiles` such siblings are read back (pending MoR
    * deletes folded for exactly those rows — untouched files keep
    * their masks, and the fresh files' commit sequence keeps old
    * equality tombstones from re-applying) and rewritten as
    * ceil(bytes/targetBytes) right-sized files. Right-sized and
    * lone-small files are NEVER rewritten — their bytes stay
    * byte-identical on disk. One atomic snapshot; removal of exactly
    * the victim files makes the commit commute with concurrent appends
    * and conflict loudly with a concurrent mutation of a victim.
    * Old-generation victims re-land under the CURRENT partition spec
    * (bin-packing doubles as incremental layout migration), and a
    * declared `write.sort-order` re-applies on the rewrite, so packing
    * also restores range-disjointness. Bins that would hold a single
    * source file (two siblings each just over targetBytes/2 cannot
    * share a bin) are dropped — a 1:1 rewrite merges nothing and
    * would leave a file that is still a victim, looping forever under
    * `CALL system.maintain`. Idempotent: a second call finds nothing
    * mergeable and commits nothing.
    *
    * Returns (files rewritten, files written). */
  def compactSmallFiles(name: String,
      targetBytes: Long = TableStore.DefaultTargetFileBytes,
      minInputFiles: Int = 2): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(minInputFiles >= 2,
      "minInputFiles < 2 would rewrite lone files for no benefit")
    val baseManifest = currentManifest(name)
    val base = versionOf(baseManifest)
    val rels = readLines(new HPath(tdir(name), baseManifest))
    val lens = readConsolidated(name, base).map(_.lens)
      .getOrElse(Map.empty[String, Long])
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    // unknown length (no consolidated entry — legacy adopt) = one
    // getFileStatus, parallel; fail-open to "not small" on error
    val sized = parFiles(rels) { rel =>
      lens.get(rel).orElse(
        try Some(fs.getFileStatus(new HPath(dataDir(name), rel)).getLen)
        catch { case scala.util.control.NonFatal(_) => None })
    }
    val victims = rels.zip(sized)
      .collect { case (r, Some(len)) if len < targetBytes * 3 / 4 => (r, len) }
      .groupBy { case (r, _) => dirOf(r) }
      .filter { case (_, group) => group.size >= minInputFiles }
      .values.flatten.toSeq.sortBy(_._1)
    if (victims.isEmpty) return (0, 0)
    val victimRels = victims.map(_._1)
    // TRUE bin-packing, planned on the driver over the (small) victim
    // list: first-fit-decreasing per partition dir — bins never span
    // dirs, every bin ≤ targetBytes, and the row-level route is
    // DETERMINISTIC (keyed on each row's source file), so task retries
    // re-route identically. Routing by a hash of the bin id can merge
    // two bins into one write task (an occasionally 2×-sized file —
    // benign for maintenance); it can never lose or duplicate rows.
    val binOf = scala.collection.mutable.Map[String, Int]()
    var nextBin = 0
    victims.groupBy { case (r, _) => dirOf(r) }.toSeq.sortBy(_._1).foreach {
      case (_, group) =>
        val open = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
        group.sortBy { case (r, len) => (-len, r) }.foreach {
          case (rel, len) =>
            open.indexWhere(_._2 + len <= targetBytes) match {
              case -1 =>
                binOf(rel) = nextBin
                open += ((nextBin, len)); nextBin += 1
              case i =>
                val (b, used) = open(i)
                binOf(rel) = b; open(i) = (b, used + len)
            }
        }
    }
    // a bin holding a single source file would rewrite it 1:1 into a
    // same-sized file that is STILL a victim next call (two siblings in
    // (target/2, 3/4*target] can never share a bin) — dropping such
    // bins is what makes packing genuinely idempotent: a pack that
    // cannot merge anything is a no-op, not an infinite rewrite loop
    val mergeable = binOf.groupBy(_._2).filter(_._2.size >= 2)
      .values.flatMap(_.keys).toSet
    binOf.filterInPlace { case (rel, _) => mergeable(rel) }
    if (binOf.isEmpty) return (0, 0)
    val packRels = victimRels.filter(mergeable)
    val lineage = rowLineage(name)
    val cur = morMasked(name, packRels, base, rowPos = true,
      rowIds = lineage)
    val bc = "__graft_bin"
    require(!cur.columns.contains(bc), s"column name $bc is reserved")
    val keep = cur.columns
      .filterNot(c => c == TableStore.PosFileCol || c == TableStore.PosIdxCol)
      .map(c => col(s"`$c`"))
    val packed = cur
      .withColumn(bc,
        element_at(typedLit(binOf.toMap), col(TableStore.PosFileCol)))
      .repartition(nextBin, col(bc))
      .select(keep: _*)
    val rewritten = writeDataFiles(name, packed, preDistributed = true)
    commitManifest(name, base, packRels.toSet, rewritten, Nil,
      idAdds = if (lineage) rewritten.toSet else Set.empty)
    (packRels.size, rewritten.size)
  }

  /** Orphan cleanup: delete files under `data/` that NO manifest (of any
    * retained snapshot) references and that are older than `olderThanMs`
    * — the crash debris [[expireSnapshots]] cannot see. A writer that
    * died between staging-rename and commit left its renamed files in
    * `data/` unreferenced forever; at 100 TB that leak compounds per
    * crash (Iceberg ships the same op as remove_orphan_files).
    *
    * The age guard is the correctness fence: an IN-FLIGHT commit has
    * renamed its fresh files but not yet written its manifest, and they
    * would look orphaned. Files younger than the cutoff are never
    * touched — run with an `olderThanMs` comfortably above any real
    * commit duration (default 24 h; the store is single-writer, so a
    * file both unreferenced and a day old can only be debris). Their
    * stats/bloom sidecars are removed with them. Returns the deleted
    * rel paths. */
  def removeOrphans(name: String,
      olderThanMs: Long = 24L * 60 * 60 * 1000): Seq[String] = {
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val d = tdir(name)
    val referenced = listNames(d)
      .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
      .flatMap(m => readLines(new HPath(d, m))).toSet
    val foreign = foreignReferenced(name)
    val cutoff = System.currentTimeMillis() - olderThanMs
    listStatusRec(dataDir(name))
      .filter(st => !referenced.contains(relativize(dataDir(name), st.getPath)))
      .filter(st => !foreign.contains(st.getPath.toUri.getPath))
      .filter(_.getModificationTime < cutoff)
      .map { st =>
        val rel = relativize(dataDir(name), st.getPath)
        fs.delete(st.getPath, false)
        fs.delete(statsPath(name, rel), false)
        bloomCols(name).foreach(c => fs.delete(bloomPath(name, rel, c), false))
        rel
      }
  }

  /** Absolute paths under `name`'s data dir that some OTHER table's
    * manifests reference — files adopted by `CALL system.snapshot` (or
    * cross-table `add_files`) by absolute path. Physical deletion on
    * the SOURCE must skip them: without this, source `expire_snapshots`
    * / `remove_orphans` after a clone silently breaks the clone — the
    * one data-loss hazard round 11 documented. Cost is one read of
    * every sibling table's manifest metadata (catalog-sized, not
    * data-sized — the same order as the expiry's own manifest walk);
    * only scheme-less-absolute manifest entries (the adoption spelling)
    * are considered, and only those under this table's data dir. */
  private def foreignReferenced(name: String): Set[String] =
    if (!hasRefByMarkers(name)) Set.empty
    else {
      val prefix = dataDirPrefix(name)
      referenceHolders(name).flatMap { case (_, td) =>
        manifestEntries(td)
          .filter(l => l.startsWith("/") && l.startsWith(prefix))
      }.toSet
    }

  /** Which sibling holders reference files under `name`'s data dir — the
    * names behind [[foreignReferenced]]'s paths; cascade-drop uses this
    * to distinguish in-namespace references (orderable) from outside
    * holders (refuse before anything drops). Marker-gated like
    * [[foreignReferenced]]. */
  private def foreignReferencingTables(name: String): Set[String] =
    if (!hasRefByMarkers(name)) Set.empty
    else {
      val prefix = dataDirPrefix(name)
      referenceHolders(name).collect { case (h, td)
          if manifestEntries(td)
            .exists(l => l.startsWith("/") && l.startsWith(prefix)) => h
      }.toSet
    }

  // ---- materialized-view registry markers --------------------------------
  //
  // `_mvof_<mv>` under the SOURCE table's dir, written by
  // MaterializedView.create: lets the transparent query-rewrite rule
  // ([[MvRewriteRule]]) find candidate views for a scanned table in ONE
  // directory listing — no catalog sweep, correct across store
  // instances (the marker is durable metadata, not session state). The
  // marker is only a HINT: the rule re-reads the view's definition and
  // freshness before rewriting, so a stale marker (view dropped) just
  // costs the verification read — and is self-healed there.

  private def mvMarkerPath(source: String, mv: String): HPath =
    new HPath(tdir(source), s"_mvof_$mv")

  private[tables] def mvMarkerWrite(source: String, mv: String): Unit = {
    val p = mvMarkerPath(source, mv)
    if (!fs.exists(p)) writeString(p, mv)
  }

  private[tables] def mvMarkerDelete(source: String, mv: String): Unit = {
    fs.delete(mvMarkerPath(source, mv), false)
    ()
  }

  private[tables] def mvMarkersOf(source: String): Seq[String] = {
    val d = tdir(source)
    if (!fs.exists(d)) Nil
    else listNames(d).filter(_.startsWith("_mvof_"))
      .map(_.stripPrefix("_mvof_"))
  }

  /** LOGICAL column name behind a physical one — None when the physical
    * name is not (or no longer) a column; identity when never renamed. */
  private[tables] def logicalNameOfPhys(name: String,
      phys: String): Option[String] = {
    val m = physMap(name)
    schema(name).fieldNames.find(l => physOf(m, l) == phys)
  }

  /** The `_refby_<holder>` marker under the SOURCE table's dir: its
    * presence means "some holder MAY reference files in this table's
    * data dir by absolute path". The reachability guards
    * ([[foreignReferenced]]/[[foreignReferencingTables]]) consult the
    * marker FIRST: a table that was never adopted from carries none,
    * and the guard is ONE directory listing — so drop / rename /
    * replace / overwrite-create / expiry on never-cloned tables cost
    * O(1) catalog metadata instead of a full sibling-manifest sweep
    * (a 10k-table catalog no longer pays 10k manifest walks per drop).
    * Markers are written BEFORE the adopting commit publishes
    * ([[addFiles]]/[[snapshotTable]]), so the fast path can never miss
    * an in-flight adoption; the sweep stays the authoritative answer
    * whenever a marker exists. A STALE marker (holder dropped through a
    * crash, renamed, or replaced) only demotes that source back to the
    * sweep — never wrong, just slower — and [[drop]] removes its own
    * markers on the common path. */
  private def refByMarker(source: String, holder: String): HPath =
    new HPath(tdir(source), s"_refby_$holder")

  /** Root-level capability stamp: written when a store ROOT is first
    * created by marker-aware code. A root WITHOUT it may hold
    * adoptions from before markers existed (nothing backfills them),
    * so the guards on such catalogs never fast-path — legacy roots
    * keep the full authoritative sweep, new roots get O(1) guards.
    * One existence probe per guarded operation. */
  private def refByCapableMarker: HPath =
    new HPath(rootPath, "_refby_capable")

  private[tables] def stampRefByCapable(): Unit =
    if (!fs.exists(refByCapableMarker)) writeString(refByCapableMarker, "1")

  private def hasRefByMarkers(name: String): Boolean = {
    if (!fs.exists(refByCapableMarker)) return true // legacy root: sweep
    val d = tdir(name)
    fs.exists(d) && listNames(d).exists(_.startsWith("_refby_"))
  }

  /** Record, under every sibling table whose data dir `absPaths` reach
    * into, that `holder` holds references — call BEFORE the adopting
    * commit. */
  private def writeRefByMarkers(holder: String, absPaths: Seq[String]): Unit =
    sourceTablesOf(absPaths).filterNot(_ == holder).foreach { src =>
      val p = refByMarker(src, holder)
      if (!fs.exists(p)) writeString(p, holder)
    }

  /** Store tables owning `absPaths` (scheme-less absolute): the segment
    * between the store root and the first `/data/` is the table name
    * (names cannot contain '/'). */
  private def sourceTablesOf(absPaths: Seq[String]): Set[String] = {
    val rootP = rootPath.toUri.getPath.stripSuffix("/") + "/"
    absPaths.iterator.flatMap { p =>
      if (!p.startsWith(rootP)) None
      else {
        val rel = p.substring(rootP.length)
        val i = rel.indexOf("/data/")
        if (i <= 0) None else Some(rel.substring(0, i))
      }
    }.toSet.filter(t => fs.exists(tdir(t)))
  }

  /** Every root directory that can hold manifest references, except
    * `name` itself: live tables AND staged/aside dirs — a staged
    * snapshot adoption or rebuild_index's staging window holds
    * absolute references before it has a coordinator pointer, and the
    * guard must see them (deleting a source file mid-publish is the
    * exact hazard the guard closes). Marker files (`_ns_`/`_view_`/
    * `_refby_` …) are files, not dirs. */
  private def referenceHolders(name: String): Seq[(String, HPath)] =
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_ == name)
      .map(n => n -> new HPath(rootPath, n))

  /** All manifest entries under a holder dir; tolerant of the dir
    * vanishing mid-walk (replace-aside dirs are deleted concurrently —
    * a vanished holder holds no references). */
  private def manifestEntries(td: HPath): Seq[String] =
    scala.util.Try {
      listNames(td)
        .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
        .flatMap(m => scala.util.Try(readLines(new HPath(td, m)))
          .getOrElse(Nil))
    }.getOrElse(Nil)

  private def dataDirPrefix(name: String): String = {
    val mine = dataDir(name).toUri.getPath
    if (mine.endsWith("/")) mine else mine + "/"
  }

  /** Snapshot expiry: drop manifests older than the last `keepLast` and
    * physically delete data files no surviving manifest references — the
    * maintenance op that bounds storage growth under copy-on-write. */
  def expireSnapshots(name: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val d = tdir(name)
    val manifests = listNames(d)
      .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
      .sorted
    val current = currentManifest(name)
    // every named ref pins its manifest (a tag forever, a branch its
    // live head) — their data files stay live below
    val refManifests = refs(name).values.map(v => f"manifest-${v._2}%06d.txt")
    val keep =
      (manifests.takeRight(keepLast) ++ refManifests :+ current).distinct
    val expiredVersions = manifests.filterNot(keep.contains).map(versionOf).toSet
    // Carry commit-meta TAGS forward before the expired metas disappear:
    // lastMetaValue walks parent pointers from the head, and a retained
    // commit pointing at an expired parent would make the walk return
    // None — a streaming sink's replay guard silently losing its memory
    // (a crash-window replay after maintenance would then double-apply a
    // batch). For every retained commit whose parent is expired: fold the
    // expired ancestor chain's tags (nearest ancestor wins per key, own
    // tags win over all) into its meta and clamp its parent to 0, so the
    // walk terminates cleanly with full tag memory.
    keep.map(versionOf).filter(v =>
        commitParent(name, v).exists(expiredVersions.contains)).foreach { v =>
      val inherited = scala.collection.mutable.Map[String, String]()
      var p = commitParent(name, v)
      while (p.exists(pv => pv > 0 && expiredVersions.contains(pv))) {
        val pv = p.get
        // nearest ancestor wins: only fill keys not already inherited
        commitMeta(name, pv).foreach { case (k, tv) =>
          if (!inherited.contains(k)) inherited += k -> tv
        }
        p = commitParent(name, pv)
      }
      writeMetaFile(name, v, 0, inherited.toMap ++ commitMeta(name, v))
    }
    val live = keep.flatMap(m => readLines(new HPath(d, m))).toSet
    val foreign = foreignReferenced(name)
    // delete unreferenced data files — unless a clone's manifests still
    // reference them by absolute path ([[foreignReferenced]]): a
    // source-side expiry must never break a `CALL system.snapshot`
    // clone. Skipped files stay on disk until the clone drops or
    // compacts into files it owns; re-running expiry then reclaims them.
    listFilesRec(dataDir(name))
      .filter(p => !live.contains(relativize(dataDir(name), p)))
      .filter(p => !foreign.contains(p.toUri.getPath))
      .foreach { p =>
        val rel = relativize(dataDir(name), p)
        fs.delete(p, false)
        fs.delete(statsPath(name, rel), false)
        bloomCols(name).foreach(c =>
          fs.delete(bloomPath(name, rel, c), false))
        ()
      }
    manifests.filterNot(keep.contains)
      .foreach(m => deleteManifestFamily(name, versionOf(m)))
    // equality-delete files referenced by no surviving snapshot's sidecar
    if (fs.exists(deletesDir(name))) {
      val liveDel = keep
        .flatMap(m => readDeleteEntries(name, versionOf(m)).map(_.rel)).toSet
      // a live sidecar's `.ranges.json` sibling lives on with it
      listNames(deletesDir(name))
        .filterNot(r => liveDel(r) || liveDel(r.stripSuffix(".ranges.json")))
        .foreach(r => fs.delete(new HPath(deletesDir(name), r), true))
    }
  }

  // ---- zone maps ----------------------------------------------------------

  /** Per-file min/max of the zone columns, null counts, NDV sketches and
    * blooms, captured at write time ([[FileStats]]) and kept as tiny
    * driver-readable sidecars. This is the Iceberg-manifest column-stats
    * idea: a mutation can discard files whose key range cannot intersect
    * the batch WITHOUT opening them — at 100 TB that is the difference
    * between touching a few files and listing-scanning the whole table.
    * `spec` is the table's [[fileStatsSpec]]. */
  private def writeFileStats(name: String, rel: String, spec: FileStatsSpec,
      st: FileStats): Unit = {
    val zc = spec.zoneCols
    val bc = spec.bloomCols
    if (zc.isEmpty && bc.isEmpty) {
      // row counts alone keep metadata-only count(*) working
      writeString(statsPath(name, rel), s"""{"__rows": ${st.rows}}""")
      return
    }
    val zonePairs = zc.zip(st.bounds).map { case (c, (lo, hi)) =>
      s""""$c": [${statJson(lo)}, ${statJson(hi)}]"""
    }
    // null count (Iceberg null_value_counts): zone min/max ignore nulls,
    // so IS NULL skipping and null-aware ordered pruning are unsound
    // without it
    val nullPairs = zc.zip(st.nulls).map { case (c, n) => s""""$c": $n""" }
    // per-file HLL sketch per zone column (Iceberg's puffin NDV idea):
    // mergeable, so the commit path unions them into ONE table-level
    // sketch per column — the CBO distinctCount at plan time
    val hllPairs = zc.zip(st.hll).map { case (c, bytes) =>
      s""""$c": "${java.util.Base64.getEncoder.encodeToString(bytes)}""""
    }
    val pairs = zonePairs ++ Seq(
      s""""__rows": ${st.rows}""",
      s""""__nulls": ${nullPairs.mkString("{", ",", "}")}""",
      s""""__hll": ${hllPairs.mkString("{", ",", "}")}""")
    writeString(statsPath(name, rel), pairs.mkString("{", ",", "}"))
    bc.zip(st.blooms).foreach { case (c, bytes) =>
      writeBytes(bloomPath(name, rel, c), bytes)
    }
  }

  /** What the stats sidecars of `name` record, for rows laid out as
    * `dataSchema` (physical names). */
  private[tables] def fileStatsSpec(name: String,
      dataSchema: StructType): FileStatsSpec =
    FileStatsSpec(physSchema(name), dataSchema, zoneCols(name),
      bloomCols(name), bloomItems(name), TableStore.BloomFpp,
      TableStore.HllLgK, spark.sessionState.conf.sessionLocalTimeZone)

  /** Stats sidecars of files graft did not write (adopted by addFiles,
    * or legacy files an analyze backfills): ONE scan job over them. */
  private def scanFileStats(name: String, rels: Seq[String]): Unit = {
    if (rels.isEmpty) return
    val sch = physSchema(name)
    val spec = fileStatsSpec(name, sch)
    val paths = rels.map(r => new HPath(dataDir(name), r).toString)
    val got = spec.scan(spark, paths)
    parFiles(rels.zip(paths)) { case (rel, p) =>
      writeFileStats(name, rel, spec, got(p))
    }
    ()
  }

  /** Driver-side parallel map for per-file metadata I/O (footer reads,
    * sidecar writes): a hash-distributed partitioned commit legitimately
    * lands hundreds of files, and doing one blocking read per file
    * SEQUENTIALLY made the commit path O(files × latency) — on an object
    * store that is seconds per hundred files. Bounded pool, fail-fast. */
  private def parFiles[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(x)
      })).map(_.get())
      finally { pool.shutdown() }
    }

  /** Row count straight from a parquet footer — no Spark job. None on
    * any failure (stats are an optimization, never a failed write). */
  private def footerRowCount(p: HPath): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- per-file bloom filters ---------------------------------------------

  /** Bloom sidecar of one (file, column): loaded LAZILY and only for
    * equality probes on surviving zone-map candidates — a bloom is tens
    * of KB (vs ~bytes for a zone entry), so consolidating all of them
    * into the per-snapshot stats file would make every planned scan pay
    * for point-lookup metadata it rarely needs. At 100 TB the probe cost
    * is O(candidate files that survived zone pruning), each one small
    * read — against the alternative of scanning those files. */
  private def bloomPath(name: String, rel: String, physCol: String): HPath = {
    val flat = rel.replace("/", "__")
    new HPath(new HPath(tdir(name), "bloom"), s"$flat.$physCol.bloom")
  }

  /** Load one bloom sidecar; None = absent/corrupt = "unknown, keep the
    * file" (fail open, like every stats path). */
  private[tables] def loadBloom(name: String, rel: String,
      physCol: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val p = bloomPath(name, rel, physCol)
      if (!fs.exists(p)) None
      else {
        bloomFileLoads.incrementAndGet()
        val in = fs.open(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- per-snapshot bloom roll-ups -----------------------------------------

  /** Read-count instrumentation: specs pin that an all-miss probe costs
    * roll-up reads only, zero per-file loads. */
  private[tables] val bloomFileLoads = new java.util.concurrent.atomic.AtomicLong
  private[tables] val bloomRollupLoads = new java.util.concurrent.atomic.AtomicLong

  private def rollupPath(name: String, version: Int, physCol: String): HPath =
    new HPath(tdir(name), f"manifest-$version%06d.bloom.$physCol")

  /** Snapshot-level union bloom of `physCol` (superset of every live
    * file's keys); None = absent (legacy history) or corrupt — skip the
    * roll-up stage, fail open. */
  private[tables] def loadRollupBloom(name: String, version: Int,
      physCol: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val p = rollupPath(name, version, physCol)
      if (!fs.exists(p)) None
      else {
        bloomRollupLoads.incrementAndGet()
        val in = fs.open(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write commit `n`'s per-column roll-up blooms: the previous
    * snapshot's roll-up (a superset of every carried file — deletes only
    * leave stale bits, which can never wrongly prune) merged with the
    * fresh files' just-written sidecars. A snapshot with NO carried
    * files (first commit, compaction) rebuilds exactly from the fresh
    * sidecars, shedding stale bits. No roll-up is written when it could
    * not be complete — a fresh file missing its sidecar, a carried file
    * with no previous roll-up, or an incompatible merge — because an
    * incomplete roll-up would prune files that hold live keys. */
  private def writeRollups(name: String, n: Int, head: Int,
      carried: Seq[String], added: Seq[String]): Unit = {
    val bc = bloomCols(name)
    if (bc.isEmpty) return
    val items = bloomItems(name)
    bc.foreach { c =>
      val freshOpts = added.map(rel => loadBloom(name, rel, c))
      val baseOpt: Option[org.apache.spark.util.sketch.BloomFilter] =
        if (carried.isEmpty)
          Some(org.apache.spark.util.sketch.BloomFilter
            .create(items, TableStore.BloomFpp))
        else if (head > 0) loadRollupBloom(name, head, c)
        else None
      if (freshOpts.forall(_.isDefined) && baseOpt.isDefined) {
        try {
          val merged = baseOpt.get
          freshOpts.flatten.foreach(merged.mergeInPlace)
          val bos = new java.io.ByteArrayOutputStream()
          merged.writeTo(bos)
          writeBytesTo(rollupPath(name, n, c), bos.toByteArray)
        } catch { case scala.util.control.NonFatal(_) => () } // fail open
      }
    }
  }

  // ---- commit metadata: parent chain + caller tags -------------------------

  private def metaPath(name: String, version: Int): HPath =
    new HPath(tdir(name), f"manifest-$version%06d.meta.json")

  private def writeMetaFile(name: String, n: Int, parent: Int,
      tags: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("parent", parent)
    val t = root.putObject("tags")
    tags.foreach { case (k, v) => t.put(k, v); () }
    writeString(metaPath(name, n), mapper.writeValueAsString(root))
  }

  private def readMetaNode(name: String,
      version: Int): Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val p = metaPath(name, version)
      if (!fs.exists(p)) None
      else Some(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parent snapshot of `version` (0 = initial commit); None for legacy
    * commits that predate commit metadata. The parent chain is what
    * makes history LINEAR even with optimistic concurrency: only
    * snapshots reachable from the head were ever committed. */
  def commitParent(name: String, version: Int): Option[Int] =
    readMetaNode(name, version).flatMap(node => Option(node.get("parent")))
      .filter(_.isIntegralNumber).map(_.intValue())

  /** Caller tags recorded with snapshot `version`'s commit (e.g. a
    * streaming sink's batch id). */
  def commitMeta(name: String, version: Int): Map[String, String] =
    readMetaNode(name, version).flatMap(node => Option(node.get("tags")))
      .map { t =>
        val it = t.properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isTextual) b += e.getKey -> e.getValue.textValue()
        }
        b.result()
      }.getOrElse(Map.empty)

  /** Most recent value of tag `key` on the committed chain, walking
    * parent pointers from the head down; None when no commit carries it
    * (or a legacy meta gap is hit first). The streaming-sink
    * idempotence primitive: "skip this batch if a committed snapshot
    * already recorded a batch id ≥ mine" survives interleaved
    * non-stream commits (compaction, manual deletes) because the WALK
    * passes through them rather than stopping at the head. */
  def lastMetaValue(name: String, key: String): Option[String] = {
    var v = currentVersion(name)
    while (v > 0) {
      val tags = commitMeta(name, v)
      if (tags.contains(key)) return tags.get(key)
      commitParent(name, v) match {
        case Some(p) if p >= 0 && p < v => v = p
        case _                          => return None
      }
    }
    None
  }

  private def writeBytes(p: HPath, bytes: Array[Byte]): Unit =
    writeBytesTo(p, bytes) // local fast path — see writeBytesTo

  private def statsPath(name: String, rel: String): HPath = {
    val flat = rel.replace("/", "__")
    new HPath(new HPath(tdir(name), "stats"), s"$flat.json")
  }

  /** Consolidated zone stats of one snapshot: `{rel: {col: [min,max]}}` for
    * every file of manifest `version` that has stats. Written by the commit
    * that writes the manifest (under the same lock), so when it exists it
    * is COMPLETE for that snapshot and readers need exactly one FS read
    * regardless of file count — at 100 TB the per-file sidecars would cost
    * O(files) driver round-trips per planned scan. */
  private def statsManifestPath(name: String, version: Int): HPath =
    new HPath(tdir(name), f"manifest-$version%06d.stats.json")

  /** One snapshot's consolidated file, fully parsed and VALIDATED:
    * (rel → zone bounds, rel → file length, rel → row count). `None` =
    * file absent or wholly unreadable (legacy table / gross corruption)
    * — readers fall back to sidecars or a listing, and the next commit
    * rebuilds. Individual malformed entries (wrong-shape stats node,
    * non-positive or non-numeric length/count) are DROPPED here, so
    * corruption is scrubbed rather than carried forward by commit
    * consolidation; a dropped entry only widens a scan (or forces a
    * metadata-only aggregate back to a real scan), never fails it. */
  private def readConsolidated(name: String, version: Int)
      : Option[TableStore.Consolidated] = {
    try {
      val p = statsManifestPath(name, version)
      if (!fs.exists(p)) None
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readString(p))
        val fc = floatZoneCols(name)
        val stats = Option(root.get("stats")).map { node =>
          val it = node.properties().iterator()
          val b = Map.newBuilder[String, Map[String, (Any, Any)]]
          while (it.hasNext) {
            val e = it.next()
            val cols = parseFileStats(fc, e.getValue)
            if (cols.nonEmpty) b += e.getKey -> cols
          }
          b.result()
        }.getOrElse(Map.empty[String, Map[String, (Any, Any)]])
        def longNode(key: String, minExclusive: Long): Map[String, Long] =
          Option(root.get(key)).map { node =>
            val it = node.properties().iterator()
            val b = Map.newBuilder[String, Long]
            while (it.hasNext) {
              val e = it.next()
              val v = e.getValue
              if (v.isIntegralNumber && v.longValue() > minExclusive)
                b += e.getKey -> v.longValue()
            }
            b.result()
          }.getOrElse(Map.empty[String, Long])
        // per-file per-column null counts `{rel: {col: n}}`; entries with
        // a non-integral or negative count are dropped (absence = unknown)
        val nulls = Option(root.get("nulls")).map { node =>
          val it = node.properties().iterator()
          val b = Map.newBuilder[String, Map[String, Long]]
          while (it.hasNext) {
            val e = it.next()
            val cit = e.getValue.properties().iterator()
            val cb = Map.newBuilder[String, Long]
            while (cit.hasNext) {
              val ce = cit.next()
              if (ce.getValue.isIntegralNumber && ce.getValue.longValue() >= 0)
                cb += ce.getKey -> ce.getValue.longValue()
            }
            val cols = cb.result()
            if (cols.nonEmpty) b += e.getKey -> cols
          }
          b.result()
        }.getOrElse(Map.empty[String, Map[String, Long]])
        // table-level NDV sketches `{col: base64}` — validated only as
        // base64 here; heapify failures surface as None at estimate time
        val ndv = Option(root.get("ndv")).map { node =>
          val it = node.properties().iterator()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isTextual) b += e.getKey -> e.getValue.textValue()
          }
          b.result()
        }.getOrElse(Map.empty[String, String])
        // a parquet file is never empty (footer magic is 8 bytes) — a
        // non-positive length would fabricate an empty split and silently
        // drop the file's rows. A zero ROW count is legitimate (an empty
        // write), negative is not.
        Some(TableStore.Consolidated(stats,
          longNode("len", 0L), longNode("rows", -1L), nulls, ndv))
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** `{col: [min, max]}` stats node → validated bounds map. Wrong-shape
    * nodes and null bounds are simply absent (= "unknown, keep the
    * file"). Bounds of FloatType zone columns are re-widened to the
    * float's EXACT double (`toFloat.toDouble`, idempotent): stats written
    * before the widening fix were printed at float precision and would
    * rank below a widened filter literal, mis-pruning the file that
    * holds the matching rows. */
  private def parseFileStats(floatCols: Set[String],
      node: com.fasterxml.jackson.databind.JsonNode): Map[String, (Any, Any)] = {
    def v(n: com.fasterxml.jackson.databind.JsonNode, widen: Boolean): Any =
      if (n.isTextual) n.textValue()
      else if (n.isIntegralNumber) n.longValue()
      else if (widen) n.doubleValue().toFloat.toDouble
      else n.doubleValue()
    val cols = node.properties().iterator()
    val b = Map.newBuilder[String, (Any, Any)]
    while (cols.hasNext) {
      val e = cols.next()
      val s = e.getValue
      if (s.isArray && s.size == 2 &&
          !s.get(0).isNull && !s.get(1).isNull &&
          (s.get(0).isNumber || s.get(0).isTextual) &&
          (s.get(1).isNumber || s.get(1).isTextual)) {
        val widen = floatCols.contains(e.getKey)
        b += e.getKey -> ((v(s.get(0), widen), v(s.get(1), widen)))
      }
    }
    b.result()
  }

  /** Physical names of FloatType zone columns (need bound re-widening). */
  private def floatZoneCols(name: String): Set[String] = {
    val zc = zoneCols(name)
    if (zc.isEmpty) Set.empty
    else {
      val m = physMap(name)
      schema(name).fields.iterator.collect {
        case f if f.dataType == org.apache.spark.sql.types.FloatType &&
            zc.contains(physOf(m, f.name)) => physOf(m, f.name)
      }.toSet
    }
  }

  private[tables] def statJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // NaN/Infinity have no JSON literal — store null = "no usable bound"
    // (the file just stays a candidate). Floats are widened to their EXACT
    // double before printing: Float.toString round-trips to a different
    // double than x.toDouble, and filter literals widen via toDouble, so
    // a narrow-printed stat could rank below the literal and mis-prune a
    // file that holds matching rows.
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
    case f: java.lang.Float => f.toDouble.toString
    case other => other.toString // numeric only — enforced at create()
  }

  /** Per-file zone ranges of `relPaths` from an already-read consolidated
    * result: file → zone column (physical name) → (min, max). Files
    * without stats and columns with null bounds are simply ABSENT — both
    * pruning paths treat absence as "unknown, keep". `cons` present =
    * complete for the snapshot by the commit invariant (no per-file
    * reads); absent = legacy table, fall back to the per-file sidecars
    * (O(files) reads, self-heals on the table's next commit). */
  private def zoneStatsFrom(name: String, relPaths: Seq[String],
      cons: Option[TableStore.Consolidated])
      : Map[String, Map[String, (Any, Any)]] = {
    // a table with no zone columns has no stats anywhere — skip even the
    // legacy O(files) sidecar probes
    if (zoneCols(name).isEmpty) return Map.empty
    cons match {
      case Some(c) =>
        relPaths.flatMap(rel => c.stats.get(rel).map(rel -> _)).toMap
      case None =>
        val fc = floatZoneCols(name)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        relPaths.flatMap { rel =>
          // stats are a pure optimization: an unreadable sidecar degrades
          // to "no pruning for that file", never a failed read
          try {
            val sp = statsPath(name, rel)
            if (!fs.exists(sp)) None
            else Some(rel -> parseFileStats(fc, mapper.readTree(readString(sp))))
          } catch { case scala.util.control.NonFatal(_) => None }
        }.toMap
    }
  }

  private def loadZoneStats(name: String, relPaths: Seq[String],
      version: Int): Map[String, Map[String, (Any, Any)]] =
    zoneStatsFrom(name, relPaths, readConsolidated(name, version))

  /** Synthetic per-file SOURCE-column bounds implied by hidden
    * time/truncate partition directories — the mutation-path twin of the
    * read path's merge in [[indexedReadSpec]]. Empty for tables without
    * hidden range transforms (the overwhelmingly common case costs one
    * spec parse). */
  private def hiddenPartitionStats(name: String, relPaths: Seq[String])
      : Map[String, Map[String, (Any, Any)]] = {
    val specs = partitionSpecs(name)
    if (!specs.exists(_._2.exists(s => s.contains('(') && !s.startsWith("bucket"))))
      return Map.empty
    val physSch = physSchema(name)
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    relPaths.groupBy(specOfRel).toSeq.flatMap { case (id, rels) =>
      val fields = partitionFieldsOfSpec(name, id)
      val hiddenIdx = fields.zipWithIndex.filterNot { case (f, _) =>
        f.isIdentity || f.isInstanceOf[PartitionField.PBucket] }
      if (hiddenIdx.isEmpty) Nil
      else {
        val dirTypes = fields.map(f => PartitionField.dirType(f,
          physSch(physSch.fieldIndex(f.source)).dataType))
        rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).toSeq
          .flatMap { case (dir, rs) =>
            // last |fields| segments — see zoneIndexFor (adopted rels
            // carry their absolute source path above the hive tail)
            val hiveDir = dir.split('/').takeRight(fields.length).mkString("/")
            val row = parsePartitionValues(name, hiveDir, fields, dirTypes)
            val bounds = hiddenIdx.flatMap { case (f, i) =>
              if (row.isNullAt(i)) None
              else PartitionField.sourceBounds(f, row.get(i, dirTypes(i)),
                physSch(physSch.fieldIndex(f.source)).dataType, sessionZone)
                .map(b => f.source -> b)
            }.toMap
            if (bounds.isEmpty) Nil else rs.map(_ -> bounds)
          }
      }
    }.toMap
  }

  /** Bucket-directory pruning for a key batch: a candidate file survives
    * only if, for every bucketed key column, SOME batch value hashes into
    * the file's bucket. Pure driver arithmetic over the (bounded) probe
    * values — the hidden-partitioning answer to "which files can this
    * random CDC key batch touch" that zone maps cannot give. */
  private def pruneByBucketDirs(name: String, relPaths: Seq[String],
      distinctKeys: DataFrame, keyCols: Seq[String]): Seq[String] = {
    if (relPaths.isEmpty) return relPaths
    val specs = partitionSpecs(name)
    if (!specs.exists(_._2.exists(_.startsWith("bucket")))) return relPaths
    val sch = schema(name)
    val m = physMap(name)
    // bucketed physical columns anywhere in the spec history
    val bucketFields: Map[String, PartitionField.PBucket] = specs.flatMap(_._2)
      .map(PartitionField.parse).collect {
        case b: PartitionField.PBucket => b.source -> b
      }.toMap
    val probed = keyCols.filter(c => bucketFields.contains(physOf(m, c)))
    if (probed.isEmpty) return relPaths
    // per-column distinct values, bounded like the bloom probe — a huge
    // batch touches most buckets anyway. A column whose values cap out
    // or leave the probe domain simply contributes no pruning (fail
    // open); others still can.
    val allowed: Map[String, Set[Int]] = probed.flatMap { c =>
      val pc = physOf(m, c)
      val b = bucketFields(pc)
      val vals = distinctKeys.select(col(c)).distinct()
        .limit(TableStore.BloomProbeMaxKeys + 1).collect()
      if (vals.length > TableStore.BloomProbeMaxKeys) None
      else {
        val dt = sch(sch.fieldIndex(c)).dataType
        val ids = vals.toSeq.flatMap(r => Option(r.get(0)))
          .map(v => ZoneStats.litVal(v)
            .flatMap(sv => PartitionField.bucketOf(b.n, sv, dt)))
        if (ids.exists(_.isEmpty)) None else Some(pc -> ids.flatten.toSet)
      }
    }.toMap
    if (allowed.isEmpty) return relPaths
    // per-file bucket values come from the directory path itself
    relPaths.filter { rel =>
      val id = specOfRel(rel)
      val fields = partitionFieldsOfSpec(name, id)
      val hiveDir = {
        val cut = rel.lastIndexOf('/')
        if (cut < 0) "" else {
          val d = rel.substring(0, cut)
          if (id == 0) d else d.substring(d.indexOf('/') + 1)
        }
      }
      if (hiveDir.isEmpty) true
      else {
        val segs = hiveDir.split('/')
        fields.zipWithIndex.forall {
          case (b: PartitionField.PBucket, i)
              if allowed.contains(b.source) && i < segs.length &&
                segs(i).startsWith(b.dirName + "=") =>
            segs(i).substring(b.dirName.length + 1).toIntOption match {
              case Some(fb) => allowed(b.source).contains(fb)
              case None     => true // unparseable: fail open
            }
          case _ => true
        }
      }
    }
  }

  /** Prune manifest files by zone overlap with the batch's key bounds —
    * real zone stats merged (under precedence) with synthetic bounds
    * from hidden time/truncate partition directories. Files without
    * stats (or non-comparable bounds) stay candidates. `version` pins
    * the snapshot whose consolidated stats serve the lookup — a
    * mutation planning against its base snapshot stays consistent even
    * when a concurrent commit advances the head. */
  private def pruneByZones(name: String, relPaths: Seq[String],
      bounds: Map[String, (Any, Any)], version: Int): Seq[String] = {
    if (bounds.isEmpty) return relPaths
    val zs = loadZoneStats(name, relPaths, version)
    val hs = hiddenPartitionStats(name, relPaths)
    val stats: Map[String, Map[String, (Any, Any)]] =
      if (hs.isEmpty) zs
      else relPaths.flatMap { r =>
        val m2 = hs.getOrElse(r, Map.empty) ++ zs.getOrElse(r, Map.empty)
        if (m2.isEmpty) None else Some(r -> m2)
      }.toMap
    relPaths.filter { rel =>
      stats.get(rel).forall { cols =>
        bounds.forall { case (c, (lo, hi)) =>
          cols.get(c).forall { case (mn, mx) =>
            ZoneStats.overlap(mn, mx, Some(lo), Some(hi))
          }
        }
      }
    }
  }

  /** Batch key bounds (one tiny agg job) for zone pruning; only zone
    * columns participate. `keyCols` are logical; the returned map keys on
    * PHYSICAL names (what the stats sidecars use). */
  private def keyBounds(name: String, keys: DataFrame,
      keyCols: Seq[String]): Map[String, (Any, Any)] = {
    val zc = zoneCols(name)
    val m = physMap(name)
    // hidden time/truncate partition sources prune like zone columns
    // (their synthetic per-file bounds come from the directory values)
    val hiddenRange: Set[String] = partitionSpecs(name).flatMap(_._2)
      .map(PartitionField.parse)
      .filterNot(f => f.isIdentity || f.isInstanceOf[PartitionField.PBucket])
      .map(_.source).toSet
    val cols = keyCols.filter(c => zc.contains(physOf(m, c)) ||
      hiddenRange.contains(physOf(m, c)))
    if (cols.isEmpty) return Map.empty
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    // one task over the (tombstone-sized) keys: no exchange, one job
    val row = keys.coalesce(1).agg(aggs.head, aggs.tail: _*).collect()(0)
    // temporal collect types → the stat domain (micros / epoch days as
    // Long), so bounds compare against zone stats and the synthetic
    // hidden-partition bounds; other types pass through unchanged
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    def statDomain(v: Any): Any = v match {
      case t: java.sql.Timestamp      => DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant       => DateTimeUtils.instantToMicros(i)
      case l: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(l)
      case d: java.sql.Date           => DateTimeUtils.fromJavaDate(d).toLong
      case d: java.time.LocalDate     => d.toEpochDay
      case other                      => other
    }
    cols.zipWithIndex.flatMap { case (c, i) =>
      val (lo, hi) = (row.get(2 * i), row.get(2 * i + 1))
      if (lo == null || hi == null) None
      else Some(physOf(m, c) -> ((statDomain(lo), statDomain(hi))))
    }.toMap
  }

  // ---- internals ----------------------------------------------------------

  /** Project/reorder columns to the table schema (catalog-owned). Only a
    * column recorded as ADDED BY EVOLUTION may be absent from the incoming
    * frame (the pre-evolution-producer case; it backfills null) — a frame
    * missing any create-time column fails loudly, so a misspelled column
    * stays an error instead of silently committing nulls. */
  private def alignTo(name: String, sch: StructType, df0: DataFrame,
      keepRowId: Boolean = false): DataFrame = {
    // variant shreds derive from the JSON on EVERY write — a supplied
    // value for the shred column is overridden (the JSON is the source
    // of truth, so a shred can never disagree with its path)
    val df = variantShreds(name).foldLeft(df0) {
      case (acc, (src, path, asName, dt)) =>
        if (!acc.columns.contains(src)) acc
        else acc.withColumn(asName,
          get_json_object(col(s"`$src`"), path).cast(dt))
    }
    val have = df.schema.fields.map(f => f.name -> f).toMap
    lazy val evolved = evolvedCols(name)
    lazy val addedNested = addedNestedLogical(name)
    val idTail =
      if (keepRowId && df.columns.contains(TableStore.RowIdCol))
        Seq(col(s"`${TableStore.RowIdCol}`"))
      else Nil
    df.select(idTail ++ sch.fields.map { f =>
      have.get(f.name) match {
        case Some(in) =>
          // nested-aware align: structs rebuild so that fields added by
          // addNestedField backfill null for pre-evolution producers
          NestedSchema.align(name, col(s"`${f.name}`"), in.dataType,
            f.dataType, f.name, addedNested.contains).as(f.name)
        case None =>
          require(evolved.contains(f.name),
            s"incoming data for table $name lacks column ${f.name} " +
              "(only columns added by addColumns may be omitted)")
          // a declared WRITE default backfills instead of null — the
          // programmatic analogue of SQL INSERT default resolution
          val fill =
            if (f.metadata.contains("CURRENT_DEFAULT"))
              expr(f.metadata.getString("CURRENT_DEFAULT"))
            else lit(null)
          fill.cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Write df as immutable data files; returns their manifest-relative
    * paths (hive-style `col=value/` subdirs for partitioned tables). Data
    * lands in a staging dir first so a failed job never pollutes `data/`. */
  private def writeDataFiles(name: String, df: DataFrame,
      applySortOrder: Boolean = true,
      preDistributed: Boolean = false): Seq[String] = {
    val id = UUID.randomUUID().toString.take(8)
    val staging = new HPath(tdir(name), s"_staging-$id")
    try {
      // data files always carry PHYSICAL names at every nesting level;
      // incoming frames are logical-named (alignTo / readFiles output).
      // _partitions and _zonecols record physical names, so partitionBy
      // lines up.
      val renamed = physicalProjection(name, df)
      // hidden-partitioning transforms derive their directory column
      // here (partitionBy strips it from the files again — the SOURCE
      // column stays data); identity fields partition on the raw column
      val fields = partitionFields(name)
      val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
      val out = fields.filterNot(_.isIdentity).foldLeft(renamed) { (acc, f) =>
        val srcType = acc.schema(acc.schema.fieldIndex(f.source)).dataType
        acc.withColumn(f.dirName, Bridge.column(PartitionField.catalystExpr(
          f, Bridge.expression(col(s"`${f.source}`")), srcType, sessionZone)))
      }
      val dirCols = fields.map(_.dirName)
      // write.distribution-mode (the Iceberg property): how rows are
      // distributed across tasks BEFORE a partitioned write. Default
      // `none` writes each task's rows straight out — every task emits a
      // file into every partition dir it holds rows for, which at 1000
      // tasks × 1000 daily/bucket dirs is a million tiny files per
      // commit. `hash` clusters rows by partition tuple (one task's
      // worth of files per dir — the small-files fix, at the cost of one
      // shuffle); `range` range-partitions on the tuple, additionally
      // clustering adjacent partition values together (time-ordered
      // appends compact naturally). AQE's rebalance handles dir skew.
      // write.sort-order: local sort before the write, prefixed by the
      // partition dir columns — the dynamic-partition writer requires
      // clustering by dir cols and would otherwise insert its own sort
      // on them ALONE, destroying the data-column order within files
      val sortSpec =
        if (applySortOrder) {
          val m = physMap(name)
          writeSortOrder(name).map { case (c, asc) => (physOf(m, c), asc) }
        } else Nil
      def sortKeys: Seq[Column] = sortSpec.map { case (c, asc) =>
        if (asc) col(s"`$c`").asc else col(s"`$c`").desc
      }
      val distributed =
        // preDistributed: the caller already routed rows to exactly the
        // write tasks it wants (bin-pack compaction's per-bin shuffle) —
        // skip the property-driven distribution, keep the local sort
        if (preDistributed) out
        else properties(name).getOrElse("write.distribution-mode", "none") match {
          case "none" => out
          case "hash" =>
            if (dirCols.isEmpty) out
            else out.repartition(dirCols.map(c => col(s"`$c`")): _*)
          case "range" =>
            // Iceberg range distribution orders by partition tuple THEN
            // the declared sort order — so an unpartitioned-but-sorted
            // table still gets near-disjoint file ranges across tasks
            // (sorting alone only tightens within-task files)
            val keys = dirCols.map(c => col(s"`$c`").asc) ++ sortKeys
            if (keys.isEmpty) out else out.repartitionByRange(keys: _*)
          case other => throw new IllegalArgumentException(
            s"unknown write.distribution-mode '$other' " +
              "(supported: none, hash, range)")
        }
      val sorted =
        if (sortSpec.isEmpty) distributed
        else distributed.sortWithinPartitions(
          (dirCols.map(c => col(s"`$c`").asc) ++ sortKeys): _*)
      // each file's stats are folded while the tasks write it
      val tracker = new FileStatsTracker(fileStatsSpec(name,
        StructType(sorted.schema.filterNot(f => dirCols.contains(f.name)))))
      Bridge.writeParquet(sorted, staging.toString, dirCols, Seq(tracker))
      promoteStaged(name, staging, tracker.statsOf(listStatusRec(staging)
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map(relativize(staging, _))))
    } finally { fs.delete(staging, true); () } // never strand staging garbage
  }

  /** Adopt staged parquet files (hive-partition-dir layout, PHYSICAL
    * column names) into the table's data directory under fresh unique
    * names, preserving partition subdirs and prefixing the CURRENT
    * partition-spec generation; writes the stats and bloom sidecars from
    * the writer's per-file stats and returns the adopted rel paths.
    * `staged` maps the staging-relative paths to adopt — the files the
    * writer's committed tasks reported — to their stats; speculative or
    * retried duplicates are left behind for the caller's staging
    * cleanup. ZERO-ROW files are not adopted (a CoW rewrite whose
    * partition lost every row writes a footer-only parquet): committing
    * one would bloat the manifest with a dead file forever. */
  private[tables] def promoteStaged(name: String, staging: HPath,
      staged: Map[String, FileStatsPartial]): Seq[String] = {
    val id = UUID.randomUUID().toString.take(8)
    // evolved-spec generations land under their `spec-<id>/` prefix,
    // so a file's rel path always identifies its layout
    val specId = currentSpecId(name)
    val specPrefix = if (specId == 0) "" else s"spec-$specId/"
    val spec = fileStatsSpec(name, physSchema(name))
    val parts = staged.toSeq.filter(_._2.rows > 0).sortBy(_._1)
    // renames and sidecar writes run on the parallel pool (distinct
    // targets; mkdirs is idempotent under the concurrent parent-dir
    // races): a hash-distributed partitioned commit lands hundreds of
    // files, and one blocking round-trip per file made promotion O(files)
    parFiles(parts.zipWithIndex) { case ((stagedRel, stats), i) =>
      val cut = stagedRel.lastIndexOf('/')
      val subDir = if (cut < 0) "" else stagedRel.substring(0, cut)
      val fn = f"$id-part$i%05d.parquet"
      val rel = specPrefix +
        (if (subDir.isEmpty) fn else s"$subDir/$fn")
      val target = new HPath(dataDir(name), rel)
      fs.mkdirs(target.getParent)
      val src = new HPath(staging, stagedRel)
      require(fs.rename(src, target), s"rename $src -> $target failed")
      writeFileStats(name, rel, spec, spec.finish(Seq(stats)))
      rel
    }
  }

  /** Commit a SQL row-level rewrite: adopt the distributed writer's
    * staged files (`kept` = staging-relative paths the tasks actually
    * committed) as the replacement for `removed`, planned against
    * snapshot `base` — one atomic snapshot, same optimistic-rebase
    * rules as every other CoW mutation. A no-op plan (nothing removed,
    * nothing staged) commits nothing. */
  private[tables] def commitRewriteStaged(name: String, base: Int,
      removed: Set[String], staging: HPath,
      kept: Map[String, FileStatsPartial],
      idKept: Set[String] = Set.empty): Unit = {
    try {
      // id-carrying files (row lineage) promote separately so the commit
      // excludes them from virtual-range assignment
      val (idStaged, freshStaged) = kept.partition(e => idKept(e._1))
      val idAdded = promoteStaged(name, staging, idStaged)
      val added = promoteStaged(name, staging, freshStaged)
      if (removed.nonEmpty || added.nonEmpty || idAdded.nonEmpty)
        commitManifest(name, base, removed, idAdded ++ added, Nil,
          idAdds = idAdded.toSet)
    } finally { fs.delete(staging, true); () }
  }

  /** Commit a DELTA write's staged output as ONE snapshot: the tasks'
    * appended data files (promoted with stats like any append) plus
    * their position-coordinate files gathered under a single positional
    * delete sidecar. Appended files are untouched by the sidecar by
    * construction (position masks are file-scoped). */
  private[tables] def commitDeltaStaged(name: String, staging: HPath,
      keptData: Map[String, FileStatsPartial], keptDel: Set[String],
      keptIdData: Set[String] = Set.empty): Unit = {
    try {
      if (keptData.isEmpty && keptDel.isEmpty) return
      val newDeletes =
        if (keptDel.isEmpty) Nil
        else {
          val rel = s"dv-${UUID.randomUUID()}"
          val dst = new HPath(deletesDir(name), rel)
          fs.mkdirs(dst)
          keptDel.foreach { r =>
            val src = new HPath(staging, r)
            require(fs.rename(src, new HPath(dst, fileName(r))),
              s"staging move of delete coordinates $src failed")
          }
          Seq((rel, Seq(TableStore.DvMarker)))
        }
      // id-carrying files (row lineage: update-after images) promote
      // SEPARATELY so the commit can exclude them from virtual-range
      // assignment
      val (idStaged, freshStaged) = keptData.partition(e => keptIdData(e._1))
      val idAdded = promoteStaged(name, staging, idStaged)
      val added = promoteStaged(name, staging, freshStaged)
      if (added.nonEmpty || idAdded.nonEmpty || newDeletes.nonEmpty)
        commitManifest(name, currentVersion(name), Set.empty,
          idAdded ++ added, idAdded ++ added,
          meta = Map("operation" -> "delta"), newDeletes = newDeletes,
          idAdds = idAdded.toSet)
    } finally { fs.delete(staging, true); () }
  }

  /** Full-row read of specific manifest rel paths (logical names,
    * partition values materialized) — the group-based row-level scan.
    * `rowIdsAt` additionally surfaces the lineage id column. */
  private[tables] def readDataFilesByRel(name: String,
      rels: Seq[String], rowIdsAt: Option[Int] = None): DataFrame =
    readFiles(name, rels.map(r => new HPath(dataDir(name), r).toString),
      rowIdsAt = rowIdsAt)

  private[tables] def sparkSession: SparkSession = spark
  private[tables] def hadoopConf: org.apache.hadoop.conf.Configuration = hconf
  private[tables] def fileSystem: FileSystem = fs
  private[tables] def tableDir(name: String): HPath = tdir(name)

  /** What a distributed row-level writer must reproduce of
    * [[writeDataFiles]]' layout: the parquet file schema (PHYSICAL
    * names, partition columns excluded, table order) plus the current
    * spec's partition columns — physical dir names and the LOGICAL-
    * schema ordinals their values come from. */
  private[tables] def writeLayout(name: String): TableStore.WriteLayout = {
    val sch = schema(name)
    val ph = physSchema(name) // nested renames ride along positionally
    val fields = partitionFields(name)
    val physOfIdx = ph.fields.map(_.name)
    // only IDENTITY sources leave the data file (their value is the
    // directory); hidden-transform sources stay data columns
    val identitySrc = fields.filter(_.isIdentity).map(_.source).toSet
    val dataIdx = physOfIdx.zipWithIndex.collect {
      case (p, i) if !identitySrc.contains(p) => i
    }
    val partIdx = fields.map(f => physOfIdx.indexOf(f.source))
    require(partIdx.forall(_ >= 0),
      s"partition sources ${fields.map(_.source)} not all present in " +
        s"schema of $name")
    TableStore.WriteLayout(
      StructType(dataIdx.map(i => ph.fields(i))),
      dataIdx,
      fields.map(_.dirName),
      partIdx,
      fields.map(f => sch.fields(physOfIdx.indexOf(f.source)).name),
      fields.map(_.render))
  }

  /** Commit an INTENT against the table's history, with optimistic
    * rebase (class doc, CONCURRENCY): `base` is the snapshot the
    * mutation was planned against, `removed` the files it rewrote or
    * dropped there, `added` the staged fresh files, `appended` the
    * subset of `added` that LOGICALLY appended rows (recorded for
    * [[readAppendedSince]] — delete survivors and compaction output are
    * NOT appends). The committed file set is computed UNDER THE LOCK
    * from the live head: `head \ removed ++ added`, valid whenever every
    * removed file is still live at the head (disjoint-file commutation);
    * a removed file already gone means a concurrent mutation rewrote the
    * same rows — staged files are deleted and
    * [[CommitConflictException]] thrown, nothing half-commits. The
    * pointer advances through the [[CommitCoordinator]] CAS; a lost swap
    * (possible only where the advisory lock is not atomic, e.g. S3)
    * deletes the just-written manifest family and retries against the
    * new head — Iceberg's optimistic catalog-commit loop. */
  private def commitManifest(name: String, base: Int, removed: Set[String],
      added: Seq[String], appended: Seq[String],
      meta: Map[String, String] = Map.empty,
      newDeletes: Seq[(String, Seq[String])] = Nil,
      dropDeletes: Boolean = false,
      branch: Option[String] = None,
      copyDeletesFrom: Option[Int] = None,
      reclaimAddedOnAbort: Boolean = true,
      // replaces the carried entry list VERBATIM (seqs preserved) —
      // the sidecar-compaction commit (rewriteDeletes)
      replaceDeletes: Option[Seq[DeleteEntry]] = None,
      // rel paths among `added` whose files CARRY materialized row ids
      // (lineage-preserving rewrites) — excluded from virtual-range
      // assignment
      idAdds: Set[String] = Set.empty): Unit = {
    val d = tdir(name)
    val ptrKey = refKey(name, branch)
    val lock = new HPath(d, "_commit.lock")
    beforeCommitHook()
    acquireLock(name, lock)
    try {
      var attempts = 0
      var committed = false
      while (!committed) {
        attempts += 1
        val headManifest = coord.current(ptrKey)
        val head = headManifest.map(versionOf).getOrElse(0)
        // a verbatim entry replacement is only sound against the exact
        // snapshot it was planned from — a concurrent commit may have
        // added entries the replacement would silently drop
        if (replaceDeletes.isDefined && head != base)
          throw new CommitConflictException(
            s"delete-sidecar rewrite of $name planned against snapshot " +
              s"$base but head is $head — re-run against the current snapshot")
        val headFiles: Seq[String] =
          headManifest.map(mf => readLines(new HPath(d, mf))).getOrElse(Nil)
        val files: Seq[String] =
          if (removed.isEmpty) headFiles ++ added // pure append: commutes
          else {
            val hs = headFiles.toSet
            val gone = removed.filterNot(hs)
            if (gone.nonEmpty) {
              if (reclaimAddedOnAbort) abortStaged(name, added)
              throw new CommitConflictException(
                s"mutation of table $name planned against snapshot $base " +
                  s"conflicts with current snapshot $head: rewritten file(s) " +
                  s"no longer live (${gone.take(3).mkString(", ")}" +
                  s"${if (gone.size > 3) ", ..." else ""}) — " +
                  "re-run the mutation against the current snapshot")
            }
            headFiles.filterNot(removed) ++ added
          }
        // age-fenced phantom reclaim: manifests numbered above the head
        // are crash/lost-CAS debris, but ONLY once old enough that no
        // live racing writer can still be about to swap to them —
        // eagerly deleting a seconds-old one could destroy a commit in
        // flight on a store where the lock is not atomic. Fresh
        // phantoms are harmless meanwhile: the parent-chain walk keeps
        // them out of incremental reads.
        reclaimPhantoms(name, head)
        val n = nextManifestId(name)
        val manifest = f"manifest-$n%06d.txt"
        // no-overwrite create: two racing writers can compute the same
        // id; exactly one claims the name, the other re-reads the head
        // and retries with the next id — never overwriting a manifest
        // another writer may be about to commit
        if (writeStringNoOverwrite(new HPath(d, manifest),
            files.mkString("\n"))) {
          // written even when empty: presence marks a sidecar-aware commit
          // (readAppendedSince falls back to the file-set diff without it)
          writeString(new HPath(d, f"manifest-$n%06d.appended"),
            appended.mkString("\n"))
          // merge-on-read delete sidecars: entries carry forward across
          // commits (each stamped with the version that committed it —
          // the Iceberg sequence number); a materializing commit drops
          // them. File sequences are tracked only WHILE deletes are
          // pending: a carried file keeps its recorded seq, a file never
          // recorded predates the first delete (seq 0), fresh files get
          // THIS commit's version — sound because every rewrite path
          // either materializes pending deletes first or drops them,
          // so new files never contain rows a pending delete masks.
          locally {
            // rollback restores the TARGET snapshot's pending-delete
            // state verbatim (entries + seqs are version-stamped with
            // commits ≤ target, all retained) instead of deriving from
            // the head being rolled away
            val headDel = copyDeletesFrom match {
              case Some(src) => readDeleteEntries(name, src)
              case None => if (dropDeletes || head == 0) Nil
                else readDeleteEntries(name, head)
            }
            val nextDel = replaceDeletes.getOrElse(
              (if (dropDeletes) Nil else headDel) ++
                newDeletes.map { case (rel, cols) => DeleteEntry(rel, cols, n) })
            if (nextDel.nonEmpty) {
              val seqSrc = copyDeletesFrom.getOrElse(head)
              val headSeqs =
                if (seqSrc == 0) Map.empty[String, Int] else readSeqs(name, seqSrc)
              // restored (rollback) files keep their source-snapshot seq —
              // absence there means "predates the deletes" (0), never
              // "newer than the masks"
              val addedSet =
                if (copyDeletesFrom.isDefined) Set.empty[String] else added.toSet
              val seqLines = files.map { f =>
                val s = headSeqs.getOrElse(f, if (addedSet.contains(f)) n else 0)
                s"$f\t$s"
              }
              writeString(new HPath(d, f"manifest-$n%06d.deletes"),
                nextDel.map(e =>
                  s"${e.rel}\t${e.cols.mkString(",")}\t${e.seq}")
                  .mkString("\n"))
              writeString(new HPath(d, f"manifest-$n%06d.seqs"),
                seqLines.mkString("\n"))
            }
          }
          writeConsolidated(name, n, head, files)
          // row lineage: assign first_row_id ranges to this commit's
          // VIRTUAL adds (metadata-only — counts come from the stats
          // the consolidated file just recorded), carry live files'
          // entries, never regress the counter (rollback takes the max
          // of source and rolled-away head)
          if (properties(name).get("row-lineage").contains("true")) {
            val srcV = copyDeletesFrom.getOrElse(head)
            val (srcNext, srcMap) = readRowIds(name, srcV)
            val (headNext, _) =
              if (head == srcV) (srcNext, srcMap) else readRowIds(name, head)
            var nextId = math.max(srcNext, headNext)
            val liveSet = files.toSet
            val carried = srcMap.filter { case (rel, _) => liveSet(rel) }
            val rows = readConsolidated(name, n).map(_.rows)
              .getOrElse(Map.empty[String, Long])
            val assigned = added.filterNot(idAdds).sorted.map { rel =>
              val cnt = rows.get(rel)
                .orElse(footerRowCount(new HPath(dataDir(name), rel)))
                .getOrElse(sys.error(
                  s"row lineage needs a row count for $rel of $name"))
              val e = rel -> nextId
              nextId += cnt
              e
            }
            val entries = (carried ++ assigned).toSeq.sortBy(_._1)
            writeString(rowIdsPath(name, n),
              (s"#next\t$nextId" +: entries.map { case (r, f) => s"$r\t$f" })
                .mkString("\n"))
          }
          writeMetaFile(name, n, head, meta)
          writeRollups(name, n, head,
            carried = files.filterNot(added.toSet), added = added)
          if (coord.swap(ptrKey, headManifest, manifest)) {
            committed = true
            // inside a transaction the swap only BUFFERED — register the
            // cleanup that makes a later abort leave no trace on disk
            coord match {
              case tx: TxOverlayCoordinator =>
                val v = n
                tx.onAbort { () =>
                  deleteManifestFamily(name, v)
                  if (reclaimAddedOnAbort) abortStaged(name, added)
                }
              case _ => ()
            }
          } else {
            // lost the pointer race: the manifest family is unreferenced
            // by any pointer — delete it (a failed CAS never
            // half-commits) and rebase against the new head
            deleteManifestFamily(name, n)
            if (attempts >= TableStore.CommitRetries) {
              if (reclaimAddedOnAbort) abortStaged(name, added)
              throw new CommitConflictException(
                s"commit to table $name lost the pointer race " +
                  s"${TableStore.CommitRetries} times — giving up; " +
                  "staged files were cleaned up, re-run the mutation")
            }
          }
        } else if (attempts >= TableStore.CommitRetries) {
          if (reclaimAddedOnAbort) abortStaged(name, added)
          throw new CommitConflictException(
            s"commit to table $name could not claim a manifest id after " +
              s"${TableStore.CommitRetries} attempts — giving up; " +
              "staged files were cleaned up, re-run the mutation")
        }
      }
    } finally { fs.delete(lock, false); () }
  }

  /** Consolidated per-snapshot metadata for commit `n` — zone stats AND
    * file lengths, so planning a scan needs no FS listing at all:
    * carried files copy their entries from the previous snapshot's
    * consolidated file (one read, re-VALIDATED at parse so corrupt or
    * pre-widening entries are scrubbed instead of propagated); fresh
    * files read the sidecar promoteStaged just wrote / one
    * getFileStatus (page-hot, O(new files)). A legacy table's first
    * commit here pays one O(files) sweep and is consolidated
    * thereafter. Files with no stats anywhere stay absent = never
    * pruned. */
  private def writeConsolidated(name: String, n: Int, head: Int,
      files: Seq[String]): Unit = {
    val prev = (if (head > 0) readConsolidated(name, head) else None)
      .getOrElse(TableStore.Consolidated(Map.empty, Map.empty, Map.empty))
    val fc = floatZoneCols(name)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def sidecarJson(rel: String): Option[com.fasterxml.jackson.databind.JsonNode] =
      try {
        val sp = statsPath(name, rel)
        if (!fs.exists(sp)) None
        else Some(mapper.readTree(readString(sp)))
      } catch { case scala.util.control.NonFatal(_) => None }
    val sidecarCache = scala.collection.mutable.Map
      .empty[String, Option[com.fasterxml.jackson.databind.JsonNode]]
    def sidecar(rel: String) = sidecarCache.getOrElseUpdate(rel, sidecarJson(rel))
    // pre-warm the cache for FRESH files on the parallel pool — the
    // loops below would otherwise read one sidecar at a time, making a
    // many-file partitioned commit O(files × latency) on the driver
    sidecarCache ++= parFiles(files.filterNot(prev.rows.contains))(r =>
      r -> sidecarJson(r))
    val statEntries =
      if (zoneCols(name).isEmpty) Nil
      else files.flatMap { rel =>
        prev.stats.get(rel)
          .orElse(sidecar(rel).map(parseFileStats(fc, _)))
          .filter(_.nonEmpty).map { cols =>
            val body = cols.map { case (c, (mn, mx)) =>
              s"${statJson(c)}: [${statJson(mn)}, ${statJson(mx)}]"
            }.mkString("{", ",", "}")
            s"${statJson(rel)}: $body"
          }
      }
    val freshLens = parFiles(files.filterNot(prev.lens.contains))(rel =>
      rel -> fs.getFileStatus(new HPath(dataDir(name), rel)).getLen).toMap
    val lenEntries = files.map { rel =>
      val len = prev.lens.getOrElse(rel, freshLens(rel))
      s"${statJson(rel)}: $len"
    }
    // per-file row counts (sidecar `__rows`, written for every fresh
    // file) — when every file of a snapshot carries one, count(*) and
    // friends answer from THIS file alone (metadata-only aggregates)
    val rowEntries = files.flatMap { rel =>
      prev.rows.get(rel).orElse(
        sidecar(rel).flatMap(node => Option(node.get("__rows")))
          .filter(v => v.isIntegralNumber && v.longValue() >= 0)
          .map(_.longValue()))
        .map(nRows => s"${statJson(rel)}: $nRows")
    }
    // per-file per-column null counts — carried forward like zone stats;
    // absence (legacy sidecars, stat-less tables) just disables the
    // null-aware pruning and CBO nullCount, never fails anything
    val nullEntries =
      if (zoneCols(name).isEmpty) Nil
      else files.flatMap { rel =>
        prev.nulls.get(rel).orElse(
          sidecar(rel).flatMap(node => Option(node.get("__nulls"))).map { nn =>
            val it = nn.properties().iterator()
            val b = Map.newBuilder[String, Long]
            while (it.hasNext) {
              val e = it.next()
              if (e.getValue.isIntegralNumber && e.getValue.longValue() >= 0)
                b += e.getKey -> e.getValue.longValue()
            }
            b.result()
          }.filter(_.nonEmpty))
          .map { cols =>
            val body = cols.map { case (c, v) => s"${statJson(c)}: $v" }
              .mkString("{", ",", "}")
            s"${statJson(rel)}: $body"
          }
      }
    // table-level NDV sketch per zone column: union of the previous
    // snapshot's sketch and the NEW files' per-file sketches (an append
    // unions one sketch per fresh file; no O(all files) work). Removed
    // files' contributions stay in — NDV is an UPPER bound after
    // deletes, which is the conservative direction for CBO join/filter
    // estimation. A column drops out (absent = unknown) when its
    // lineage breaks: a legacy ancestor without sketches, or a new file
    // whose sidecar lacks one.
    val ndvEntries =
      if (zoneCols(name).isEmpty) Nil
      else {
        val fresh = files.filterNot(prev.rows.contains)
        val lineageOk = head == 0 || prev.rows.isEmpty || prev.ndv.nonEmpty
        if (!lineageOk) Nil
        else zoneCols(name).flatMap { c =>
          val freshSketches = fresh.map { rel =>
            sidecar(rel).flatMap(node => Option(node.get("__hll")))
              .flatMap(nn => Option(nn.get(c)))
              .filter(_.isTextual).map(_.textValue())
          }
          val prevOk = prev.rows.isEmpty || prev.ndv.contains(c)
          if (!prevOk || freshSketches.exists(_.isEmpty)) None
          else try {
            val u = new org.apache.datasketches.hll.Union(TableStore.HllLgK)
            (prev.ndv.get(c).toSeq ++ freshSketches.flatten).foreach { b64 =>
              u.update(org.apache.datasketches.hll.HllSketch.heapify(
                java.util.Base64.getDecoder.decode(b64)))
            }
            val out = java.util.Base64.getEncoder.encodeToString(
              u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_4)
                .toCompactByteArray)
            Some(s"${statJson(c)}: ${statJson(out)}")
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    writeString(statsManifestPath(name, n),
      s"""{"stats": ${statEntries.mkString("{", ",", "}")}, """ +
        s""""len": ${lenEntries.mkString("{", ",", "}")}, """ +
        s""""rows": ${rowEntries.mkString("{", ",", "}")}, """ +
        s""""nulls": ${nullEntries.mkString("{", ",", "}")}, """ +
        s""""ndv": ${ndvEntries.mkString("{", ",", "}")}}""")
  }

  /** Delete the staged output of an aborted commit: fresh data files and
    * their stats/bloom sidecars. They were never referenced by any
    * committed manifest, so this is pure hygiene ([[removeOrphans]]
    * would collect them a day later anyway). */
  private def abortStaged(name: String, added: Seq[String]): Unit =
    added.foreach { rel =>
      fs.delete(new HPath(dataDir(name), rel), false)
      fs.delete(statsPath(name, rel), false)
      bloomCols(name).foreach(c => fs.delete(bloomPath(name, rel, c), false))
    }

  /** Delete manifest `version`'s whole family (.txt, .appended,
    * .stats.json, .meta.json, .bloom.*). */
  private def deleteManifestFamily(name: String, version: Int): Unit = {
    val d = tdir(name)
    val prefix = f"manifest-$version%06d."
    listNames(d).filter(_.startsWith(prefix))
      .foreach(f => fs.delete(new HPath(d, f), false))
  }

  /** Age-fenced reclaim of phantom manifests (numbered above the
    * committed head, older than [[TableStore.StaleLockMs]]). */
  private def reclaimPhantoms(name: String, head: Int): Unit = {
    val d = tdir(name)
    val cutoff = System.currentTimeMillis() - TableStore.StaleLockMs
    val candidates = listNames(d)
      .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
      .filter(f => versionOf(f) > head)
      .filter { mf =>
        try fs.getFileStatus(new HPath(d, mf)).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => false }
      }
    if (candidates.isEmpty) return
    // with refs, a manifest above THIS commit's head can be committed
    // history of another pointer (a branch's, or main's as seen from a
    // branch commit): anything reachable by the parent chain from any
    // live pointer is not a phantom. The walk is bounded below by the
    // smallest candidate version.
    val heads = (coord.current(name).map(versionOf).toSeq ++
      refs(name).values.map(_._2)).distinct
    val minCand = candidates.map(versionOf).min
    val reachable = scala.collection.mutable.Set[Int]()
    heads.foreach { h =>
      var v: Option[Int] = Some(h)
      while (v.exists(_ >= minCand)) {
        reachable += v.get
        v = v.flatMap(commitParent(name, _))
      }
    }
    candidates.filterNot(mf => reachable.contains(versionOf(mf)))
      .foreach(mf => deleteManifestFamily(name, versionOf(mf)))
  }

  /** Test seam: runs before the commit lock is taken — specs use it to
    * interleave a competing commit deterministically. */
  private[tables] var beforeCommitHook: () => Unit = () => ()

  /** Commit-serialization guard: contending writers WAIT here (bounded
    * by [[TableStore.LockWaitMs]]) instead of failing fast — with
    * optimistic rebase in [[commitManifest]], a queued writer usually
    * succeeds the moment the lock frees. A lock file left behind by a
    * crashed writer is reclaimed once it is older than
    * [[TableStore.StaleLockMs]] — commit windows are seconds, so a lock
    * aged tens of minutes cannot belong to a live commit.
    *
    * Atomicity: on `file:` the O_EXCL java.nio create is used (Hadoop's
    * RawLocalFileSystem create(overwrite=false) is check-then-create);
    * elsewhere fs.create(overwrite=false) is atomic (HDFS). Stale
    * reclamation is race-free: contenders RENAME the stale lock to a
    * unique name — exactly one rename succeeds — and only the winner
    * retries the create. On stores where none of this is atomic (S3),
    * the lock degrades to a contention-reducing hint and the
    * [[CommitCoordinator]] CAS in commitManifest remains the
    * correctness authority. */
  private def acquireLock(name: String, lock: HPath): Unit = {
    def tryCreate(): Boolean =
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { fs.create(lock, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(lock) => false
        }
      }
    val deadline = System.currentTimeMillis() + TableStore.LockWaitMs
    var lastAge = 0L
    while (true) {
      if (tryCreate()) return
      val age =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        catch {
          case _: java.io.FileNotFoundException =>
            // the holder released between our failed create and the stat
            // — retry the create immediately
            if (tryCreate()) return else 0L
        }
      lastAge = age
      if (age > TableStore.StaleLockMs) {
        // stale-lock recovery: claim via rename (only one contender wins)
        val claim = new HPath(lock.getParent,
          s"_commit.lock.reclaim-${UUID.randomUUID().toString.take(8)}")
        val won = try fs.rename(lock, claim)
          catch { case _: java.io.IOException => false }
        if (won) {
          fs.delete(claim, false)
          if (tryCreate()) return
        } else if (tryCreate()) {
          // rename lost because the lock vanished (holder released, or
          // another contender reclaimed and finished) — slot may be free
          return
        }
      }
      if (System.currentTimeMillis() >= deadline)
        throw new IllegalStateException(
          s"table $name has a concurrent writer holding the commit lock " +
            s"past the ${TableStore.LockWaitMs}ms wait ($lock, age " +
            s"${lastAge}ms; locks older than ${TableStore.StaleLockMs}ms " +
            "are reclaimed automatically)")
      Thread.sleep(20L)
    }
  }

  private def nextManifestId(name: String): Int = {
    val existing = listNames(tdir(name))
      .filter(f => f.startsWith("manifest-") && f.endsWith(".txt"))
      .map(f => f.stripPrefix("manifest-").stripSuffix(".txt").toInt)
    if (existing.isEmpty) 1 else existing.max + 1
  }
}

/** A copy-on-write mutation lost a concurrency race: a file it rewrote
  * was concurrently rewritten or removed (or, on a CAS-only store, the
  * pointer race was lost repeatedly). The mutation aborted CLEANLY —
  * staged files deleted, no snapshot committed, the table exactly as the
  * winning writer left it. Re-run the mutation against the current
  * snapshot. Appends never throw this: they always rebase. */
final class CommitConflictException(msg: String)
  extends RuntimeException(msg)

object TableStore {
  /** See [[TableStore.writeLayout]]. `dataPhysSchema` is the parquet
    * file schema; `dataOrdinals`/`partOrdinals` index the LOGICAL table
    * schema (= the row-level write's incoming row layout);
    * `partPhysNames` are the hive dir-segment names in spec order;
    * `partSpecs` the serialized [[PartitionField]] entries — a task
    * rebuilds the derived-value expression from them (hidden
    * partitioning), identity entries render the raw value. */
  final case class WriteLayout(
      dataPhysSchema: org.apache.spark.sql.types.StructType,
      dataOrdinals: Seq[Int],
      partPhysNames: Seq[String],
      partOrdinals: Seq[Int],
      partLogicalNames: Seq[String],
      partSpecs: Seq[String])

  /** Locks older than this are treated as crash debris and reclaimed. */
  val StaleLockMs: Long = 10 * 60 * 1000L

  /** Default bin-pack target for [[TableStore.compactSmallFiles]] —
    * Iceberg's write.target-file-size-bytes default (512 MB there;
    * 128 MB here matches spark.sql.files.maxPartitionBytes so one
    * packed file = one scan split). */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** How long a contending writer waits for the commit lock before
    * giving up. A var so specs exercising contention timeouts can
    * shrink it; commit windows are sub-second, so the default covers
    * deep writer queues. */
  @volatile var LockWaitMs: Long = 60 * 1000L

  /** Pointer-CAS retry budget (only consumed where the advisory lock is
    * not atomic and two writers truly race the coordinator). */
  val CommitRetries: Int = 5

  /** Default per-file bloom capacity. Size to the table's rows-per-file
    * (≈ maxPartitionBytes / row width); a filter built for many more
    * items than a file holds only wastes sidecar bytes, one built for
    * fewer saturates and stops pruning (fail open — correct, useless). */
  val DefaultBloomItems: Long = 100000L
  val BloomFpp: Double = 0.03

  /** Adopted files at least this large skip the zero-row footer check in
    * [[TableStore.addFiles]]: a footer-only (zero-row) parquet is a
    * few hundred bytes — far below this — so normally-sized data files
    * cost no per-file driver read at adoption. Generous headroom for
    * wide schemas whose footer metadata alone runs to kilobytes. */
  val EmptyFileCheckBytes: Long = 64 * 1024L

  /** Key batches larger than this skip bloom probing in the mutation
    * path: probe cost is O(candidate files × keys) driver-side, and a
    * huge batch touches most files anyway. */
  val BloomProbeMaxKeys: Int = 10000

  /** One snapshot's consolidated per-file metadata: zone bounds, file
    * lengths (plan without listing), row counts (metadata-only
    * aggregates), per-zone-column NULL counts (the Iceberg
    * null_value_counts: min/max bounds ignore nulls, so ordered-prefix
    * pruning and null-predicate skipping are unsound without them).
    * Maps may be partial — absence means "unknown". */
  private[tables] final case class Consolidated(
      stats: Map[String, Map[String, (Any, Any)]],
      lens: Map[String, Long],
      rows: Map[String, Long],
      nulls: Map[String, Map[String, Long]] = Map.empty,
      ndv: Map[String, String] = Map.empty)

  /** lgK of the per-file / table-level HLL NDV sketches (~2.5% rse,
    * ≤ 4 KB compact) — matches Spark's `hll_sketch_agg` default so
    * per-file sketches and driver-side unions agree on precision. */
  private[tables] val HllLgK: Int = 12

  /** One column's plan-time statistics (see [[TableStore.columnStatsFor]]):
    * every piece independently optional, bounds in the stats-sidecar
    * value domain (Long / Double / String). */
  private[tables] final case class ColStats(
      dataType: org.apache.spark.sql.types.DataType,
      ndv: Option[Long], nullCount: Option[Long],
      bounds: Option[(Any, Any)])

  /** Test observability: (files in snapshot, files kept) of the last
    * ACCEPTED limit/top-n pruning in this JVM — the spec face of the
    * DSv2 partial pushdown (same pattern as ZoneMapFileIndex
    * .lastScanCounts). None after a decline, so specs can pin both
    * engagement and refusal. Companion-level because the SQL path's
    * catalog holds its own TableStore instance. */
  @volatile private[graft] var lastLimitPrune: Option[(Int, Int)] = None

  /** Sentinel: a key value outside the bloom probe domain. */
  private[tables] case object Unprobeable

  /** Marker in a delete-sidecar entry's column list identifying a
    * POSITIONAL delete file ('#' can never appear in a column name). */
  private[tables] val PosMarker: String = "#pos"

  /** Marker for a DELETION-VECTOR positional sidecar: one roaring
    * bitmap of masked ordinals per data file ([[DeletionVectors]])
    * instead of one parquet row per tombstone. All positional writers
    * emit this format; [[PosMarker]] pair sidecars remain readable and
    * upgrade to DV whenever [[TableStore.rewriteDeletes]] merges them. */
  private[tables] val DvMarker: String = "#dv"

  /** Positional entry of either format. */
  private[tables] def isPosEntry(cols: Seq[String]): Boolean =
    cols == Seq(PosMarker) || cols == Seq(DvMarker)

  /** Largest total positional-sidecar byte size the V1 masked read will
    * broadcast as a deletion-vector map (the map-side mask that avoids
    * an anti-join shuffle). Above it, masking falls back to exploding
    * the bitmaps into a distributed pair anti-join — still correct,
    * no driver/executor map to hold. Compressed bitmaps make this cap
    * ~an order of magnitude harder to hit than the pair format it
    * replaced (SCALE.md round 9). */
  private[tables] val DvBroadcastMaxBytes: Long = 256L * 1024 * 1024

  /** Above this many written DV sidecar rows, [[writeDvSidecar]] checks
    * task-level duplication and compacts with one bitmap-row merge pass.
    * Below it, duplicate rows per file are cheaper than a second job. */
  private[tables] val DvCompactRowThreshold: Long = 128L

  /** Per-executor budget for CACHED deserialized DV probe maps
    * ([[DeletionVectors.cachedBitmaps]]): each masked V1 read creates a
    * fresh broadcast, so without a byte bound the cache would grow with
    * query count for the executor's lifetime. */
  private[tables] val DvProbeCacheMaxBytes: Long = 512L * 1024 * 1024

  /** Per-executor budget for CACHED built SPJ delete masks
    * ([[SpjMaskCache]]): one entry can expand up to [[SpjMaskMaxBytes]]
    * of sidecar into in-memory key sets, so the cache bounds ESTIMATED
    * BYTES, not entries. */
  private[tables] val SpjMaskCacheMaxBytes: Long = 1024L * 1024 * 1024

  /** Helper column names carrying (file rel path, row ordinal) through
    * position-aware reads. */
  private[tables] val PosFileCol: String = "__graft_pos_file"
  private[tables] val PosIdxCol: String = "__graft_pos_idx"

  /** ROW LINEAGE column (Iceberg v3 `_row_id`): a stable per-row id
    * assigned at first commit and carried across rewrites. Virtual by
    * default — a data file's ids are `first_row_id + ordinal`, assigned
    * METADATA-ONLY at commit from the per-file row counts the stats job
    * already records (no write-path cost, no distributed id-assignment
    * job) — and MATERIALIZED as a physical column of this name when a
    * lineage-preserving rewrite (compact / CoW delete / merge /
    * materialize / MoR update) rewrites the rows. Readers surface
    * `coalesce(materialized, first_row_id + ordinal)`. */
  val RowIdCol: String = "_row_id"

  /** Largest total pending-delete sidecar byte size the SPJ batch scan
    * will mask in its readers. Per-task sidecar re-reading is the
    * Iceberg MoR trade (cost = tasks × sidecar bytes, each set held in
    * executor memory); a table that has accumulated more pending
    * tombstones than this stays on the V1 masked read until maintenance
    * folds them ([[TableStore.materializeDeletes]] / compaction). */
  private[graft] val SpjMaskMaxBytes: Long = 256L * 1024 * 1024

  /** Change-feed label columns (the Delta-CDF spellings, so downstream
    * consumers port unchanged). */
  val ChangeTypeCol: String = "_change_type"
  val CommitVersionCol: String = "_commit_version"

  /** Tombstone batches at or below this row count skip layout
    * clustering (one sorted sidecar file, no range shuffle, no stats
    * pass): a ≤64k-key sidecar is ~1 MB — cheaper for every task to
    * read whole than the clustering costs to write. Override per
    * session with `graft.eq.clusterFloorRows`. */
  val EqClusterFloorRows: Long = 65536L

  /** Marker inside a STAGED table's name (atomic CTAS/RTAS): staged
    * tables are full tables on disk but invisible to [[TableStore.tables]]
    * until published by rename ([[TableStore.renameTable]]) or swap
    * ([[TableStore.replaceTable]]). User table names may not contain it. */
  val StageMarker: String = "__stage__"

  /** Everything a scan needs to plan one spec generation of a snapshot:
    * the zone-map index (partition values, stats, blooms, bucket dirs all
    * wired), the partition/data schemas it was built for, and the parsed
    * partition fields. Factored from the indexed read so the DSv2 batch
    * scan ([[GraftBatchScan]]) plans files through the SAME pruning
    * machinery the V1 relation uses — one code path for file skipping. */
  private[tables] final case class ZoneIndexBundle(idx: ZoneMapFileIndex,
      pFields: Seq[PartitionField],
      dirTypes: Seq[org.apache.spark.sql.types.DataType],
      pSchema: org.apache.spark.sql.types.StructType,
      dataSch: org.apache.spark.sql.types.StructType,
      physSch: org.apache.spark.sql.types.StructType)

  /** One pending equality-delete sidecar as the SPJ batch reader sees
    * it: key columns (physical == logical under the no-rename gate),
    * the commit sequence it applies FROM (masks only files with a lower
    * recorded sequence), and its parquet part files (path, length). */
  /** `ranges`: per sidecar FILE NAME, per key column, the file's (min,
    * max) in the stat domain — present when the sidecar was written
    * key-sorted ([[TableStore.writeEqSidecar]]). Empty = pre-range
    * sidecar; readers fall back to reading every file. */
  private[tables] final case class SpjEqDelete(cols: Seq[String], seq: Int,
      files: Seq[(String, Long)],
      ranges: Map[String, Map[String, (Any, Any)]] = Map.empty)

  /** Worst single-point stabbing weight of an entry's sidecar files on
    * key column `c`: the max total bytes of files whose [min, max] on
    * `c` contains one value — what ONE identity-layout key-group task
    * retains after range-based file skipping (its partition value is a
    * point; every other file is skipped at mask-build time). None when
    * any file lacks a range on `c` or a sort comparison hits a
    * non-comparable pair — the caller falls back to total bytes. The
    * max over all points occurs at some interval start, so a sorted
    * endpoint sweep (starts before ends at equal coordinates, closed
    * intervals) is exact in O(n log n) — a layout-clustered 100-TB
    * pile's thousands of slices per entry must not trigger a quadratic
    * driver stall (the brute-force-equivalence property is pinned in
    * SpjSpec). */
  private[tables] def maxPointBytes(files: Seq[(String, Long)],
      ranges: Map[String, Map[String, (Any, Any)]], c: String): Option[Long] = {
    val iv = files.map { case (path, len) =>
      val fn = path.substring(path.lastIndexOf('/') + 1)
      ranges.get(fn).flatMap(_.get(c)).map { case (mn, mx) => (mn, mx, len) }
    }
    if (iv.exists(_.isEmpty) || iv.isEmpty) return None
    val list = iv.flatten
    // The sweep's sort only compares O(n log n) PAIRS, so a
    // non-comparable or cross-type pair could slip through undetected
    // (wrong budget instead of the conservative fallback) — and a
    // lossy mixed-type order (Long-vs-Double via double) is
    // intransitive, which TimSort surfaces as an uncaught contract
    // IllegalArgumentException. Require one runtime class across every
    // endpoint up front: within a class ZoneStats.cmp is a total
    // order; anything mixed falls back to total bytes.
    val cls = list.head._1.getClass
    if (!list.forall { case (mn, mx, _) =>
        mn.getClass == cls && mx.getClass == cls }) return None
    final case class Ev(at: Any, start: Boolean, len: Long)
    object NonComparable extends scala.util.control.ControlThrowable
    val evs = list.flatMap { case (mn, mx, len) =>
      Seq(Ev(mn, start = true, len), Ev(mx, start = false, len)) }
    try {
      val sorted = evs.sortWith { (a, b) =>
        ZoneStats.cmp(a.at, b.at) match {
          case Some(o) => if (o != 0) o < 0 else a.start && !b.start
          case None => throw NonComparable
        }
      }
      var cur = 0L
      var best = 0L
      sorted.foreach { e =>
        if (e.start) { cur += e.len; best = math.max(best, cur) }
        else cur -= e.len
      }
      Some(best)
    } catch {
      case NonComparable => None
      // a comparator contract violation inside the sort must degrade to
      // the conservative fallback, never crash the planner
      case _: IllegalArgumentException => None
    }
  }

  /** Pending merge-on-read delete state the SPJ batch reader must apply
    * per data file (Iceberg-style: each read task re-reads the small
    * applicable sidecars and masks in memory, so the bucket layout —
    * and with it the zero-exchange join — survives CDC tombstones).
    * `fileSeqs` maps data-file rel paths to their recorded sequence;
    * an absent file predates every pending delete. */
  private[tables] final case class SpjDeleteMask(eq: Seq[SpjEqDelete],
      posFiles: Seq[(String, Long)],
      dvFiles: Seq[(String, Long)],
      fileSeqs: Map[String, Int])

  /** Inputs of the storage-partitioned-join batch scan (see
    * [[TableStore.spjPlan]]): the snapshot version it was planned
    * against, the all-bucket partition spec in layout order, the
    * zone-index bundle whose `listFiles` supplies pruned candidates
    * grouped by bucket tuple, and the pending-delete mask the reader
    * applies per file (None = nothing pending). */
  private[tables] final case class SpjPlan(version: Int,
      fields: Seq[PartitionField],
      bundle: ZoneIndexBundle,
      mask: Option[SpjDeleteMask])

  /** Structural name/type equality at every nesting level — true when no
    * logical→physical rename exists anywhere, so logical rows ARE
    * physical rows positionally and a raw parquet reader needs no
    * relabel projection. Nullability and metadata are layout-irrelevant
    * and ignored. */
  private[tables] def sameNameTree(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.types.StructType,
          y: org.apache.spark.sql.types.StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
        f.name == g.name && sameNameTree(f.dataType, g.dataType) }
    case (x: org.apache.spark.sql.types.ArrayType,
          y: org.apache.spark.sql.types.ArrayType) =>
      sameNameTree(x.elementType, y.elementType)
    case (x: org.apache.spark.sql.types.MapType,
          y: org.apache.spark.sql.types.MapType) =>
      sameNameTree(x.keyType, y.keyType) && sameNameTree(x.valueType, y.valueType)
    case _ => a == b
  }
}
