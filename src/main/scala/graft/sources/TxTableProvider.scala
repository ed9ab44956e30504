package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("txtable")` / `CREATE TABLE ... USING txtable`:
  * the [[TxTable]] format as a registered Spark data source, making the
  * manifest-stat + Bloom file skipping the DEFAULT read path. Its scan
  * relation ([[TxTableProvider.relationFor]]) is the only way a table's
  * data files are read: [[TxTable.read]], the explicit picks
  * ([[TxTable.readPruned]], [[TxTable.readPointLookupLong]]), the change
  * feed and every rewrite build it over the files they picked.
  *
  * ==Why a `FileIndex`, not a bespoke DSv2 reader==
  * The relation returned for a scan is Spark's own [[HadoopFsRelation]]
  * over a custom [[TxFileIndex]] — the seam Delta Lake reads through
  * (its `TahoeLogFileIndex`). `FileSourceStrategy` hands the
  * post-pushdown data filters to `FileIndex.listFiles`, so file-level
  * skipping composes with everything the parquet path already does:
  * vectorized reads, whole-stage codegen, parquet row-group pushdown
  * (`PushedFilters` in explain), column pruning (`ReadSchema`), and
  * `_metadata` columns. A DSv2 `PartitionReaderFactory` would have had
  * to re-implement (or forfeit) all of that to add the one thing this
  * format contributes: WHICH files a snapshot's filters admit.
  *
  * ==What prunes==
  * [[TxPrune]] translates the scan's data filters into manifest
  * consultations: =, <, <=, >, >=, IN, and prefix (`LIKE 'x%'`)
  * constraints on columns with recorded [[TxTable.ColRange]] stats skip
  * files by range; equality and IN additionally probe per-file Bloom
  * sidecars. Everything unrecognized keeps every file — skipping must
  * never drop data — and every admitted file still re-applies the full
  * predicate row-by-row inside the scan, so a pruned read is
  * value-identical to a full scan (the oracle row `tx_provider_prune`
  * hash-checks exactly that; `TxProviderSpec` asserts files are
  * actually skipped).
  *
  * ==At 100 TB==
  * The listing work is O(manifest) on the driver — the same contract as
  * Delta: one manifest parse + one in-memory filter pass per query, no
  * object-store LIST (the manifest IS the listing), Bloom sidecars
  * fetched only for files that survive range pruning. Reads are pinned
  * to the manifest resolved at DataFrame creation (snapshot isolation);
  * `refresh()` is a no-op by design — re-create the DataFrame to see a
  * newer version, exactly [[TxTable.read]]'s semantics.
  *
  * Write path: `df.write.format("txtable").mode(...)` routes to
  * [[TxTable.commit]] (options `statsColumns`, `bloomColumns`,
  * `bloomBits`, `bloomK` — comma-separated column lists); SQL writes go
  * through the `graft_tx_*` TVFs ([[graft.expr.GraftTableFunctions]]).
  */
class TxTableProvider extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "txtable"

  private def dirOf(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path", throw new IllegalArgumentException(
      "txtable needs a path: spark.read.format(\"txtable\").load(dir) " +
        "or CREATE TABLE ... USING txtable LOCATION '<dir>'"))
    // the catalog qualifies LOCATION to a URI (file:/tmp/t); TxTable's
    // manifest layer speaks filesystem paths — unwrap the local scheme,
    // reject remote ones loudly (the manifest I/O is java.nio in this
    // build; an object-store port swaps that layer plus the arbiter,
    // not this provider)
    val scheme = try Option(new java.net.URI(raw).getScheme)
      catch { case _: java.net.URISyntaxException => None }
    scheme match {
      case None => raw
      case Some("file") => new java.net.URI(raw).getPath
      case Some(other) => throw new IllegalArgumentException(
        s"txtable manifests are filesystem-backed in this build; got " +
          s"scheme '$other' in $raw")
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = dirOf(parameters)
    val version = parameters.get("versionAsOf").map(_.toLong)
    val snap = version.map(TxTable.snapshot(dir, _)).orElse(TxTable.latest(dir))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed TxTable version at $dir"))
    TxTableProvider.relationFor(sqlContext.sparkSession, dir, snap, table = true)
  }

  /** `CREATE TABLE t (cols...) USING txtable` (and every later catalog
    * resolution, which replays the STORED schema through this arm) hands
    * the declared schema here. The manifest is authoritative: the
    * declaration must match the manifest's LEADING fields — an exact
    * match, or a strict prefix after ADDITIVE evolution (appends may add
    * trailing nullable columns, [[TxTable.commit]], and the catalog's
    * stored schema then lags until the entry is re-created; reads expose
    * the full manifest schema either way, the Delta stance of treating
    * catalog metadata as a hint). A type change or a declared column the
    * manifest lacks is a real incompatibility and fails loudly.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation = {
    val rel = createRelation(sqlContext, parameters)
    val own = rel.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val declared = schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(declared == own.take(declared.length),
      s"declared schema $declared does not match the TxTable manifest " +
        s"schema $own at ${dirOf(parameters)} — the manifest is " +
        "authoritative; omit the column list, or DROP and re-CREATE the " +
        "catalog entry if the table's schema evolved incompatibly")
    rel
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = dirOf(parameters)
    def csv(k: String): Seq[String] =
      parameters.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    def commit(m: String): Unit = {
      TxTable.commit(data, dir, m,
        statsColumns = csv("statsColumns"),
        bloomColumns = csv("bloomColumns"),
        bloomBits = parameters.get("bloomBits").map(_.toInt)
          .getOrElse(TxTable.DefaultBloomBits),
        bloomK = parameters.get("bloomK").map(_.toInt).getOrElse(TxTable.DefaultBloomK))
      ()
    }
    val exists = TxTable.latest(dir).isDefined
    mode match {
      case SaveMode.Append => commit(if (exists) "append" else "overwrite")
      case SaveMode.Overwrite => commit("overwrite")
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"TxTable at $dir already exists (SaveMode.ErrorIfExists)")
        commit("overwrite")
      case SaveMode.Ignore => if (!exists) commit("overwrite")
    }
    createRelation(sqlContext, parameters)
  }
}

object TxTableProvider {

  /** The scan relation for one pinned snapshot: every column nullable,
    * as Spark's own file sources read (a file may hold a null the
    * manifest schema does not declare). With `table` it is the
    * `format("txtable")` relation, which an INSERT may target; without,
    * a read of the snapshot's files ([[TxTable]]'s own reads, over the
    * files they picked), which applies the deletion vectors itself.
    *
    * A table relation over a snapshot carrying deletion vectors plans
    * with [[DvGuardParquetFileFormat]] — the format IS the DV marker:
    * [[TxDvScanRule]] expands every guard-formatted relation into
    * (clean file scan ⟕̸ broadcast DV anti-join) during post-hoc
    * resolution, so a MoR table reads through the SAME vectorized,
    * whole-stage-codegen'd, TxFileIndex-pruned parquet path as a clean
    * one — the Delta `TahoeLogFileIndex`+DV composition. The marker must live in the
    * FILE FORMAT (not the options map): the catalog's relation cache
    * rebuilds resolved relations with the CatalogTable's own storage
    * options, preserving only location + format. And a session that
    * never registered the rule fails LOUDLY through the guard instead
    * of silently resurrecting deleted rows.
    */
  private[graft] def relationFor(spark: SparkSession, dir: String,
      snap: TxTable.Snapshot, table: Boolean): HadoopFsRelation =
    HadoopFsRelation(
      location = new TxFileIndex(spark, dir, snap, fileRoots = !table),
      partitionSchema = new StructType(),
      dataSchema = nullable(snap.schema).asInstanceOf[StructType],
      bucketSpec = None,
      fileFormat =
        if (table && snap.dvs.nonEmpty) new DvGuardParquetFileFormat()
        else new ParquetFileFormat(),
      options = Map("graft.txtable.dir" -> dir,
        "graft.txtable.version" -> snap.version.toString))(spark)

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}

/** Parquet format that refuses to build readers: the correctness fuse
  * for deletion-vector-carrying snapshots. [[TxDvScanRule]] swaps it for
  * the real [[ParquetFileFormat]] when it expands the DV anti-join; a
  * scan that still carries this format at execution time means the
  * session never registered `graft.expr.GraftExtensions`, and reading
  * WITHOUT the anti-join would resurrect every deleted row — fail the
  * query, never the data.
  */
private[graft] class DvGuardParquetFileFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] =
    throw new IllegalStateException(
      "this txtable snapshot carries deletion vectors; reading it " +
        "requires the TxDvScanRule rewrite — register " +
        "spark.sql.extensions=graft.expr.GraftExtensions (or fold the " +
        "DVs away with TxTable.compact/foldDvs)")
}

/** Manifest-backed [[FileIndex]] for one pinned [[TxTable.Snapshot]]:
  * `listFiles` intersects the scan's data filters with the manifest's
  * per-file ranges and Bloom sidecars ([[TxPrune]]) — Spark's planner
  * calls it with exactly the filters that reached the scan, so every
  * `WHERE` skips files, over `format("txtable")` and [[TxTable.read]]
  * alike. A snapshot restricted to picked files (the explicit reads, the
  * change feed, the rewrites) lists only those.
  *
  * File statuses come from one `getFileStatus` per manifest entry at
  * construction — O(files) driver RPCs once per DataFrame, the listing
  * cost any parquet read pays; at object-store scale the manifest would
  * additionally record lengths to skip even that (the Delta checkpoint
  * refinement), a write-side change this format can adopt without
  * touching readers (unknown manifest lines are ignored).
  */
class TxFileIndex private[sources] (spark: SparkSession,
    private[graft] val tableDir: String, private[graft] val snap: TxTable.Snapshot,
    fileRoots: Boolean) extends FileIndex {

  private def dir: String = tableDir

  private val hadoopConf = spark.sessionState.newHadoopConf()

  private val statuses: Seq[(String, FileStatus)] = {
    val root = new HadoopPath(dir)
    lazy val fs = root.getFileSystem(hadoopConf)
    // manifest-recorded byte lengths make the listing PURE MANIFEST —
    // zero filesystem RPCs at plan time (Delta's checkpoint refinement);
    // the synthesized status carries length + path, which is all
    // FileSourceScanExec consumes for splitting and metrics. Manifests
    // written before sizes were recorded fall back to one getFileStatus
    // per file.
    snap.files.map { f =>
      val p = new HadoopPath(root, f)
      f -> snap.sizes.get(f)
        // mtime = the SNAPSHOT's commit wall-clock (round 11): a
        // size-recorded manifest never touches the filesystem, so the
        // synthesized status carries the manifest's `ts=` — what
        // `_metadata.file_modification_time` then surfaces. Semantics:
        // "when did the version I'm reading commit" (an upper bound for
        // carried-forward files), not per-file write time. Pre-ts
        // manifests synthesize 0 (unknown), matching their parse.
        .map(len => new FileStatus(len, false, 1, 128L * 1024 * 1024,
          snap.commitTs, fs.makeQualified(p)))
        .getOrElse(fs.getFileStatus(p))
    }
  }

  /** The table directory — the one path an INSERT into the table
    * targets — or, with `fileRoots`, the listed files, as a scan's
    * `Location` shows them for a parquet read of those files.
    */
  override def rootPaths: Seq[HadoopPath] =
    if (fileRoots) statuses.map(_._2.getPath) else Seq(new HadoopPath(dir))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = TxPrune.keptFiles(dir, snap, dataFilters)
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.collect { case (rel, st) if kept(rel) =>
        FileStatusWithMetadata(st, Map.empty)
      }))
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  /** No-op: the index IS one immutable manifest (snapshot isolation);
    * a newer version is a new DataFrame, never a mutated plan.
    */
  override def refresh(): Unit = ()
}

/** Catalyst-filter → manifest-skipping translation. Every function here
  * returns a SOUND over-approximation: a file is dropped only when NO
  * row in it can satisfy the filter according to recorded stats; columns
  * without stats, literals whose type differs from the column's (the
  * comparison would coerce — [[TxTable]]'s typed-stats stance), and
  * unrecognized expression shapes keep everything. The scan re-applies
  * the full predicate to every admitted row, so precision here costs
  * I/O only, never correctness.
  */
private[graft] object TxPrune {

  import TxTable.{ColRange, Snapshot, utf8, utf8Cmp}

  /** The manifest files admitted by the conjunction `dataFilters`. */
  def keptFiles(dir: String, snap: Snapshot,
      dataFilters: Seq[Expression]): Set[String] = {
    val sets = dataFilters.flatMap(keepFor(dir, snap, _))
    if (sets.isEmpty) snap.files.toSet
    else sets.reduce(_ intersect _)
  }

  /** The files of `snap` that `column = value` admits, in snapshot order:
    * [[TxTable.readPointLookupLong]]'s pick is the equality pick of a
    * `WHERE` over the provider.
    */
  def pointFiles(dir: String, snap: Snapshot, column: String, value: Any): Seq[String] =
    pointKeep(dir, snap, column, Seq(Literal(value))).fold(snap.files)(k => snap.files.filter(k))

  /** Files possibly matching `e`, or None when `e` cannot prune. */
  private def keepFor(dir: String, snap: Snapshot,
      e: Expression): Option[Set[String]] = e match {
    case EqualTo(a: AttributeReference, l: Literal) => pointKeep(dir, snap, a.name, Seq(l))
    case EqualTo(l: Literal, a: AttributeReference) => pointKeep(dir, snap, a.name, Seq(l))
    case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
      pointKeep(dir, snap, a.name, Seq(l))
    case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
      pointKeep(dir, snap, a.name, Seq(l))
    case GreaterThan(a: AttributeReference, l: Literal) =>
      boundKeep(snap, a, l, lower = true, inclusive = false)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      boundKeep(snap, a, l, lower = true, inclusive = true)
    case LessThan(a: AttributeReference, l: Literal) =>
      boundKeep(snap, a, l, lower = false, inclusive = false)
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      boundKeep(snap, a, l, lower = false, inclusive = true)
    // literal-on-the-left comparisons: flip the bound side
    case GreaterThan(l: Literal, a: AttributeReference) =>
      boundKeep(snap, a, l, lower = false, inclusive = false)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      boundKeep(snap, a, l, lower = false, inclusive = true)
    case LessThan(l: Literal, a: AttributeReference) =>
      boundKeep(snap, a, l, lower = true, inclusive = false)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      boundKeep(snap, a, l, lower = true, inclusive = true)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      pointKeep(dir, snap, a.name, vs.map(_.asInstanceOf[Literal]))
    case InSet(a: AttributeReference, vs) =>
      pointKeep(dir, snap, a.name, vs.toSeq.map(Literal.create(_, a.dataType)))
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
      prefixKeep(snap, a, p.toString)
    case Or(x, y) =>
      for (kx <- keepFor(dir, snap, x); ky <- keepFor(dir, snap, y))
        yield kx union ky
    case And(x, y) =>
      (keepFor(dir, snap, x), keepFor(dir, snap, y)) match {
        case (Some(kx), Some(ky)) => Some(kx intersect ky)
        case (some @ Some(_), None) => some
        case (None, some) => some
      }
    case _ => None // IsNotNull, casts, UDFs, ... — no sound skip
  }

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** The canonical long of `l` in the domain [[TxTable]] stats are
    * recorded in (date = epoch days, timestamp = epoch micros, exactly
    * the Catalyst internal values): an integral literal against an
    * integral column (the comparison widens both, exactly), or a date or
    * timestamp literal of the column's own type. Any other pairing
    * coerces — `stringCol = 37` matches a stored "037", which shares
    * neither range nor Bloom bits with 37 — so the stats domain does not
    * apply.
    */
  private def longValue(l: Literal, colType: DataType): Option[Long] =
    (l.value, l.dataType, colType) match {
      case (v: Number, lt, ct) if integral(lt) && integral(ct) => Some(v.longValue)
      case (v: Int, DateType, DateType) => Some(v.toLong)
      case (v: Long, TimestampType, TimestampType) => Some(v)
      case _ => None
    }

  private def stringValue(l: Literal, colType: DataType): Option[String] =
    (l.value, colType) match {
      case (v: UTF8String, StringType) if l.dataType == StringType =>
        Some(v.toString)
      case _ => None
    }

  /** Equality with any of `ls`: range check plus Bloom probe, through ONE
    * call of the driver pick the merge's hit pick shares
    * ([[TxTable.filesForKeys]]), so each Bloom sidecar is parsed once
    * however many values are probed. A null or uncanonicalisable value,
    * or no value at all, keeps every file.
    */
  private def pointKeep(dir: String, snap: Snapshot, column: String,
      ls: Seq[Literal]): Option[Set[String]] = {
    val colType = snap.schema.fields.find(_.name == column).map(_.dataType)
      .getOrElse(return None)
    val keys = ls.map(l => longValue(l, colType).orElse(stringValue(l, colType)))
    if (keys.isEmpty || keys.exists(_.isEmpty)) None
    else {
      val (admitted, unprobed) = TxTable.filesForKeys(dir, snap, column, keys.flatten)
      Some((admitted ++ unprobed).toSet)
    }
  }

  /** One-sided comparison. `lower` = the literal bounds the column from
    * below (`col > l`, `l < col`); exclusive long bounds tighten by 1
    * with overflow saturation (`col > Long.MaxValue` admits nothing).
    */
  private def boundKeep(snap: Snapshot, a: AttributeReference, l: Literal,
      lower: Boolean, inclusive: Boolean): Option[Set[String]] = {
    val colType = snap.schema.fields.find(_.name == a.name).map(_.dataType)
      .getOrElse(return None)
    longValue(l, colType) match {
      case Some(v) =>
        val adj: Option[Long] =
          if (inclusive) Some(v)
          else if (lower) { if (v == Long.MaxValue) None else Some(v + 1) }
          else { if (v == Long.MinValue) None else Some(v - 1) }
        adj match {
          case None => Some(Set.empty) // exclusive bound beyond the domain
          case Some(b) =>
            Some((if (lower) snap.filesOverlapping(a.name, b, Long.MaxValue)
            else snap.filesOverlapping(a.name, Long.MinValue, b)).toSet)
        }
      case None =>
        stringValue(l, colType).map { s =>
          // exclusive string bounds are treated as inclusive — sound
          // (admits at most the boundary value's files)
          (if (lower) snap.filesWhere(a.name)(_.overlapsString(s, None))
          else snap.filesOverlappingString(a.name, "", s)).toSet
        }
    }
  }

  /** `col LIKE 'p%'`: byte-interval [p, byte-successor(p)) in the same
    * UTF-8 order the string stats are recorded in.
    */
  private def prefixKeep(snap: Snapshot, a: AttributeReference,
      prefix: String): Option[Set[String]] = {
    val colType = snap.schema.fields.find(_.name == a.name).map(_.dataType)
    if (!colType.contains(StringType)) return None
    val pb = utf8(prefix)
    Some(snap.filesWhere(a.name) {
      case ColRange("string", min, max) =>
        // file admits the prefix iff max >= p (byte order) and min's
        // first |p| bytes <= p — i.e. min is not already past every
        // string carrying the prefix
        val minB = utf8(min)
        utf8Cmp(max, prefix) >= 0 && java.util.Arrays.compareUnsigned(
          minB, 0, math.min(minB.length, pb.length), pb, 0, pb.length) <= 0
      case _ => true
    }.toSet)
  }
}
