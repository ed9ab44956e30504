package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** A minimal transactional table format over plain parquet — the
  * engine's answer to the "Structured Streaming + Delta/Iceberg" stance
  * in BASELINE.md, built from first principles because this sandbox
  * ships no table-format dependency. Every streamed table and serving
  * index in the engine is one: a per-directory overwrite convention is
  * idempotent but gives readers no atomic multi-file commit, no snapshot
  * isolation, and no time travel — the three things a production CDC
  * target needs first.
  *
  * ==Layout==
  * {{{
  * table/
  *   data/<commit-uuid>/part-*.parquet   // immutable, written once
  *   _txlog/v<N>.manifest                // one text file per version
  * }}}
  * A manifest is the COMPLETE snapshot description: schema (Spark's own
  * `StructType.json`) plus the full relative file list — the
  * Delta-checkpoint shape, chosen over deltas so a read is one manifest
  * parse, never a log replay.
  *
  * ==Commit protocol (ACID on a POSIX filesystem)==
  *  1. Write data files under a fresh `data/<uuid>/` dir (invisible to
  *     readers — only manifest-listed files are ever read). ONE Spark
  *     write job through [[StatsParquetFileFormat]]: its writer records
  *     each file's row count, per-column min/max and Bloom words as the
  *     rows pass, so no job or footer read follows the write, and a
  *     zero-row file is never listed.
  *  2. Read the current latest version V, compose the new full file
  *     list (append: V's files + new; overwrite: new only).
  *  3. Publish as `v<V+1>.manifest` via [[CommitArbiter.putIfAbsent]] —
  *     the ONE storage-specific primitive in the protocol. The default
  *     [[LocalLinkArbiter]] hard-links from a temp file (POSIX link(2)
  *     atomically fails if the target exists — the put-if-absent a
  *     rename cannot provide, since POSIX rename silently replaces and
  *     a lost race would clobber a committed version); an object store
  *     swaps in a conditional put (see [[CommitArbiter]]'s contract).
  *     A loser re-reads the new latest and retries — optimistic
  *     concurrency, appends commute, overwrite is last-writer-wins.
  * Readers see either the old or the new manifest, never a partial
  * state: data files are complete before the publish, and the publish
  * is the single visibility point (Delta's LogStore seam). Every
  * publish is one [[Snapshot]] composed as base − removed files + the
  * written batch, through one of two loops: [[commit]]'s
  * (compose against ANY latest) or the read-modify-write loop shared by
  * [[merge]], [[foldDvs]], [[compactSmallFiles]] and [[compact]] (CAS at
  * exactly base + 1, re-derive on a lost race).
  *
  * ==Exactly-once ledger==
  * A streamed writer stamps each commit with its epoch (and writer
  * stream), and every manifest carries the table's ledger — each
  * stream's highest applied epoch, as `txn=` lines — forward from its
  * base. The latest manifest alone answers "was this epoch applied?"
  * ([[appliedEpoch]]), the way Structured Streaming's sinks key
  * idempotence on a stored version; vacuum and compaction keep it. A
  * streamed merge ([[mergeStamped]]) checks its epoch against the ledger
  * of the very base its CAS publishes on, so a replay that loses a race
  * to its own first application skips instead of committing twice.
  *
  * ==Schema evolution==
  * Appends may ADD nullable columns (old files read as null via the
  * snapshot schema); dropping or retyping an existing column is
  * rejected on append (rewriting history's meaning) and allowed on
  * overwrite (the table is being replaced). Time travel reads each
  * version under ITS OWN schema.
  *
  * ==At 100 TB==
  * The manifest lists files, not rows — O(files) driver text, the same
  * scaling contract as Delta's checkpoint. Old versions retain their
  * files until [[vacuum]] (keep the last k versions; unreferenced data
  * files and expired manifests are deleted). Readers pin a manifest, so
  * vacuum of RETAINED versions is always safe.
  */
object TxTable {

  /** A file's min/max for one column, AT THE COLUMN'S OWN TYPE.
    * `kind` is the ordering domain: "long" (integral columns, plus
    * date as epoch days and timestamp as epoch micros — all exact
    * canonical longs) or "string" (UTF-8 byte order — the order Spark's
    * own string comparison uses, so a pruned read equals a filtered
    * read). `min`/`max` are the repr strings (decimal digits for long,
    * the raw value for string). A query whose bound kind differs from
    * the recorded kind never skips (sound under schema history mixing).
    */
  final case class ColRange(kind: String, min: String, max: String) {
    /** Whether a "long" range may hold a value in [lo, hi] (inclusive);
      * a range of another kind always may.
      */
    def overlapsLong(lo: Long, hi: Long): Boolean =
      kind != "long" || (max.toLong >= lo && min.toLong <= hi)
    /** [[overlapsLong]] for a "string" range. Strings have a least value,
      * "", but no greatest, so only `hi` may be unbounded (None).
      */
    def overlapsString(lo: String, hi: Option[String]): Boolean =
      kind != "string" || (utf8Cmp(max, lo) >= 0 && hi.forall(utf8Cmp(min, _) <= 0))
  }

  /** Unsigned lexicographic UTF-8 byte comparison — Spark's UTF8String
    * order (Java's String.compareTo diverges on supplementary planes:
    * UTF-16 surrogates sort below U+E000..U+FFFF, UTF-8 bytes above).
    */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(utf8(a), utf8(b))

  private[graft] def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One file's Bloom-filter entry for one column: the filter geometry
    * plus the sidecar (relative to `_txlog/`) holding the bit words.
    * Geometry rides per-entry so mixed-knob history stays readable.
    */
  final case class BloomRef(mBits: Int, k: Int, sidecar: String)

  /** `dvs` is the merge-on-read tier: per-file DELETION VECTORS, file →
    * sidecar (relative to `_txlog/`) holding the file's deleted row
    * positions. A reader drops (file, position) pairs listed in the
    * sidecars; a file without an entry is read whole. DV'd files keep
    * their stats/Bloom entries as sound OVER-approximations (deleted
    * rows still widen ranges — skipping keeps extra files, never drops
    * rows). [[compact]] folds DVs away (rewrites survivors, publishes
    * with no dv entries).
    */
  /** `sizes` records each data file's byte length in the manifest
    * (round 10): the scan planner ([[TxFileIndex]]) then builds its
    * listing from the manifest ALONE — zero filesystem RPCs at plan
    * time, the Delta-checkpoint refinement the provider's scaladoc
    * promised. Files without a recorded size (pre-round-10 manifests)
    * fall back to one `getFileStatus` each — additive, old manifests
    * stay readable.
    */
  final case class Snapshot(version: Long, op: String, schema: StructType,
      files: Seq[String], epoch: Option[Long] = None,
      stats: Map[String, Map[String, ColRange]] = Map.empty,
      blooms: Map[String, Map[String, BloomRef]] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      sizes: Map[String, Long] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      commitTs: Long = 0L,
      /** Identity of the WRITER STREAM that stamped `epoch` (round 14):
        * N concurrent replicators into one table each carry their own
        * cdc-id sequence, so the exactly-once high-water must be scoped
        * per stream — a table-global max silently dropped any batch
        * whose ids trailed another writer's committed max. Absent on
        * pre-round-14 manifests and on non-streaming commits.
        */
      streamId: Option[String] = None,
      /** The exactly-once LEDGER: writer stream ("" = unscoped) → the
        * highest epoch it has applied. Every commit carries its base's
        * ledger forward (append, overwrite, merge, fold, compact, seed)
        * and folds in its own stamp, so the latest manifest alone holds
        * the full applied state — vacuum and compaction cannot bury it.
        * Parsing folds the manifest's own `epoch=`/`stream=` stamp in,
        * so a manifest written before `txn=` lines existed reads as the
        * ledger of its own stamp.
        */
      txns: Map[String, Long] = Map.empty) {
    /** The applied high-water `streamId`'s replays skip at or below: a
      * scoped stream honours its own mark and the unscoped one (a
      * resumed single-writer table stamped before stream scoping); an
      * unscoped caller honours every stream's. -1 when nothing applied.
      */
    def appliedEpoch(streamId: Option[String]): Long =
      streamId.fold(txns.values)(s => txns.get(s) ++ txns.get(""))
        .maxOption.getOrElse(-1L)

    /** This snapshot stamped as `epochId` of `stream`, ledger included. */
    private[sources] def stamped(epochId: Option[Long],
        stream: Option[String]): Snapshot =
      copy(epoch = epochId, streamId = stream, txns = epochId.fold(txns) { e =>
        val k = stream.getOrElse("")
        txns.updated(k, math.max(e, txns.getOrElse(k, e)))
      })

    /** The one range test of every file pick: the files whose recorded
      * range for `col` passes `keep`. A file with no recorded range for
      * `col` is KEPT (skipping must never drop data).
      */
    private[sources] def filesWhere(col: String)(keep: ColRange => Boolean): Seq[String] =
      files.filter(f => stats.get(f).flatMap(_.get(col)).forall(keep))

    /** Files whose [min, max] for `col` overlaps the LONG range [lo, hi]
      * — files with no recorded stats (or stats of another kind) are
      * KEPT (skipping must never drop data).
      */
    def filesOverlapping(col: String, lo: Long, hi: Long): Seq[String] =
      filesWhere(col)(_.overlapsLong(lo, hi))

    /** [[filesOverlapping]] for a STRING-keyed range, UTF-8 byte order. */
    def filesOverlappingString(col: String, lo: String, hi: String): Seq[String] =
      filesWhere(col)(_.overlapsString(lo, Some(hi)))
  }

  /** The applied high-water of `streamId` at `dir` ([[Snapshot.appliedEpoch]]
    * of the latest manifest — one listing and one parse), -1 for an
    * empty or absent table. The exactly-once ledger every streamed
    * writer gates its replays on.
    */
  def appliedEpoch(dir: String, streamId: Option[String]): Long =
    latest(dir).fold(-1L)(_.appliedEpoch(streamId))

  private def b64enc(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def b64dec(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  private def logDir(dir: String): Path = Paths.get(dir, "_txlog")

  private def manifestPath(dir: String, v: Long): Path =
    logDir(dir).resolve(s"v$v.manifest")

  /** All committed versions, ascending; empty for a non-table dir. */
  def versions(dir: String): Seq[Long] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) return Seq.empty
    val it = Files.list(ld)
    try it.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong
      }
      .toSeq.sorted
    finally it.close()
  }

  /** Parse one version's manifest. Unknown line kinds are ignored —
    * newer writers may add fields old readers skip.
    */
  def snapshot(dir: String, version: Long): Snapshot = {
    val lines = Files.readAllLines(manifestPath(dir, version)).asScala
    def field(k: String): String = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=") }
      .getOrElse(throw new IllegalStateException(
        s"manifest v$version at $dir is missing '$k='"))
    val stats = lines
      .collect { case l if l.startsWith("stats=") => l.stripPrefix("stats=") }
      .map { s =>
        // typed:  <file>|<col>|<kind>|<b64min>|<b64max>
        // legacy: <file>|<col>|<minLong>|<maxLong>
        // (file paths and col names contain no '|'; values are base64
        // so no repr can collide with the delimiter or a newline)
        // limit -1 keeps trailing empty fields: b64enc("") is "", so a
        // string column whose only values are "" writes `...|string||`
        // and the default split would truncate it to 3 fields
        val p = s.split("\\|", -1)
        val range =
          if (p.length >= 5) ColRange(p(2), b64dec(p(3)), b64dec(p(4)))
          else ColRange("long", p(2), p(3))
        (p(0), p(1), range)
      }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
      .toMap
    val blooms = lines
      .collect { case l if l.startsWith("bloom=") => l.stripPrefix("bloom=") }
      .map { s =>
        // <file>|<col>|<mBits>|<k>|<sidecarRel>
        val p = s.split("\\|", -1)
        (p(0), p(1), BloomRef(p(2).toInt, p(3).toInt, p(4)))
      }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
      .toMap
    val dvs = lines
      .collect { case l if l.startsWith("dv=") => l.stripPrefix("dv=") }
      .map { s =>
        // <file>|<sidecarRel> (sidecar holds the positions; the manifest
        // stays O(files) lines however many rows are deleted)
        val p = s.split("\\|", -1)
        p(0) -> p(1)
      }.toMap
    val sizes = lines
      .collect { case l if l.startsWith("fsize=") => l.stripPrefix("fsize=") }
      .map { s =>
        val p = s.split("\\|", -1)
        p(0) -> p(1).toLong
      }.toMap
    val rowCounts = lines
      .collect { case l if l.startsWith("nrows=") => l.stripPrefix("nrows=") }
      .map { s =>
        val p = s.split("\\|", -1)
        p(0) -> p(1).toLong
      }.toMap
    // <stream>|<epoch>: the epoch is the LAST field, so the split is on
    // the last '|' (the unscoped stream is the empty string)
    val txns = lines
      .collect { case l if l.startsWith("txn=") => l.stripPrefix("txn=") }
      .map { s =>
        val i = s.lastIndexOf('|')
        s.substring(0, i) -> s.substring(i + 1).toLong
      }.toMap
    Snapshot(version, field("op"),
      DataType.fromJson(field("schema")).asInstanceOf[StructType],
      lines.collect { case l if l.startsWith("file=") => l.stripPrefix("file=") }
        .toSeq,
      None, stats, blooms, dvs, sizes, rowCounts,
      // commit wall-clock (epoch millis, round 11): 0 on older manifests
      // — readers must treat 0 as "unknown", not 1970
      lines.collectFirst { case l if l.startsWith("ts=") =>
        l.stripPrefix("ts=").toLong }.getOrElse(0L),
      txns = txns)
      .stamped(
        lines.collectFirst { case l if l.startsWith("epoch=") =>
          l.stripPrefix("epoch=").toLong },
        lines.collectFirst { case l if l.startsWith("stream=") =>
          l.stripPrefix("stream=") })
  }

  /** Latest snapshot, or None for an empty/absent table. */
  def latest(dir: String): Option[Snapshot] =
    versions(dir).lastOption.map(snapshot(dir, _))

  /** The snapshot at `version`, or the latest; an empty table is an error. */
  private def pinned(dir: String, version: Option[Long]): Snapshot =
    version.map(snapshot(dir, _)).orElse(latest(dir))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $dir"))

  /** Read the table at `version` (time travel) or at the latest version.
    * The read is pinned to one manifest: a concurrent commit cannot
    * change the file set mid-query, and each version reads under its
    * own schema. A `WHERE` over it skips files exactly as one over
    * `format("txtable")` does.
    */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val snap = pinned(dir, version)
    readSubset(spark, dir, snap, snap.files)
  }

  /** `snap` listing only `files` (file-relative manifest paths, scanned
    * in the given order) and only their deletion vectors.
    */
  private def subset(snap: Snapshot, files: Seq[String]): Snapshot = {
    val keep = files.toSet
    snap.copy(files = files, dvs = snap.dvs.filter { case (f, _) => keep(f) })
  }

  /** The raw scan of `snap`'s files, no deletion vector applied: the
    * `txtable` provider's relation ([[TxTableProvider.relationFor]]) over
    * a [[TxFileIndex]] — the one way a table's data files are read, so
    * every `WHERE` over it skips files by manifest stats and Blooms.
    */
  private def scan(spark: SparkSession, dir: String, snap: Snapshot): DataFrame =
    spark.baseRelationToDataFrame(
      TxTableProvider.relationFor(spark, dir, snap, table = false))

  /** Read a SUBSET of a snapshot's files ([[subset]]) with their
    * deletion vectors applied — every pruned read (stats, Bloom,
    * key-range) and every rewrite's input, so a DV-carrying table keeps
    * file skipping instead of degrading to an O(table) scan between a
    * MoR merge and the next fold, and no rewrite resurrects a deleted
    * row. The DVs are applied here, not by [[TxDvScanRule]], so a session
    * without `graft.expr.GraftExtensions` reads a MoR table correctly.
    */
  private def readSubset(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sub = subset(snap, files)
    val raw = scan(spark, dir, sub)
    dvJoined(spark, dir, sub, raw).fold(raw)(_.select(raw.columns.map(col).toSeq: _*))
  }

  /** Parse one deletion-vector sidecar: fileRel → sorted positions. */
  private def readDvSidecar(dir: String, sidecarRel: String)
      : Map[String, Array[Long]] = {
    val p = logDir(dir).resolve(sidecarRel)
    if (!Files.isRegularFile(p)) return Map.empty
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val parts = l.split("\\|", -1)
      parts(0) -> parts(1).split(',').filter(_.nonEmpty).map(_.toLong)
    }.toMap
  }

  /** All deleted (fileRel → positions) of a snapshot, resolved through
    * its sidecars (each parsed once; entries for files the snapshot no
    * longer lists are ignored).
    */
  private[graft] def dvPositions(dir: String, snap: Snapshot)
      : Map[String, Array[Long]] = {
    if (snap.dvs.isEmpty) return Map.empty
    val sidecars = snap.dvs.values.toSeq.distinct
      .map(s => s -> readDvSidecar(dir, s)).toMap
    snap.dvs.flatMap { case (f, side) =>
      sidecars(side).get(f).map(f -> _)
    }
  }

  /** A snapshot's deletion vectors over a frame read from its files: a
    * broadcast anti-join on (file-relative path, parquet row position)
    * via the `_metadata` columns, WITHOUT a final projection — output =
    * base's columns plus the `__dv_rel`/`__dv_pos` identity columns.
    * None when the snapshot carries no DVs (zero plan overhead on the
    * common path). [[TxDvScanRule]] projects back to the relation's own
    * output attributes (which may include `_metadata`), [[readSubset]]
    * to base's columns.
    *
    * Scale: the DV frame is O(deleted-since-last-compact) rows and
    * rides as a broadcast; the big side gains one codegen'd projection
    * (path suffix + row_index) and one broadcast-hash anti probe per
    * row — never a shuffle. [[compact]] restores the DV-free plan.
    */
  private[graft] def dvJoined(spark: SparkSession, dir: String,
      snap: Snapshot, base: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col, concat_ws, slice, split}
    val dv = dvPositions(dir, snap)
    if (dv.isEmpty) return None
    val pairs = dv.toSeq.flatMap { case (f, ps) => ps.map(p => (f, p)) }
    val dvDf = spark.createDataFrame(pairs).toDF("__dv_rel", "__dv_pos")
    // file-relative suffix data/<uuid>/<part> — the same manifest-keyed
    // identity merge's hit scan uses
    val withId = base
      .withColumn("__dv_rel",
        concat_ws("/", slice(split(col("_metadata.file_path"), "/"), -3, 3)))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    Some(withId.join(broadcast(dvDf), Seq("__dv_rel", "__dv_pos"), "left_anti"))
  }

  /** Commit `df` as a new version. `mode` is "append" or "overwrite".
    * Returns the committed version number.
    *
    * `statsColumns` opts the listed columns (integral, date, timestamp,
    * string) into MANIFEST-LEVEL file skipping: the writer records each
    * new file's min/max per column in the manifest as its rows pass
    * ([[writeData]] — no extra job); [[readPruned]] then
    * prunes whole files before Spark ever opens a footer — the
    * Iceberg/Delta data-skipping tier above parquet's own row-group
    * statistics. Append commits carry the base's stats forward, so
    * skipping survives table growth.
    *
    * `epochId` stamps the manifest for [[commitStreaming]]'s exactly-once
    * contract.
    */
  def commit(df: DataFrame, dir: String, mode: String = "append",
      statsColumns: Seq[String] = Nil, epochId: Option[Long] = None,
      arbiter: CommitArbiter = LocalLinkArbiter,
      bloomColumns: Seq[String] = Nil, bloomBits: Int = DefaultBloomBits,
      bloomK: Int = DefaultBloomK, streamId: Option[String] = None,
      expectVersion: Option[Long] = None): Long = {
    // knob validation BEFORE the batch write — a bad knob must not cost
    // a full data write that then rots as an orphan until vacuum
    require(bloomBits > 0 && bloomBits % 32 == 0,
      s"bloomBits must be a positive multiple of 32, got $bloomBits")
    require(bloomK > 0 && bloomK <= 16, s"bloomK must be in [1, 16], got $bloomK")
    commitLaid(df, dir, mode, layoutFor(statsColumns, bloomColumns, bloomBits, bloomK),
      epochId, streamId, arbiter, expectVersion)
  }

  private def layoutFor(statsColumns: Seq[String], bloomColumns: Seq[String],
      bloomBits: Int = DefaultBloomBits, bloomK: Int = DefaultBloomK)
      : (Seq[String], Map[String, (Int, Int)]) =
    (statsColumns, bloomColumns.map(c => c -> (bloomBits, bloomK)).toMap)

  /** The Bloom geometry a commit records when none is asked for: 8,192
    * bits (1 KiB) per file and column, probed by 5 hashes.
    */
  private[sources] val DefaultBloomBits = 1 << 13
  private[sources] val DefaultBloomK = 5

  /** [[commit]] under a per-column layout ([[layoutOf]]'s shape), and
    * the ONE compose-against-any-base publish loop. `schema` overrides
    * the manifest schema (a replica seed keeps its primary's declared
    * nullability; a file read reports every column nullable). With
    * `exactlyOnce`, every attempt first tests `epochId` against the
    * ledger of the base it would publish on: an applier that lost the
    * CAS to another applier of the same epoch skips instead of
    * re-composing its rows onto the winner's ([[commitStreaming]]).
    */
  private[sources] def commitLaid(df: DataFrame, dir: String, mode: String,
      layout: (Seq[String], Map[String, (Int, Int)]),
      epochId: Option[Long] = None, streamId: Option[String] = None,
      arbiter: CommitArbiter = LocalLinkArbiter,
      expectVersion: Option[Long] = None,
      schema: Option[StructType] = None,
      exactlyOnce: Boolean = false): Long = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append or overwrite, got $mode")
    val written = writeData(df, dir, layout)
    val newSchema = schema.getOrElse(df.schema)
    // 2 + 3. compose against the CURRENT latest and publish; on a lost
    // race, re-read and retry (appends commute; overwrite last-wins)
    @scala.annotation.tailrec
    def attempt(): Long = {
      val base = latest(dir)
      // the winner of a lost race may have applied this very epoch
      val replay = base.filter(b => exactlyOnce &&
        epochId.exists(b.appliedEpoch(streamId) >= _))
      val next = (mode, base) match {
        case ("append", Some(b)) =>
          // deletion vectors carry forward — dropping them would
          // resurrect every row a prior merge-on-read deleted
          compose(b, Set.empty, written, mode)
            .copy(schema = mergedAppendSchema(b.schema, newSchema, dir))
        case _ => compose(cleared(base, newSchema), Set.empty, written, mode)
      }
      // CAS form (round 14): `expectVersion` pins the publish to ONE
      // version — a concurrent writer taking it means the caller's
      // premise (e.g. "the table is still empty") no longer holds, so
      // return -1 instead of silently composing against the new base
      // (the contended-seed race: two first batches both saw an empty
      // table; the retry loop turned the loser into an overwrite of the
      // winner's data). The loser's data dir is an invisible orphan,
      // retired by vacuum like any lost merge race.
      if (replay.isDefined) replayed(dir, replay.get, epochId.get)
      else if (expectVersion.exists(_ != next.version)) -1L
      else if (publishAt(dir, next.stamped(epochId, streamId), arbiter))
        next.version
      else if (expectVersion.isDefined) -1L
      else attempt()
    }
    attempt()
  }

  /** One landed batch: its commit dir, sorted relative files, and each
    * file's manifest entries — what [[compose]] adds to a base.
    */
  private final case class Written(rel: String, files: Seq[String],
      stats: Map[String, Map[String, ColRange]],
      blooms: Map[String, Map[String, BloomRef]],
      sizes: Map[String, Long], rows: Map[String, Long])

  /** The ONE manifest composition every publish builds on: `base` minus
    * the `removed` files plus `w`, at `base.version + 1` under `op`.
    * Files and every per-file map (stats, blooms, dvs, sizes, rows) move
    * together, and the txn ledger carries forward untouched; the
    * epoch stamp is cleared for the caller's [[Snapshot.stamped]].
    */
  private def compose(base: Snapshot, removed: Set[String], w: Written,
      op: String): Snapshot =
    base.copy(version = base.version + 1, op = op,
      files = base.files.filterNot(removed) ++ w.files,
      stats = (base.stats -- removed) ++ w.stats,
      blooms = (base.blooms -- removed) ++ w.blooms,
      dvs = base.dvs -- removed,
      sizes = (base.sizes -- removed) ++ w.sizes,
      rows = (base.rows -- removed) ++ w.rows,
      epoch = None, streamId = None)

  /** An empty table at `base`'s version (-1 when absent) carrying only
    * its ledger — what an overwrite composes against: the data is
    * replaced, the record of what was applied is not.
    */
  private def cleared(base: Option[Snapshot], schema: StructType): Snapshot =
    Snapshot(base.fold(-1L)(_.version), "", schema, Nil,
      txns = base.fold(Map.empty[String, Long])(_.txns))

  /** Land `df`'s parquet files under a fresh invisible commit dir, with
    * each file's manifest entries under `layout` (stats columns, Bloom
    * geometry per column). Step 1 of the commit protocol, factored out
    * so every publish [[compose]]s the same [[Written]] record.
    *
    * ONE write job, and nothing reads the files back: the write goes
    * through [[StatsParquetFileFormat]], whose writer records each
    * file's row count (so [[countRows]] answers COUNT(*) from the
    * manifest alone), its exact min/max per stats column at the column's
    * canonical type ([[statKind]] — a type without a sound ordering repr
    * records no stats, so the file is always read), and its Bloom words
    * per Bloom column, as the rows pass. Spark lands a file for partition
    * 0 even when it is empty; a zero-row file is deleted before the
    * publish and never listed. Byte lengths come from the listing, so the
    * scan planner lists from the manifest alone (zero FS RPCs at plan
    * time).
    *
    * Blooms are the point-lookup sibling of the min/max stats: a range
    * tells you a file COULD contain a key's neighborhood, a Bloom filter
    * that it almost certainly does NOT contain the key itself, which is
    * what skips files on a NON-clustered column where every range
    * overlaps. The bit layout is [[graft.ext.BloomFilter]]'s portable
    * universal-hash scheme over the canonical value STRING (integrals in
    * decimal, strings raw; [[bloomPos]] over [[hash32Of]]), so the driver
    * re-probes it without Spark, and each 32-bit word is stored as a
    * non-negative long. Only integral and string columns ([[bloomable]])
    * get filters — date/timestamp reprs would be ambiguous at lookup
    * time. Words land in ONE sidecar text file per commit under
    * `_txlog/bloom/` (manifests stay O(files) small lines; the sidecar is
    * invisible until the manifest CAS references it). At 100 TB sidecars
    * are O(files × mBits/8) bytes per commit, read lazily per lookup.
    */
  private def writeData(df: DataFrame, dir: String,
      layout: (Seq[String], Map[String, (Int, Int)])): Written = {
    val (statsColumns, bloomSpec) = layout
    def typeOf(c: String) = df.schema.fields.find(_.name == c).map(_.dataType)
    val statsCols = statsColumns.filter(c => typeOf(c).flatMap(statKind).isDefined)
    val bloomCols = bloomSpec.toSeq.sortBy(_._1)
      .filter { case (c, _) => typeOf(c).exists(bloomable) }
    Files.createDirectories(logDir(dir))
    val uuid = java.util.UUID.randomUUID().toString
    val commitRel = s"data/$uuid"
    val recorded = StatsParquetFileFormat.recording(df.sparkSession,
        statsCols, bloomCols) { options =>
      df.write.format(classOf[StatsParquetFileFormat].getName)
        .options(options).save(s"$dir/$commitRel")
    }
    val listed = {
      val it = Files.list(Paths.get(dir, commitRel))
      try it.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .toSeq.sorted
      finally it.close()
    }
    val (empty, kept) = listed.partition(n => recorded.get(n).exists(_.rows == 0L))
    empty.foreach { n =>
      Files.deleteIfExists(Paths.get(dir, commitRel, n))
      Files.deleteIfExists(Paths.get(dir, commitRel, s".$n.crc"))
    }
    val newFiles = kept.map(n => s"$commitRel/$n")
    // a listed file without a record gets no entries: it is always read
    // and counted by a scan — skipping never drops data
    val entries = kept.flatMap(n => recorded.get(n).map(s"$commitRel/$n" -> _))
    val newBlooms =
      if (bloomCols.isEmpty || entries.isEmpty) Map.empty[String, Map[String, BloomRef]]
      else {
        val sidecarRel = s"bloom/$uuid.bloom"
        val sidecarPath = logDir(dir).resolve(sidecarRel)
        Files.createDirectories(sidecarPath.getParent)
        Files.writeString(sidecarPath, bloomCols.flatMap { case (c, _) =>
          entries.map { case (f, w) => s"$f|$c|${w.blooms(c).mkString(",")}" }
        }.mkString("", "\n", "\n"))
        val refs = bloomCols.map { case (c, (mBits, k)) => c -> BloomRef(mBits, k, sidecarRel) }
        entries.map { case (f, _) => f -> refs.toMap }.toMap
      }
    Written(commitRel, newFiles,
      entries.collect { case (f, w) if w.ranges.nonEmpty => f -> w.ranges }.toMap,
      newBlooms,
      newFiles.map(f => f -> Files.size(Paths.get(dir, f))).toMap,
      entries.map { case (f, w) => f -> w.rows }.toMap)
  }

  /** Driver-side twin of [[graft.ext.PortableHash.hash32]] (first 8 md5
    * hex digits as a long) — what lets a point lookup probe manifest
    * Bloom filters without running a Spark job.
    */
  private[graft] def hash32Jvm(s: String): Long =
    hash32Of(java.security.MessageDigest.getInstance("MD5"),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The first 4 md5 digest bytes as an unsigned big-endian value —
    * exactly the 8 leading hex digits [[graft.ext.PortableHash.hash32]]
    * parses, without formatting them.
    */
  private[graft] def hash32Of(md: java.security.MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) |
      (d(3) & 0xffL)
  }

  /** Bit position of `x` (a hash32 reduced mod P) under hash constants
    * `ab` in an mBits filter — shared by the build and the probe.
    */
  private[graft] def bloomPos(x: Long, ab: (Long, Long), mBits: Int): Int =
    (math.floorMod(x * ab._1 + ab._2, graft.ext.PortableHash.P) % mBits).toInt

  /** The k bit positions `repr` probes in an (mBits, k) filter —
    * loop-invariant across files, computed once per lookup per distinct
    * geometry (the md5 and the hash-constant table are NOT re-derived
    * per file).
    */
  private def bloomPositions(mBits: Int, k: Int, repr: String): Array[Int] = {
    val x = math.floorMod(hash32Jvm(repr), graft.ext.PortableHash.P)
    graft.ext.PortableHash.minhashAB(k).map(bloomPos(x, _, mBits)).toArray
  }

  private def bloomMightContain(words: Array[Long], positions: Array[Int])
      : Boolean =
    positions.forall(pos => ((words(pos / 32) >>> (pos % 32)) & 1L) == 1L)

  /** Parse one bloom sidecar: (file, col) -> words. Cached per lookup
    * call, not globally — sidecars are immutable but small, and a
    * lookup touches only the sidecars its snapshot references.
    */
  private def readSidecar(dir: String, sidecarRel: String)
      : Map[(String, String), Array[Long]] = {
    val p = logDir(dir).resolve(sidecarRel)
    if (!Files.isRegularFile(p)) return Map.empty
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val parts = l.split("\\|", -1)
      (parts(0), parts(1)) -> parts(2).split(',').map(_.toLong)
    }.toMap
  }

  /** The Bloom probes of one snapshot column: each sidecar is parsed
    * once, and each key's bit positions once per filter geometry, however
    * many files and keys are probed.
    */
  private final class BloomProbe(dir: String, snap: Snapshot, column: String) {
    private val sidecars = scala.collection.mutable.Map
      .empty[String, Map[(String, String), Array[Long]]]
    private val positions = scala.collection.mutable.Map.empty[(Int, Int, String), Array[Int]]

    /** File `f`'s membership test over canonical reprs, or None when `f`
      * has no usable entry for the column: no entry, a missing sidecar,
      * or a stored word count that disagrees with the recorded geometry.
      */
    def of(f: String): Option[String => Boolean] = for {
      ref <- snap.blooms.get(f).flatMap(_.get(column))
      words <- sidecars.getOrElseUpdate(ref.sidecar, readSidecar(dir, ref.sidecar))
        .get((f, column))
      if words.length == ref.mBits / 32
    } yield (repr: String) => bloomMightContain(words, positions.getOrElseUpdate(
      (ref.mBits, ref.k, repr), bloomPositions(ref.mBits, ref.k, repr)))
  }

  /** Files of `snap` that might contain `repr` in `column` per their
    * Bloom entries; files without a usable entry for the column are KEPT
    * (skipping never drops data).
    */
  private[graft] def filesForPoint(dir: String, snap: Snapshot,
      column: String, repr: String): Seq[String] = {
    val probe = new BloomProbe(dir, snap, column)
    snap.files.filter(f => probe.of(f).forall(_(repr)))
  }

  /** The ONE driver-side file pick for point keys, shared by the point
    * lookups, the `txtable` provider's equality pruning and [[merge]]'s
    * hit pick. `keys` are canonical values of `column` ([[canonicalKey]]:
    * a Long for the "long" stats kind, a String for "string"); nulls
    * match nothing in an equality and are left out by the caller.
    *
    * Per file, the recorded [min, max] is intersected first (a binary
    * search over the sorted keys) and the Bloom probed second, over the
    * keys inside the range only. Returns, each in snapshot order:
    *  - `admitted`: files whose range holds some key that their Bloom
    *    admits. A Bloom false positive only keeps an extra file;
    *  - `unprobed`: files whose range holds some key (or that record no
    *    range of the column's kind) but that carry no usable Bloom entry,
    *    or whose column type has no Bloom kind. Only a scan can tell
    *    whether these hold a key.
    * Every other file holds none of `keys`: skipping never drops data.
    */
  private[graft] def filesForKeys(dir: String, snap: Snapshot, column: String,
      keys: Seq[Any]): (Seq[String], Seq[String]) = {
    val dt = snap.schema.fields.find(_.name == column).map(_.dataType)
    val kind = dt.flatMap(statKind)
    if (keys.isEmpty) return (Nil, Nil)
    if (kind.isEmpty) return (Nil, snap.files)
    val sorted: IndexedSeq[Any] = kind.get match {
      case "long" => keys.map(_.asInstanceOf[Long]).sorted.toIndexedSeq
      case _ => keys.map(_.asInstanceOf[String]).sortWith(utf8Cmp(_, _) < 0).toIndexedSeq
    }
    // compare a sorted key with a recorded bound repr of the same kind
    val cmp: (Any, String) => Int = kind.get match {
      case "long" => (k, b) => java.lang.Long.compare(k.asInstanceOf[Long], b.toLong)
      case _ => (k, b) => utf8Cmp(k.asInstanceOf[String], b)
    }
    // the first index whose key is not below (or, `after`, above) `b`
    def search(b: String, after: Boolean): Int = {
      var (lo, hi) = (0, sorted.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = cmp(sorted(mid), b)
        if (c < 0 || (after && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }
    val probe = new BloomProbe(dir, snap, column)
    val probed = dt.exists(bloomable)
    val admitted = Seq.newBuilder[String]
    val unprobed = Seq.newBuilder[String]
    snap.files.foreach { f =>
      val inRange = snap.stats.get(f).flatMap(_.get(column)) match {
        case Some(r) if kind.contains(r.kind) =>
          sorted.slice(search(r.min, after = false), search(r.max, after = true))
        case _ => sorted
      }
      if (inRange.nonEmpty) (if (probed) probe.of(f) else None) match {
        case Some(admits) => if (inRange.exists(k => admits(k.toString))) admitted += f
        case None => unprobed += f
      }
    }
    (admitted.result(), unprobed.result())
  }

  /** A key value in the canonical domain of its column's [[statKind]]
    * (what [[filesForKeys]] takes): integral values and dates (epoch
    * days) and timestamps (epoch micros) as a Long, strings as a String.
    * `v` is the Catalyst internal value of the column's type.
    */
  private def canonicalKey(v: Any): Any = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => other
  }

  /** Point-lookup read over an INTEGRAL column with manifest file
    * skipping: only the files the `txtable` provider's equality pick
    * admits ([[TxPrune.pointFiles]] — the recorded [min, max] holds
    * `value` and the Bloom entry might contain it; files without stats or
    * a Bloom entry are read) are handed to Spark, and the exact equality
    * predicate is applied on top, so the result is EXACTLY
    * `read(...).where(column = value)` with fewer files opened. Ranges
    * skip on a CLUSTERED column; Blooms skip on any other column, where
    * every file's range overlaps.
    */
  def readPointLookupLong(spark: SparkSession, dir: String, column: String,
      value: Long, version: Option[Long] = None): DataFrame = {
    val snap = pinned(dir, version)
    readSubset(spark, dir, snap, TxPrune.pointFiles(dir, snap, column, value))
      .where(functions.col(column) === value)
  }

  /** [[readPointLookupLong]] for a STRING column. */
  def readPointLookupString(spark: SparkSession, dir: String, column: String,
      value: String, version: Option[Long] = None): DataFrame = {
    val snap = pinned(dir, version)
    readSubset(spark, dir, snap, TxPrune.pointFiles(dir, snap, column, value))
      .where(functions.col(column) === value)
  }

  /** Whether [[writeData]] records Blooms for a column type: integral
    * columns and strings only.
    */
  private def bloomable(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** The stats ordering domain for a column type: integral, date
    * (epoch days), and timestamp (epoch micros) canonicalize to "long";
    * strings order by their own UTF-8 bytes. Anything else (double's
    * NaN order, decimal scales, binary, nested) records no stats.
    */
  private[graft] def statKind(dt: DataType): Option[String] = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => Some("long")
    case org.apache.spark.sql.types.DateType => Some("long")
    case _: org.apache.spark.sql.types.TimestampType => Some("long")
    case org.apache.spark.sql.types.StringType => Some("string")
    case _ => None
  }

  /** Canonical ordering expression for [[statKind]]'s domains — exact,
    * total on the column's type (unlike the historical `try_cast(long)`,
    * which nulled out non-numeric values and forced an all-files
    * fallback for string keys).
    */
  private[graft] def statCanonical(c: org.apache.spark.sql.Column, dt: DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{unix_date, unix_micros}
    dt match {
      case org.apache.spark.sql.types.StringType => c
      case org.apache.spark.sql.types.DateType => unix_date(c).cast("long")
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case _ => c.cast("long")
    }
  }

  /** Files of `snap` that can contain any of `keys`' values of
    * `statKey` — ONE 1-row bounds aggregate over the key frame,
    * intersected with the manifest ranges driver-side (O(files)). Typed:
    * the bounds are computed at the snapshot column's own type, so
    * string keys prune exactly like integral ones (the historical
    * `try_cast(long)` version had to keep EVERY file once any key
    * failed the cast). Null keys match nothing in a keyed equi-join and
    * so never constrain the file set; a key type outside [[statKind]]'s
    * domains, or a key frame whose column type differs from the base's
    * (join coercion could match values the cast drops), keeps all files
    * (sound). Used by [[merge]]'s copy-on-write pre-prune and
    * [[changeFeed]]'s append-path base prune.
    *
    * `bounds`, when given, is that aggregate's row — (min, max, count)
    * of `statCanonical(statKey)` over `keys` at the key frame's own type
    * — computed by the caller inside a query it runs anyway ([[merge]]
    * fuses it with the duplicate-key check). The type guards still run;
    * only the job is saved.
    */
  private def pruneByKeyRange(snap: Snapshot, keys: DataFrame,
      statKey: String, bounds: Option[org.apache.spark.sql.Row] = None)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, max, min}
    if (!snap.stats.values.exists(_.contains(statKey))) return snap.files
    val dtOpt = snap.schema.fields.find(_.name == statKey).map(_.dataType)
    // Prune ONLY when the key frame's column is the base column's exact
    // type. A mismatched batch (say STRING keys against a LONG base)
    // equi-joins under Spark's coercion — both sides to double, where
    // '5.0' DOES hit 5 — but cast('5.0' as long) is null, so bounds
    // computed through the cast would miss the file and lose the
    // DELETE/UPDATE. Keeping every file on mismatch restores the
    // round-8 guarantee without the per-row try_cast census.
    val keyDt = keys.schema.fields.find(_.name == statKey).map(_.dataType)
    if (keyDt != dtOpt) return snap.files
    dtOpt.flatMap(statKind) match {
      case None => snap.files // key type has no sound ordering repr
      case Some(kind) =>
        val e = statCanonical(col(statKey), dtOpt.get)
        val b = bounds.getOrElse(keys.agg(min(e), max(e), count(e)).collect()(0))
        if (b.getLong(2) == 0L) Seq.empty // no non-null key touches any file
        else if (kind == "long")
          snap.filesOverlapping(statKey, b.getLong(0), b.getLong(1))
        else
          snap.filesOverlappingString(statKey, b.getString(0), b.getString(1))
    }
  }

  /** Publish `snap` as the manifest of EXACTLY `snap.version` via the
    * arbiter's put-if-absent — exactly the lines [[snapshot]] parses
    * back (`commitTs` aside: the publish stamps its own wall-clock).
    * Returns false if the version was taken by a concurrent writer: the
    * compare-and-swap both publish loops ([[commitLaid]]'s and
    * [[rewriteLoop]]'s) are built on.
    */
  private[graft] def publishAt(dir: String, snap: Snapshot,
      arbiter: CommitArbiter = LocalLinkArbiter): Boolean = {
    // one line per file (per file and column), sorted: `<kind>=<file>|…`
    def perFile[V](kind: String, m: Map[String, V])(repr: V => String) =
      m.toSeq.sortBy(_._1).map { case (f, x) => s"$kind=$f|${repr(x)}" }
    def perCol[V](kind: String, m: Map[String, Map[String, V]])(
        repr: V => String) =
      m.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, x) => s"$kind=$f|$c|${repr(x)}" }
      }
    val content = (Seq(
      s"version=${snap.version}",
      s"op=${snap.op}",
      s"schema=${snap.schema.json}",
      // commit wall-clock: gives the scan planner a real mtime for
      // manifest-synthesized file statuses (ADDITIVE — old readers would
      // ignore an unknown line, old manifests parse to commitTs=0)
      s"ts=${System.currentTimeMillis()}") ++
      snap.epoch.map("epoch=" + _).toSeq ++
      // additive: old readers ignore unknown lines; scopes the epoch
      // stamp to its writer stream
      snap.streamId.map(s => s"stream=$s").toSeq ++
      snap.files.map(f => s"file=$f") ++
      perCol("stats", snap.stats)(r =>
        s"${r.kind}|${b64enc(r.min)}|${b64enc(r.max)}") ++
      perCol("bloom", snap.blooms)(r => s"${r.mBits}|${r.k}|${r.sidecar}") ++
      // NOTE: dv= lines are NOT backward-ignorable — a reader that
      // skipped them would resurrect deleted rows. This engine's readers
      // all parse them; the manifest format carries no version
      // negotiation because there is exactly one reader implementation
      // (unknown-line tolerance remains for ADDITIVE fields like stats)
      perFile("dv", snap.dvs)(identity) ++
      perFile("fsize", snap.sizes)(_.toString) ++
      perFile("nrows", snap.rows)(_.toString) ++
      // additive: the carried exactly-once ledger ([[Snapshot.txns]])
      perFile("txn", snap.txns)(_.toString))
      .mkString("", "\n", "\n")
    arbiter.putIfAbsent(manifestPath(dir, snap.version), content,
      s"${java.util.UUID.randomUUID()}-${snap.version}")
  }

  /** Exactly-once streaming commit: the foreachBatch body for a TxTable
    * sink. The manifest is stamped with the checkpoint's `epochId`, and
    * the table's carried ledger ([[appliedEpoch]], unscoped) is the
    * applied-offset record: a crash-replayed epoch at or below it
    * commits NOTHING, atomically across files, and the record survives
    * vacuum and compaction. The ledger is re-tested inside the publish
    * loop, so of two appliers racing one epoch the CAS loser skips; its
    * data dir, like a crash between the data write and the manifest
    * link, is an invisible orphan retired by [[vacuum]]. Returns the
    * epoch's version: the new one, or on a replay the retained version
    * stamped with it (the latest, which subsumes it, once vacuum has
    * retired that one).
    */
  def commitStreaming(df: DataFrame, dir: String, epochId: Long,
      mode: String = "append", statsColumns: Seq[String] = Nil,
      arbiter: CommitArbiter = LocalLinkArbiter,
      bloomColumns: Seq[String] = Nil): Long =
    // tested once before the data write (a replay writes nothing), and
    // again inside the publish loop against each base it composes on
    latest(dir).filter(_.appliedEpoch(None) >= epochId) match {
      case Some(head) => replayed(dir, head, epochId)
      case None =>
        commitLaid(df, dir, mode, layoutFor(statsColumns, bloomColumns),
          Some(epochId), None, arbiter, exactlyOnce = true)
    }

  /** Replayed epochs [[commitStreaming]] skipped in this JVM. */
  private[graft] val skippedCommitCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A skipped replay of `epochId`: the retained version stamped with it,
    * or `head` (which subsumes it) once vacuum has retired that one.
    */
  private def replayed(dir: String, head: Snapshot, epochId: Long): Long = {
    skippedCommitCount.incrementAndGet()
    versions(dir).reverseIterator.map(snapshot(dir, _))
      .find(_.epoch.contains(epochId)).fold(head.version)(_.version)
  }

  /** A serving-index commit: stats and a Bloom on each probe column, so
    * an `IN` probe through the `txtable` provider opens only the files
    * that may hold a probed value ([[TxPrune]]); exactly-once under
    * `epoch` ([[commitStreaming]]) when a stream writes it.
    */
  private[graft] def commitIndex(df: DataFrame, dir: String, mode: String,
      probeColumns: Seq[String], epoch: Option[Long]): Long =
    epoch.fold(commit(df, dir, mode, probeColumns, bloomColumns = probeColumns))(e =>
      commitStreaming(df, dir, e, mode, probeColumns, bloomColumns = probeColumns))

  /** A table's physical layout as its rewrites re-establish it: the
    * recorded stats columns, and each Bloom column's geometry. Geometry
    * is a per-commit knob but in practice table-constant; when history
    * mixes knobs the WIDEST filter wins deterministically (max mBits,
    * then max k) — an unordered-map head would let successive rebuilds
    * flip-flop geometry and silently degrade the false-positive rate.
    */
  private[sources] def layoutOf(snap: Snapshot)
      : (Seq[String], Map[String, (Int, Int)]) =
    (snap.stats.values.flatMap(_.keys).toSeq.distinct.sorted,
      snap.blooms.values.flatten.groupBy(_._1)
        .map { case (c, es) => c -> es.map(e => (e._2.mBits, e._2.k)).max })

  /** Read with manifest-level file skipping: only files whose recorded
    * [min, max] for `column` overlaps [lo, hi] are handed to Spark (files
    * without stats are always read — skipping never drops data), and the
    * range predicate is applied on top, so the result is EXACTLY
    * `read(...).where(lo <= column <= hi)` with fewer files opened.
    */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    val snap = pinned(dir, version)
    readSubset(spark, dir, snap, snap.filesOverlapping(column, lo, hi))
      .where(functions.col(column).between(lo, hi))
  }

  /** [[readPruned]] for a STRING column: manifest stats are recorded in
    * UTF-8 byte order — the same order Spark's string comparison uses —
    * so the pruned read is exactly `read(...).where(lo <= column <= hi)`
    * with only the overlapping files opened.
    */
  def readPrunedString(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, version: Option[Long] = None): DataFrame = {
    val snap = pinned(dir, version)
    readSubset(spark, dir, snap, snap.filesOverlappingString(column, lo, hi))
      .where(functions.col(column).between(lo, hi))
  }

  /** COUNT(*) from the MANIFEST alone when possible: Σ per-file `nrows`
    * minus the deletion-vector positions — zero file opens, zero Spark
    * jobs, O(manifest + dv sidecars) driver text (the metadata-only
    * count Delta/Iceberg answer from their logs). Returns None when any
    * listed file lacks a recorded count (pre-round-10 manifests) — the
    * caller falls back to a real scan ([[countRows]]).
    */
  def manifestRowCount(dir: String, version: Option[Long] = None): Option[Long] = {
    val snap = pinned(dir, version)
    if (!snap.files.forall(snap.rows.contains)) None
    else {
      val live = snap.files.map(snap.rows).sum
      val deleted = dvPositions(dir, snap).values.map(_.length.toLong).sum
      Some(live - deleted)
    }
  }

  /** Exact row count: the manifest answer when complete, otherwise one
    * real `count()` over the snapshot.
    */
  def countRows(spark: SparkSession, dir: String,
      version: Option[Long] = None): Long =
    manifestRowCount(dir, version)
      .getOrElse(read(spark, dir, version).count())

  /** The ONE read-modify-write publish loop ([[merge]], [[foldDvs]],
    * [[compactSmallFiles]], [[compact]]). A rewrite is only equivalent
    * to the snapshot it READ, so `derive` builds the next snapshot from
    * the latest one and the publish is a compare-and-swap at exactly
    * base + 1; a lost race re-derives from the new latest (re-publishing
    * against it, as [[commit]]'s loop does, would silently discard the
    * winner's rows). `derive` returns None when there is nothing to do
    * and the loop returns the current version. Losers leave only
    * invisible orphan dirs, retired by [[vacuum]].
    */
  private def rewriteLoop(dir: String, what: String, maxRetries: Int,
      arbiter: CommitArbiter)(derive: Snapshot => Option[Snapshot]): Long = {
    @scala.annotation.tailrec
    def attempt(n: Int): Long = {
      require(n <= maxRetries,
        s"$what at $dir lost $maxRetries publish races; giving up")
      val base = latest(dir).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $dir"))
      derive(base) match {
        case None => base.version
        case Some(next) if publishAt(dir, next, arbiter) => next.version
        case Some(_) => attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Rewrite `files` of `base` — read DV-applied, shaped by `arrange`,
    * written under the base's [[layoutOf]] — as the next snapshot
    * under `op`; every other file carries forward by reference. The
    * shared body of the value-neutral maintenance ops.
    */
  private def rewriteFiles(spark: SparkSession, dir: String, base: Snapshot,
      files: Seq[String], op: String)(
      arrange: DataFrame => DataFrame = identity): Snapshot = {
    compose(base, files.toSet, writeData(
      arrange(readSubset(spark, dir, base, files)), dir, layoutOf(base)), op)
  }

  /** Fold deletion vectors WITHOUT a full compaction: rewrite ONLY the
    * dv-carrying files minus their deleted rows; every clean file (and
    * its stats/Bloom entries) carries forward by reference. Cost is
    * O(dv'd-file bytes) — the bounded maintenance step a streaming
    * merge-on-read target runs on a cadence ([[graft.streaming.CdcStream
    * .startTxTable]] `foldEvery`), where a FULL [[compact]] would
    * rewrite the whole table each time.
    *
    * `minDeletedFraction` is the auto-compaction POLICY: above 0, only
    * files whose deleted fraction (DV positions / manifest row count)
    * exceeds it fold; lightly-deleted files keep their DVs. A long-running
    * merge-on-read table accretes DV sidecars unevenly — hot files (a
    * reloaded partition, a churned key range) cross the threshold and
    * fold, cold files (one late delete in a 10 GB file) don't pay an
    * O(file) rewrite for an O(1) DV. A file without a recorded row count
    * cannot be evaluated and folds conservatively (policy must converge,
    * and folding is always value-neutral). At 0 every dv-carrying file
    * folds. Value-neutral (reads before ≡ after), CAS-published at
    * base+1 with op "fold". Returns the folded version, or the current
    * version when no file qualifies.
    */
  def foldDvs(spark: SparkSession, dir: String,
      minDeletedFraction: Double = 0.0, maxRetries: Int = 10,
      arbiter: CommitArbiter = LocalLinkArbiter): Long = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction < 1.0,
      s"minDeletedFraction must be in [0, 1), got $minDeletedFraction")
    rewriteLoop(dir, "foldDvs", maxRetries, arbiter) { base =>
      lazy val dvPos = dvPositions(dir, base)
      def crosses(f: String): Boolean = minDeletedFraction == 0.0 || {
        val del = dvPos.get(f).map(_.length.toLong).getOrElse(0L)
        base.rows.get(f) match {
          case Some(n) if n > 0 => del.toDouble / n > minDeletedFraction
          case _ => true // unknown denominator: fold conservatively
        }
      }
      val hot = base.files.filter(f => base.dvs.contains(f) && crosses(f))
      // cold files KEEP their DVs ([[compose]] drops only the hot ones')
      if (hot.isEmpty) None
      else Some(rewriteFiles(spark, dir, base, hot, "fold")())
    }
  }

  /** INCREMENTAL small-file compaction: bin-pack only the files below
    * `minBytes` into `targetFiles` rewritten files; every file already
    * at a healthy size carries forward by reference. This is the
    * maintenance form that scales — a streaming merge-on-read target
    * accretes one small upsert file per epoch, and the full [[compact]]
    * would pay an O(table) rewrite to clean up O(epochs-worth) of
    * small files. Cost here is O(small-file bytes). Small files that
    * carry deletion vectors fold them in the rewrite (their dv entries
    * retire with the files); large dv'd files keep their DVs —
    * [[foldDvs]] is the targeted cure there. Value-neutral,
    * CAS-published at base+1. Returns the committed version (the
    * current one when fewer than 2 files qualify — rewriting a single
    * small file buys nothing).
    */
  def compactSmallFiles(spark: SparkSession, dir: String, minBytes: Long,
      targetFiles: Int = 1, maxRetries: Int = 10,
      arbiter: CommitArbiter = LocalLinkArbiter): Long = {
    require(minBytes > 0 && targetFiles > 0,
      s"minBytes and targetFiles must be positive, got $minBytes/$targetFiles")
    rewriteLoop(dir, "compactSmallFiles", maxRetries, arbiter) { base =>
      val small = base.files.filter(f =>
        base.sizes.getOrElse(f, Files.size(Paths.get(dir, f))) < minBytes)
      // <= targetFiles (not just < 2): packing k files into k buckets is
      // version churn, not progress — and since the packed OUTPUT may
      // itself still be under minBytes, a k→k "pack" would make repeated
      // maintenance calls commit forever (round-11 storm-spec finding:
      // that churn starved every concurrent writer's CAS window)
      if (small.size <= math.max(targetFiles, 1) || small.size < 2) None
      else Some(rewriteFiles(spark, dir, base, small, "compact-small")(
        _.repartition(targetFiles)))
    }
  }

  /** Rewrite the latest snapshot into `targetFiles` files — the
    * small-files compaction every append-heavy table eventually needs.
    * Data is unchanged (one read + one overwrite commit); stats columns
    * carry over so skipping survives compaction. Returns the new version.
    *
    * `clusterBy` additionally CLUSTERS the rewrite (the OPTIMIZE ZORDER
    * tier): one column range-sorts, 2-4 columns interleave through
    * [[graft.ext.Layout.zOrderKey]] (each normalized onto a 16-bit lane —
    * locality, not reversibility). Clustered files get tight disjoint-ish min/max
    * ranges on the cluster columns, which is what turns manifest stats
    * from "never drops data" into "actually skips most files":
    * [[readPruned]] on a clustered column opens O(matching) files
    * instead of all of them. Cluster columns join the recorded stats
    * columns automatically.
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int,
      clusterBy: Seq[String] = Nil, maxRetries: Int = 10,
      arbiter: CommitArbiter = LocalLinkArbiter): Long = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(clusterBy.size <= 4,
      s"clusterBy supports at most 4 columns (16 bits per dim in a 64-bit " +
        s"Z-key; see graft.ext.Layout.zOrderKey), got ${clusterBy.size}")
    rewriteLoop(dir, "compact", maxRetries, arbiter) { base =>
      val arranged = compactArrange(spark, dir, base, targetFiles, clusterBy)
      val (statsCols, bloomSpec) = layoutOf(base)
      val written = writeData(arranged, dir,
        ((statsCols ++ clusterBy).distinct.sorted, bloomSpec))
      Some(compose(cleared(Some(base), arranged.schema), Set.empty, written,
        "overwrite"))
    }
  }

  /** The compaction layout for one pinned snapshot: plain repartition,
    * range-cluster, or 2-D z-order. Factored from [[compact]] so the
    * CAS retry loop re-derives the layout from each new base.
    */
  private def compactArrange(spark: SparkSession, dir: String, snap: Snapshot,
      targetFiles: Int, clusterBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val data = read(spark, dir, Some(snap.version))
    clusterBy match {
      case Nil => data.repartition(targetFiles)
      case Seq(c) =>
        data.repartitionByRange(targetFiles, col(c)).sortWithinPartitions(col(c))
      case dims @ Seq(_, _, _*) =>
        // normalize each NUMERIC dimension onto the full 16-bit lane
        // from its OBSERVED bounds — a raw `pmod(col, 65536)` folds any
        // domain wider than 2^16 (k, k+65536, ... collide), silently
        // destroying the skipping the clustering exists to create.
        // STRING dimensions lane on their first two UTF-8 bytes (the
        // same order the typed manifest stats record), which clusters
        // lexicographic prefixes — locality, not reversibility, exactly
        // like the numeric lanes.
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val isString: Map[String, Boolean] = dims.map(c =>
          c -> snap.schema.fields.find(_.name == c)
            .exists(_.dataType == org.apache.spark.sql.types.StringType)).toMap
        // the raw lane value: numeric dims as themselves, string dims as
        // their two-byte prefix — BOTH then normalized from observed
        // bounds (a string lane's raw span is a narrow band of the
        // 16-bit space — e.g. all-lowercase keys span ~6k of 65536 with
        // constant top bits, which would let the other dims dominate
        // every interleave level)
        def rawLane(c: String): org.apache.spark.sql.Column =
          if (isString(c)) stringLane16(col(c)) else col(c).try_cast("long")
        val bd = data.agg(
          dims.flatMap(c => Seq(fmin(rawLane(c)), fmax(rawLane(c)))).head,
          dims.flatMap(c => Seq(fmin(rawLane(c)), fmax(rawLane(c)))).tail: _*)
          .collect()(0)
        def lane(c: String, lo: Int): org.apache.spark.sql.Column =
          if (bd.isNullAt(lo) || bd.getLong(lo) == bd.getLong(lo + 1)) lit(0L)
          else graft.ext.Layout.normalize16(rawLane(c), bd.getLong(lo), bd.getLong(lo + 1))
        val lanes = dims.zipWithIndex.map { case (c, i) => lane(c, 2 * i) }
        data.withColumn("__z", graft.ext.Layout.zOrderKey(lanes))
          .repartitionByRange(targetFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
    }
  }

  /** 16-bit z-order lane for a STRING column: the first two UTF-8 bytes
    * as `b0·256 + b1` (missing bytes read as 0, so shorter strings with
    * the same prefix lane together and below their extensions — the
    * UTF-8 byte order the typed stats use). Null → lane 0.
    */
  private def stringLane16(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, conv, encode, hex, lit, rpad, substring}
    coalesce(
      conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 2)), 4, "0"), 16, 10)
        .cast("long"),
      lit(0L))
  }

  /** Row-level change feed between two committed versions — the
    * Delta/Iceberg change-data-feed tier, closing the loop for a CDC
    * engine: the transactional TARGET can itself be a change SOURCE for
    * downstream replicas. One row per changed key with `change_type` in
    * insert/update/delete; insert/update rows carry the `to`-version
    * image, delete rows the `from`-version image; keys whose full row is
    * byte-identical in both versions emit nothing.
    *
    * Requires `keyCols` to be unique within each version (the invariant
    * [[merge]] maintains); under duplicate keys a row-level diff is
    * ill-defined and the keyed join would multiply.
    *
    * ==Scale shape==
    * If `from`'s file set is a subset of `to`'s (pure appends between the
    * versions), deletes are impossible and only rows in the ADDED files
    * can differ: the feed reads the manifest-diff delta — O(changed
    * data), not O(table) — and joins it against the base on keys (the
    * delta side is batch-sized; Spark/AQE picks the broadcast build).
    * Otherwise (an overwrite/merge rewrote files) the general path is one
    * full-outer key-shuffle join of the two snapshots — the unavoidable
    * lower bound when any file may have been rewritten, and still a
    * single co-partitioned shuffle, no N². Schema evolution is honored:
    * the output schema is the union (columns absent in a version read as
    * null there, and count toward the difference test).
    */
  def changeFeed(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    val (joined, dataCols) = feedJoin(spark, dir, fromVersion, toVersion, keyCols)
    joined.select(keyCols.map(col) ++ dataCols.map { c =>
      // delete rows carry the pre-image; insert/update the post-image
      when(col("change_type") === "delete", col(s"__o_$c"))
        .otherwise(col(s"__n_$c")).as(c)
    } :+ col("change_type"): _*)
  }

  /** [[changeFeed]] in the CDC-log image shape: one row per changed key
    * with `old_data` / `new_data` STRUCT columns (null when the side
    * does not exist — no old image on insert, no new image on delete;
    * an update carries BOTH, the retraction/assertion pair incremental
    * view maintenance needs). This is the bridge from the table format
    * to [[graft.apply.IncrementalAgg]]: a stored `groupBy` view is
    * maintained from `changeFeedImages` deltas alone — O(changes +
    * groups) per refresh, never O(table) — and the result is EXACTLY
    * (decimal arithmetic) the recompute on the target version.
    */
  def changeFeedImages(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, when}
    val (joined, dataCols) = feedJoin(spark, dir, fromVersion, toVersion, keyCols)
    def img(prefix: String) = struct(
      keyCols.map(col) ++ dataCols.map(c => col(s"$prefix$c").as(c)): _*)
    joined.select(keyCols.map(col) ++ Seq(
      when(col("change_type") =!= "insert", img("__o_")).as("old_data"),
      when(col("change_type") =!= "delete", img("__n_")).as("new_data"),
      col("change_type")): _*)
  }

  /** Shared internals of [[changeFeed]]/[[changeFeedImages]]: the keyed
    * diff join with per-side image columns (`__o_*` / `__n_*`) and the
    * `change_type` classification, no-op rows already dropped.
    * Returns (joined frame, data column names).
    */
  private def feedJoin(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keyCols.nonEmpty, "changeFeed needs at least one key column")
    require(fromVersion != toVersion, "changeFeed needs two distinct versions")
    val fromSnap = snapshot(dir, fromVersion)
    val toSnap = snapshot(dir, toVersion)
    // union output schema: to-version order first (the current shape),
    // then any from-only columns
    val toNames = toSnap.schema.fieldNames.toSeq
    val fromOnly = fromSnap.schema.fields.filterNot(f => toNames.contains(f.name))
    val outFields = toSnap.schema.fields ++ fromOnly
    val dataCols = outFields.map(_.name).filterNot(keyCols.contains)
    def widen(df: DataFrame, own: StructType): DataFrame =
      df.select(outFields.map { f =>
        if (own.fieldNames.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    // pure append = every from-file survives AND the deletion-vector map
    // is unchanged: a merge-on-read merge keeps every file (its deletes
    // live in a NEW dv sidecar), so the file-subset test alone would
    // misclassify it as delete-free and the fast path would drop its
    // updates/deletes from the feed
    val appendOnly = fromSnap.files.toSet.subsetOf(toSnap.files.toSet) &&
      fromSnap.dvs == toSnap.dvs
    val newSide =
      if (appendOnly) {
        val added = toSnap.files.filterNot(fromSnap.files.toSet)
        if (added.isEmpty) {
          // no delta files -> an empty feed with the full join shape
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(outFields))
          val o0 = empty.select(
            keyCols.map(col) ++ dataCols.map(c => col(c).as(s"__o_$c")) ++
              dataCols.map(c => col(c).as(s"__n_$c")) :+
              lit(null).cast("string").as("change_type"): _*)
          return (o0, dataCols.toSeq)
        }
        widen(readSubset(spark, dir, toSnap, added), toSnap.schema)
      } else widen(read(spark, dir, Some(toVersion)), toSnap.schema)
    // append path: the base is consulted only for keys the delta
    // carries, so manifest stats (when recorded for the first key)
    // prune base FILES to those overlapping the delta's key range —
    // the same skipping tier [[merge]] uses for its hit scan
    val oldBase =
      if (appendOnly && fromSnap.stats.values.exists(_.contains(keyCols.head)))
        readSubset(spark, dir, fromSnap,
          pruneByKeyRange(fromSnap, newSide, keyCols.head))
      else read(spark, dir, Some(fromVersion))
    val oldSide = widen(oldBase, fromSnap.schema)
    val o = oldSide.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"__o_$c")) :+
        lit(true).as("__in_o"): _*)
    val n = newSide.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"__n_$c")) :+
        lit(true).as("__in_n"): _*)
    // append-only: added rows joined against the base (no deletes);
    // general: full outer of the two snapshots
    val joined =
      if (appendOnly) n.join(o, keyCols, "left_outer")
      else o.join(n, keyCols, "full_outer")
    val differs = dataCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val classified = joined
      .withColumn("change_type",
        when(col("__in_o").isNull, lit("insert"))
          .when(col("__in_n").isNull, lit("delete"))
          .when(differs, lit("update"))
          .otherwise(lit(null)))
      .filter(col("change_type").isNotNull)
    (classified, dataCols.toSeq)
  }

  /** Serializable copy-on-write MERGE: apply one deduplicated CDC batch
    * (`operation` column in INSERT/UPDATE/DELETE, the
    * [[graft.apply.ChangeApplier]] op vocabulary; INSERT and UPDATE both
    * upsert the new image — `INSERT OR REPLACE`, reference:
    * cdc_system.py:327) as ONE atomic new version. Requires at most one
    * change row per key (run `ChangeApplier.dedupToLatest` first).
    *
    * ==A small change set is merged from the driver==
    * The change set is read once, at most [[DriverMergeCap]] + 1 rows of
    * it in one action. When it fits under the cap, the duplicate-key
    * check and a column stamp's epoch are loops over the collected rows,
    * the hit files are picked on the driver, and the change set goes back
    * to Spark as a local relation (no conversion job). The only other
    * query is the data write. A trickle trigger's fixed cost is query
    * planning, not task time, so two queries instead of four is what
    * moves its freshness. A larger change set is checkpointed and takes
    * the distributed path below; it pays one extra bounded read.
    *
    * ==Copy-on-write file selection (the Delta MERGE shape)==
    * Only files that can contain a touched key are rewritten:
    *  1. driver pick ([[filesForKeys]] over the first key's touched
    *     values): a file whose recorded [min, max] holds a touched key
    *     that its Bloom admits is a hit. A Bloom false positive only
    *     rewrites a file into the same rows. A large change set prunes
    *     by the touched keys' global [min, max] instead (one aggregate);
    *  2. exact hit scan, only for candidates the pick cannot decide (no
    *     stats or no Bloom entry): read with a KEY-ONLY projection +
    *     `input_file_name`, semi-joined to the touched keys; each task
    *     returns its distinct file names and the driver unions them
    *     (O(tasks × files) driver rows, no shuffle).
    * Hit files are rewritten minus touched keys, surviving upsert images
    * are appended, and every untouched file carries forward by REFERENCE
    * (its manifest entry and stats, zero data movement) — at 100 TB a
    * batch touching 0.1% of keys rewrites ~0.1% of files, not the table.
    *
    * ==Merge-on-read (`writeMode = "mor"`)==
    * For HIGH-CHURN targets even O(hit files) rewriting amplifies: a
    * 100-row batch scattered over 100 files rewrites 100 files under
    * CoW. MoR instead records the touched rows as per-file DELETION
    * VECTORS (parquet row positions via `_metadata.row_index`, one
    * immutable sidecar per commit under `_txlog/dv/`) and lands only the
    * upsert images as new files — write cost O(changes), the
    * Delta/Iceberg deletion-vector answer. The positions come from a
    * row-index scan of the picked files, semi-joined to the touched keys.
    * Every read applies the DVs
    * (a broadcast anti-join on (file, position), [[dvJoined]]); reads pay
    * one probe per row until [[compact]] rewrites survivors and folds
    * the DVs away, restoring the bare file-scan plan (and the maximal
    * [[TxTableProvider]] relation). Results are IDENTICAL to the CoW
    * merge — `tx_merge_mor` hash-checks that on the oracle board —
    * only the write/read cost trade moves.
    *
    * ==Serializability==
    * The read-modify-write is valid only against the base version it
    * read, so the publish is a compare-and-swap at `base + 1`
    * ([[rewriteLoop]]); a lost race re-reads the new latest and
    * re-derives the whole merge (bounded by `maxRetries`). Losers leave
    * only invisible orphan dirs, retired by [[vacuum]]. A stamped merge
    * (`epochId`, `streamId`) records its epoch in the carried ledger.
    *
    * Returns the committed version.
    */
  def merge(spark: SparkSession, dir: String, changes: DataFrame,
      keyCols: Seq[String], opCol: String = "operation",
      maxRetries: Int = 10, epochId: Option[Long] = None,
      arbiter: CommitArbiter = LocalLinkArbiter,
      writeMode: String = "cow", streamId: Option[String] = None): Long =
    mergeStamped(spark, dir, changes, keyCols, opCol, maxRetries,
      Left(epochId), arbiter, writeMode, streamId, (_, _) => ())

  /** The most change rows [[merge]] handles on the driver. A collected
    * row is a few hundred bytes of driver heap, and the driver hit pick
    * is a binary search per file plus a Bloom probe per key in range, so
    * 4,096 rows cost a few MB and milliseconds. The cap sits above the
    * ~2,700 keys a 5,000-change Zipf backlog batch deduplicates to (the
    * `cdc_replica` benchmark's), so backlog batches take the driver path
    * along with every trickle trigger; a bulk load does not.
    */
  private val DriverMergeCap = 4096

  /** [[merge]] whose stamp is `Left(epochId)` or, for a streamed apply,
    * `Right(epochCol)`: the epoch is then the max of that column over the
    * change set, computed from the rows the merge reads anyway (no extra
    * job), and the exactly-once check `epoch <= appliedEpoch(streamId)`
    * runs inside the CAS loop, against the very base the publish lands
    * on — so two appliers replaying one batch commit it once, and the
    * loser of the race re-derives into a skip. A column-stamped merge of
    * an empty change set, or of a replay, commits nothing and returns
    * -1; a replay also calls `onReplay(epoch, mark)`. Change sets of at
    * most `cap` rows take the driver path (tests lower it to reach the
    * distributed one).
    */
  private[graft] def mergeStamped(spark: SparkSession, dir: String,
      changes: DataFrame, keyCols: Seq[String], opCol: String, maxRetries: Int,
      stamp: Either[Option[Long], String], arbiter: CommitArbiter,
      writeMode: String, streamId: Option[String],
      onReplay: (Long, Long) => Unit, cap: Int = DriverMergeCap): Long = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    import org.apache.spark.sql.{Encoders, Row}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(writeMode == "cow" || writeMode == "mor",
      s"writeMode must be cow or mor, got $writeMode")
    // key types must match the table's exactly, or widen losslessly
    // (byte→short→int→long). Anything else — say STRING '5.0' against a
    // LONG key — is rejected LOUDLY: under ANSI the join's implicit cast
    // throws mid-scan on malformed values, and under a lenient cast the
    // typed stats prune and the join could disagree on which rows match,
    // silently dropping DELETEs. The caller casts explicitly or not at all.
    val keySchema = latest(dir).getOrElse(throw new IllegalArgumentException(
      s"no committed version at $dir to merge into")).schema
    val widening = {
      import org.apache.spark.sql.types._
      Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    }
    keyCols.foreach { k =>
      val bt = keySchema(k).dataType
      val ct = changes.schema(k).dataType
      require(bt == ct ||
          (widening.contains(ct) && widening.contains(bt) &&
            widening.indexOf(ct) <= widening.indexOf(bt)),
        s"merge key '$k' is $ct in the change batch but $bt in the table " +
          s"at $dir — cast the batch key explicitly")
    }
    def keyCast(df: DataFrame): DataFrame = df.select(df.columns.map { c =>
      if (keyCols.contains(c)) col(c).cast(keySchema(c).dataType).as(c)
      else col(c)
    }.toSeq: _*)
    val dupMessage = s"merge requires one change row per key (${keyCols.mkString(",")}); " +
      "run ChangeApplier.dedupToLatest first"
    val k0Dt = keySchema(keyCols.head).dataType
    // the one read of a small change set: at most cap + 1 rows, one action
    val cast = keyCast(changes)
    val head = cast.take(cap + 1)
    // what every CAS attempt derives from: the change set (key-cast), its
    // stamp, and the pick of (admitted, unprobed) candidate files per base
    val (ch, epochId, pick) = if (head.length <= cap) {
      // ==Driver path== a plain loop over the rows, no job: duplicate
      // keys (nulls group together, as groupBy groups them), the stamp,
      // and the first key's canonical touched values
      val schema = cast.schema
      if (stamp.isRight && head.isEmpty) return -1L
      val keyIdx = keyCols.map(schema.fieldIndex)
      val seen = new java.util.HashSet[Seq[Any]]()
      require(head.forall(r => seen.add(keyIdx.map(i => groupingKey(r.get(i))))), dupMessage)
      val epochId = stamp.fold(identity, c => {
        val i = schema.fieldIndex(c)
        val epochs = head.collect { case r if !r.isNullAt(i) => r.getLong(i) }
        require(epochs.nonEmpty, s"merge stamp column '$c' is null on every change row")
        Some(epochs.max)
      })
      val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(k0Dt)
      val keys = head.collect { case r if !r.isNullAt(keyIdx.head) =>
        canonicalKey(toCatalyst(r.get(keyIdx.head)))
      }.toSeq
      // a local relation, built with no job; one partition, so the
      // upserts land in one file as a coalesced change-set shuffle's do
      val local = spark.createDataFrame(head.toSeq.asJava, schema).coalesce(1)
      (local, epochId, (base: Snapshot) =>
        // a base whose key type has since changed may match by coercion
        // what the typed pick would miss: every file goes to the scan
        if (base.schema.fields.find(_.name == keyCols.head).map(_.dataType)
            .contains(k0Dt)) filesForKeys(dir, base, keyCols.head, keys)
        else (Seq.empty[String], base.files))
    } else {
      // ==Distributed path== materialize the batch once: every stage
      // below (dup check, bounds, hit scan, rewrite) and every CAS retry
      // re-derives from it, and a nondeterministic input re-evaluated per
      // stage could pass the dup check on one evaluation and disagree on
      // the next
      val ch = keyCast(changes.localCheckpoint(true))
      // ONE action for the dup check, the stats-prune bounds and a column
      // stamp's epoch: per-key row counts (and max epoch), then a 1-row
      // aggregate of the largest count, the first key's canonical (min,
      // max, non-null count) — the bounds [[pruneByKeyRange]] would
      // otherwise pay its own job for — and the max epoch. groupBy (not
      // count_distinct) keeps NULL key groups in play — count_distinct
      // would skip them and miss a duplicate null-keyed pair.
      val boundAggs = statKind(k0Dt).toSeq.flatMap { _ =>
        val e = statCanonical(col(keyCols.head), k0Dt)
        Seq(min(e), max(e), count(e))
      }
      val keyStats = ch.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"), stamp.toSeq.map(c => max(col(c)).as("__e")): _*)
        .agg(max(col("__n")), boundAggs ++ stamp.toSeq.map(_ => max(col("__e"))): _*)
        .collect()(0)
      // max(__n) is null exactly when the change set is empty
      if (stamp.isRight && keyStats.isNullAt(0)) return -1L
      require(keyStats.isNullAt(0) || keyStats.getLong(0) <= 1L, dupMessage)
      val touchedBounds =
        if (boundAggs.isEmpty) None
        else Some(Row(keyStats.get(1), keyStats.get(2), keyStats.get(3)))
      val epochId = stamp.fold(identity, c => {
        require(!keyStats.isNullAt(keyStats.length - 1),
          s"merge stamp column '$c' is null on every change row")
        Some(keyStats.getLong(keyStats.length - 1))
      })
      // the stats pre-prune on the first key's global touched range,
      // typed at the key column's own type ([[pruneByKeyRange]]; its
      // type guards re-check the keys against each base's schema)
      (ch, epochId, (base: Snapshot) => (Seq.empty[String],
        pruneByKeyRange(base, ch.select(keyCols.map(col): _*), keyCols.head,
          touchedBounds)))
    }
    // no distinct(): the check above proved every key unique, so the hit
    // scans' semi joins and the rewrite's anti join see each key once
    // without paying a shuffle to re-prove it
    val touched = ch.select(keyCols.map(col): _*)
    // the merge against one base, re-derived on every lost race
    def derive(base: Snapshot): Snapshot = {
      // cast to the base schema: the manifest's schema is the table
      // contract, and a batch with (say) STRING ids must not smuggle
      // string-typed files into a LONG-keyed table — the next read
      // would fail against the declared schema
      val upserts = ch.filter(col(opCol).isin("INSERT", "UPDATE"))
        .select(base.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      val (admitted, unprobed) = pick(base)
      // the candidates with an exact key-only scan, semi-joined to the
      // touched keys (Spark picks the build side; the touched keys are
      // the small one)
      def scanned(files: Seq[String], cols: Seq[org.apache.spark.sql.Column]) =
        scan(spark, dir, subset(base, files))
          .select(keyCols.map(col) ++ cols: _*)
          .join(touched, keyCols, "left_semi")
      // rebuild stats and Bloom entries for the rewritten files with the
      // table's existing layout, so skipping survives merge churn
      val layout = layoutOf(base)
      val next =
        if (writeMode == "mor") {
          // ==Merge-on-read== write O(changes), defer the rewrite:
          // touched rows become per-file DELETION-VECTOR positions
          // (applied by every read, folded away by [[compact]]); the
          // upsert images land as ordinary new files. A 100-row batch
          // scattered over 100 multi-GB files writes ~100 rows plus a
          // sidecar — not 100 files (the CoW amplification this tier
          // exists to avoid for high-churn streaming targets).
          // already-dv-deleted rows may re-surface here; their positions
          // are already in the base dv map and dedup in the union below
          val candidates = admitted ++ unprobed
          val hits: Array[(String, Long)] =
            if (candidates.isEmpty) Array.empty
            else scanned(candidates, Seq(col("_metadata.file_path").as("__fp"),
                col("_metadata.row_index").as("__pos")))
              .select(col("__fp"), col("__pos")).collect()
              .map(r => (tableRel(r.getString(0)), r.getLong(1)))
          val written = writeData(upserts, dir, layout)
          // compose the FULL dv map (existing positions ∪ new hits) into
          // ONE fresh immutable sidecar — O(deletes-since-compact) text,
          // invisible until the manifest CAS references it
          val mergedDv: Map[String, Array[Long]] =
            (dvPositions(dir, base).toSeq ++
              hits.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq)
              .groupBy(_._1)
              .map { case (f, chunks) =>
                f -> chunks.flatMap(_._2).distinct.sorted.toArray
              }
          val dvs: Map[String, String] =
            if (mergedDv.isEmpty) Map.empty
            else {
              val sidecarRel = s"dv/${written.rel.stripPrefix("data/")}.dv"
              val p = logDir(dir).resolve(sidecarRel)
              Files.createDirectories(p.getParent)
              Files.writeString(p, mergedDv.toSeq.sortBy(_._1)
                .map { case (f, ps) => s"$f|${ps.mkString(",")}" }
                .mkString("", "\n", "\n"))
              mergedDv.keys.map(_ -> sidecarRel).toMap
            }
          compose(base, Set.empty, written, "merge").copy(dvs = dvs)
        } else {
          // ==Copy-on-write== (the read-optimal default)
          // the admitted files are hits; the unprobed ones are scanned.
          // Each scan task returns its own distinct file names — a task
          // reads a handful of files, so this is O(tasks × files) driver
          // strings with no shuffle — and the driver de-duplicates.
          val scannedHits: Seq[String] =
            if (unprobed.isEmpty) Seq.empty
            else scanned(unprobed, Seq(input_file_name().as("__f")))
              .select(col("__f")).as(Encoders.STRING)
              .mapPartitions((it: Iterator[String]) => it.toSet.iterator)(
                Encoders.STRING)
              .collect().toSeq
              .map(tableRel)
          val hitFiles = (admitted ++ scannedHits).distinct.sorted
          // rewrite only the hit files; untouched files carry forward.
          // The rewrite read is DV-APPLIED: carrying a dv-deleted row
          // into the rewritten file would RESURRECT it (the rewritten
          // file has no dv entry).
          val rewritten =
            if (hitFiles.isEmpty) upserts
            else readSubset(spark, dir, base, hitFiles)
              .join(touched, keyCols, "left_anti")
              .unionByName(upserts)
          compose(base, hitFiles.toSet, writeData(rewritten, dir, layout),
            "merge")
        }
      next.stamped(epochId, streamId)
    }
    // a column stamp at or below the ledger of the base the CAS would
    // land on is a replay: derive nothing, publish nothing
    var replayedAt: Option[Long] = None
    val version = rewriteLoop(dir, "merge", maxRetries, arbiter) { base =>
      replayedAt = Some(base.appliedEpoch(streamId))
        .filter(mark => stamp.isRight && epochId.exists(_ <= mark))
      if (replayedAt.isDefined) None else Some(derive(base))
    }
    replayedAt.fold(version) { mark => onReplay(epochId.get, mark); -1L }
  }

  /** A key value as `groupBy` groups it: floating zeros and NaNs
    * normalized, binary by content. Everything else compares by value.
    */
  private def groupingKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0d)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** A scanned file's absolute URI as its table-relative manifest entry
    * `data/<uuid>/<part>`, percent-decoded first so it string-matches the
    * manifest (a mismatched merge hit would carry the file forward AND
    * append its rewrite — duplicating every row).
    */
  private def tableRel(raw: String): String = {
    val f = try new java.net.URI(raw).getPath catch { case _: Exception => raw }
    f.split('/').takeRight(3).mkString("/")
  }

  /** Catch a replica table up to the primary's latest version by
    * replaying the change feed version-by-version through [[merge]] —
    * the pull-based replication loop a downstream cluster runs on a
    * schedule (each call is one "micro-batch"; calling it in a
    * foreachBatch/timer loop IS the streaming form).
    *
    * Exactly-once without a checkpoint store: each applied primary
    * version commits on the replica with `epochId = primaryVersion`, and
    * versions apply in order, so the replica's carried ledger
    * ([[appliedEpoch]]) is the applied offset — a crash-replayed sync
    * skips every version at or below it, and replica vacuum or compaction
    * cannot lose it ([[commitStreaming]]'s idempotence argument, applied
    * to replication). The replica must not be written by anyone else.
    *
    * Scale: each step ships O(changed keys) through the feed (delta
    * files only for appends) and rewrites O(hit files) via the
    * copy-on-write merge — a quiet primary costs nothing, a busy one
    * costs its churn, never its size. Returns the number of primary
    * versions applied this call.
    */
  def syncReplica(spark: SparkSession, primaryDir: String, replicaDir: String,
      keyCols: Seq[String]): Int = {
    val primaryVs = versions(primaryDir)
    require(primaryVs.nonEmpty, s"primary at $primaryDir has no committed version")
    val applied = appliedEpoch(replicaDir, None)
    // a vacuum may run on the primary WHILE this sync iterates: any
    // version (or its diff base) listed above can vanish mid-loop. A
    // missing-file failure is then expected, not exceptional — if the
    // version itself survives, re-seed it wholesale; if it was vacuumed,
    // skip it (the primary's latest version always survives vacuum and
    // subsumes it)
    def isFileMissing(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: java.nio.file.NoSuchFileException => true
        case _: java.io.FileNotFoundException => true
        case t => t.getMessage != null && t.getMessage.contains("PATH_NOT_FOUND")
      }
    var n = 0
    def applyVersion(v: Long): Unit = {
      if (latest(replicaDir).isEmpty) {
        // bootstrap: the first unseen version seeds the replica wholesale
        require(commitLaid(read(spark, primaryDir, Some(v)), replicaDir,
          "overwrite", (keyCols, Map.empty), epochId = Some(v),
          expectVersion = Some(0L),
          schema = Some(snapshot(primaryDir, v).schema)) == 0L,
          s"replica at $replicaDir was concurrently initialized")
      } else if (!primaryVs.contains(v - 1) || {
          def shape(t: StructType) = t.fields.map(f => (f.name, f.dataType)).toSeq
          shape(snapshot(primaryDir, v).schema) !=
            shape(latest(replicaDir).get.schema)
        }) {
        // the diff base was vacuumed away on the primary, or the schema
        // evolved (merge preserves the replica's schema, so evolution
        // cannot ride the feed): full re-seed of this version's state
        // (still epoch-stamped, still idempotent)
        commit(read(spark, primaryDir, Some(v)), replicaDir, "overwrite",
          statsColumns = keyCols, epochId = Some(v))
      } else {
        import org.apache.spark.sql.functions.{col, when}
        val feed = changeFeed(spark, primaryDir, v - 1, v, keyCols)
          .withColumn("operation",
            when(col("change_type") === "delete", "DELETE")
              .when(col("change_type") === "insert", "INSERT")
              .otherwise("UPDATE"))
          .drop("change_type")
        merge(spark, replicaDir, feed, keyCols, epochId = Some(v))
      }
      n += 1
    }
    primaryVs.filter(_ > applied).foreach { v =>
      try applyVersion(v)
      catch {
        case e: Throwable if isFileMissing(e) =>
          if (versions(primaryDir).contains(v)) {
            commit(read(spark, primaryDir, Some(v)), replicaDir, "overwrite",
              statsColumns = keyCols, epochId = Some(v))
            n += 1
          }
      }
    }
    n
  }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * tier: one row per retained version with its operation, file count,
    * schema width, epoch stamp (streaming/replication commits), and
    * whether the schema changed relative to the previous retained
    * version. Driver-side O(versions) manifest parses, no data read —
    * the audit surface an operator checks before time travel or vacuum.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snaps = versions(dir).map(snapshot(dir, _))
    snaps.zip(None +: snaps.map(Some(_)))
      .map { case (s0, prev) =>
        (s0.version, s0.op, s0.files.size.toLong,
          s0.schema.fields.length, s0.epoch,
          prev.exists(p => p.schema.fields.map(f => (f.name, f.dataType)).toSeq
            != s0.schema.fields.map(f => (f.name, f.dataType)).toSeq),
          // manifest-answered live row count (null when a version's
          // counts are incomplete — pre-round-10 manifests)
          manifestRowCount(dir, Some(s0.version)))
      }
      .toDF("version", "op", "n_files", "n_columns", "epoch",
        "schema_changed", "n_rows")
  }

  /** Append-mode schema rule: additive only. Every existing column must
    * survive with its type; new columns must be nullable-representable
    * (old files surface them as null).
    */
  private def mergedAppendSchema(
      base: StructType, incoming: StructType, dir: String): StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    base.fields.foreach { f =>
      inByName.get(f.name) match {
        case Some(g) if g.dataType == f.dataType => ()
        case Some(g) => throw new IllegalArgumentException(
          s"append to $dir retypes column '${f.name}': ${f.dataType.simpleString}" +
            s" -> ${g.dataType.simpleString}; use overwrite to replace the table")
        case None => throw new IllegalArgumentException(
          s"append to $dir drops column '${f.name}'; use overwrite to replace" +
            " the table")
      }
    }
    val baseNames = base.fieldNames.toSet
    StructType(base.fields ++
      incoming.fields.filterNot(f => baseNames(f.name)).map(_.copy(nullable = true)))
  }

  /** Retire history: keep the newest `keepVersions` manifests, delete
    * older ones plus every data file no retained manifest references.
    * Never touches the latest version; safe against readers of retained
    * versions (their manifests and files survive).
    *
    * Also retires ORPHANS — commit dirs referenced by NO manifest at all
    * (a writer that crashed between the data write and the manifest
    * link; invisible to readers, but they accumulate). `orphanGraceMs`
    * spares commit dirs younger than the grace window, so an IN-FLIGHT
    * commit's files are never swept from under it (Delta's vacuum
    * retention argument).
    */
  def vacuum(dir: String, keepVersions: Int = 1,
      orphanGraceMs: Long = 3600000L): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val vs = versions(dir)
    if (vs.isEmpty) return
    val (expired, retained) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val referenced = retained.flatMap(v => snapshot(dir, v).files).toSet
    val doomed = expired.flatMap(v => snapshot(dir, v).files).toSet -- referenced
    doomed.foreach { f =>
      val p = Paths.get(dir, f)
      Files.deleteIfExists(p)
      // the committer's hidden checksum sibling dies with its file — a
      // .part-*.crc kept alive by nothing is retention litter that also
      // blocks the dir removal below
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      // drop the commit dir once only job-marker litter remains
      // (_SUCCESS + its .crc carry no data and reference nothing; a dir
      // holding ONLY those is as dead as an empty one — without this,
      // every expired commit dir survives vacuum forever as crumbs)
      val parent = p.getParent
      val it = Files.list(parent)
      val leftovers = try it.iterator().asScala.toList finally it.close()
      val ancillary = leftovers.forall { q =>
        val n = q.getFileName.toString
        n == "_SUCCESS" || n == "._SUCCESS.crc"
      }
      if (ancillary) {
        leftovers.foreach(Files.deleteIfExists(_))
        Files.deleteIfExists(parent)
      }
    }
    expired.foreach(v => Files.deleteIfExists(manifestPath(dir, v)))
    // orphan sweep: data/<uuid> dirs no surviving manifest references
    val dataRoot = Paths.get(dir, "data")
    if (Files.isDirectory(dataRoot)) {
      val live = versions(dir).flatMap(v => snapshot(dir, v).files)
        .map(f => f.split('/')(1)).toSet
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      val it = Files.list(dataRoot)
      val candidates =
        try it.iterator().asScala.filter(Files.isDirectory(_)).toList
        finally it.close()
      candidates
        .filterNot(d => live(d.getFileName.toString))
        .filter(d => Files.getLastModifiedTime(d).toMillis < cutoff)
        .foreach { d =>
          // recursive, deepest-first: a writer that crashed mid
          // df.write.parquet leaves a nested _temporary/ subtree, which
          // a flat delete would trip over; and one undeletable orphan
          // must not abort the rest of retention
          try {
            val walk = Files.walk(d)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.deleteIfExists(_))
            finally walk.close()
          } catch { case _: java.io.IOException => () }
        }
    }
    // Bloom sidecars no surviving manifest references (same grace
    // period as the data-dir sweep — a concurrent commit's sidecar is
    // written BEFORE its manifest becomes visible)
    val bloomRoot = logDir(dir).resolve("bloom")
    if (Files.isDirectory(bloomRoot)) {
      val liveSidecars = versions(dir).flatMap(v =>
        snapshot(dir, v).blooms.values.flatMap(_.values.map(_.sidecar))).toSet
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      val it = Files.list(bloomRoot)
      val stale =
        try it.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally it.close()
      stale
        .filterNot(p => liveSidecars(s"bloom/${p.getFileName}"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach(p => try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
    // deletion-vector sidecars: same live-set + grace-window sweep (a
    // concurrent merge's sidecar is written BEFORE its manifest CAS)
    val dvRoot = logDir(dir).resolve("dv")
    if (Files.isDirectory(dvRoot)) {
      val liveDvs = versions(dir).flatMap(v =>
        snapshot(dir, v).dvs.values).toSet
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      val it = Files.list(dvRoot)
      val stale =
        try it.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally it.close()
      stale
        .filterNot(p => liveDvs(s"dv/${p.getFileName}"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach(p => try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }
}
